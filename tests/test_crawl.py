"""End-to-end crawl: Spark BSP pipeline vs the single-threaded Python
oracle (FIXTURES.md §8 golden_crawl).

North-rule invariants checked:
  * identical crawl ordering — per round, per host, the FIFO-ordered list
    of scheduled URLs matches the oracle exactly
  * identical URL-seen set and fetched set (round, url, type, hop)
  * per-row content invariant — decoded pixels exact (png) / PSNR>=40dB
    (lossy stub) + caption byte-equality vs the deterministic generator
  * resumability — kill after round k, recover, finish: identical state
  * every commit of a round runs on the calling thread, in a fixed order,
    before the round marker
  * bloom tier + salting change nothing end-to-end

One full t1 crawl is shared across assertions (they're read-only); the
resume and bloom runs use a smaller corpus to keep the suite fast.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from zeno_spark import fixtures
from zeno_spark.catalog import SnapshotTable
from zeno_spark.config import CrawlConfig
from zeno_spark.fixtures import build_metadata, caption_for
from zeno_spark.functions.images import decode_image, generate_pixels, psnr
from zeno_spark.functions.urls import fnv1a64
from zeno_spark.oracle import crawl_oracle
from zeno_spark.plans.crawl import CrawlJob

# payload_dedupe_min_size=64: the synthetic images are 16-64 px, so the
# reference's 1024-byte threshold would exempt most of them; 64 keeps
# the D8 path exercised end-to-end (the threshold itself is covered by
# test_payload_revisit_threshold)
CFG = CrawlConfig(max_hops=3, per_host_budget=8, max_rounds=20, compact_every=4,
                  payload_dedupe_min_size=64)
SMALL_CFG = CrawlConfig(max_hops=2, per_host_budget=8, max_rounds=12, compact_every=3,
                        payload_dedupe_min_size=64)


def _mk_corpus(spark, n_pages, n_hosts):
    pages_meta, links, seeds = build_metadata(n_pages=n_pages, n_hosts=n_hosts, seed=42)
    dfs = {
        "pages": fixtures.attach_payloads(spark, pages_meta).cache(),
        "links": spark.createDataFrame(links),
        "seeds": spark.createDataFrame(seeds),
    }
    dfs["pages"].count()
    return {"meta": (pages_meta, links, seeds), "dfs": dfs}


@pytest.fixture(scope="module")
def corpus(spark):
    return _mk_corpus(spark, 200, 10)


@pytest.fixture(scope="module")
def small_corpus(spark):
    return _mk_corpus(spark, 70, 6)


@pytest.fixture(scope="module")
def oracle_result(corpus):
    pages_meta, links, seeds = corpus["meta"]
    return crawl_oracle(pages_meta, links, list(seeds["url"]), CFG, max_rounds=CFG.max_rounds)


@pytest.fixture(scope="module")
def small_oracle(small_corpus):
    pages_meta, links, seeds = small_corpus["meta"]
    return crawl_oracle(
        pages_meta, links, list(seeds["url"]), SMALL_CFG, max_rounds=SMALL_CFG.max_rounds
    )


@contextmanager
def _recording_commits(job, log):
    """Append (table name or "marker", ran on the main thread) to `log`
    after every table append/rewrite and every marker write `job` makes."""
    def record(obj, attr, name):
        fn = getattr(obj, attr)

        def logged(*a, **kw):
            out = fn(*a, **kw)
            log.append((name, threading.current_thread() is threading.main_thread()))
            return out

        setattr(obj, attr, logged)

    tables = [t for t in vars(job).values() if isinstance(t, SnapshotTable)]
    for tbl in tables:
        record(tbl, "append", tbl.name)
        record(tbl, "rewrite", tbl.name)
    record(job, "_write_marker", "marker")
    try:
        yield
    finally:
        for tbl in tables:
            del tbl.append, tbl.rewrite
        del job._write_marker


@pytest.fixture(scope="module")
def commit_log():
    return []


@pytest.fixture(scope="module")
def full_run(spark, corpus, tmp_path_factory, commit_log):
    wh = tmp_path_factory.mktemp("wh_full")
    job = CrawlJob(spark, str(wh), corpus["dfs"]["pages"], corpus["dfs"]["links"], CFG)
    with _recording_commits(job, commit_log):
        stats = job.run(seeds=corpus["dfs"]["seeds"], max_rounds=CFG.max_rounds)
    return job, stats


def _state(job):
    seen = {r.url for r in job.seen.read().select("url").collect()}
    fetched = {
        (r.round, r.url, r.type, r.hop)
        for r in job.fetched.read().select("round", "url", "type", "hop").collect()
    }
    return seen, fetched


def test_crawl_matches_oracle(full_run, oracle_result):
    job, stats = full_run
    orc = oracle_result
    seen, fetched = _state(job)
    assert fetched == set(orc.fetched)
    assert seen == orc.seen
    per_round = {s.round: s.scheduled for s in stats if s.scheduled > 0}
    for rnd, sched in enumerate(orc.schedule):
        n = sum(len(v) for v in sched.values())
        if n:
            assert per_round.get(rnd) == n, f"round {rnd}"
    assert len([s for s in stats if s.scheduled > 0]) == len(
        [r for r in orc.schedule if r]
    )


def test_fetched_content_invariant(full_run):
    """input_hint per-row invariant over every fetched image row
    (revisit rows carry no payload by D8 design — checked separately)."""
    job, _ = full_run
    rows = (
        job.fetched.read()
        .filter(F.col("image_id").isNotNull() & ~F.col("revisit"))
        .select("image_id", "bytes", "w", "h", "fmt", "caption", "phash")
        .collect()
    )
    assert rows, "crawl fetched no image rows"
    for r in rows:
        px_ref = generate_pixels(fnv1a64(r.image_id) & 0xFFFFFFFF, r.w, r.h)
        decoded = decode_image(bytes(r.bytes), r.fmt)
        if r.fmt == "png":
            assert (decoded == px_ref).all()
        else:
            assert psnr(px_ref, decoded) >= 40.0
        assert r.caption == caption_for(r.image_id)


def test_metrics_lineage(full_run):
    job, stats = full_run
    agg = {
        r.round: r.s
        for r in job.metrics.read()
        .groupBy("round")
        .agg(F.sum("scheduled").alias("s"))
        .collect()
    }
    for s in stats:
        if s.scheduled:
            assert agg[s.round] == s.scheduled


def test_round_commits_run_in_order_on_the_main_thread(full_run, commit_log):
    """Seed commits frontier then seen; each round commits fetched <
    seen < frontier < claimed < metrics, all on the calling thread,
    and nothing commits after the last marker."""
    _, stats = full_run
    assert commit_log and all(main for _, main in commit_log), commit_log
    segments, cur = [], []
    for name, _ in commit_log:
        if name == "marker":
            segments.append(cur)
            cur = []
        else:
            cur.append(name)
    assert cur == []
    seed, rounds = segments[0], segments[1:]
    assert seed == ["frontier", "seen"]
    assert len(rounds) == len(stats)
    order = ("fetched", "seen", "frontier", "claimed", "metrics")
    for r, names in enumerate(rounds):
        first = [names.index(t) for t in order]
        assert first == sorted(first), f"round {r}: {names}"


def test_crawl_ordering_matches_oracle(spark, small_corpus, small_oracle, tmp_path):
    """Within-host FIFO order, round by round, vs the oracle."""
    from pyspark.sql import Window

    from zeno_spark.operators.admission import apply_admission
    from zeno_spark.operators.schedule import politeness_schedule, schedulable

    job = CrawlJob(
        spark, str(tmp_path / "wh_ord"), small_corpus["dfs"]["pages"],
        small_corpus["dfs"]["links"], SMALL_CFG,
    )
    job.seed(small_corpus["dfs"]["seeds"])
    orc = small_oracle
    for rnd in range(min(5, orc.rounds)):
        pending = job.pending_frontier()
        gated = apply_admission(schedulable(pending, rnd), SMALL_CFG)
        sched = politeness_schedule(gated, SMALL_CFG)
        w = Window.partitionBy("host").orderBy(
            F.col("enqueue_seq").asc(), F.col("url_hash").asc()
        )
        got: dict[str, list[str]] = {}
        for r in (
            sched.withColumn("rk", F.row_number().over(w)).orderBy("host", "rk").collect()
        ):
            got.setdefault(r.host, []).append(r.url)
        want = orc.schedule[rnd] if rnd < len(orc.schedule) else {}
        assert got == want, f"round {rnd} schedule mismatch"
        job.run_round(rnd)


def test_resume_from_checkpoint(spark, small_corpus, small_oracle, tmp_path,
                                monkeypatch):
    """O12: run 2 rounds, crash round 2 at its claimed commit, add more
    partial commits, re-open, finish — identical final state; the
    partial commits roll back."""
    wh = tmp_path / "wh_res"
    job = CrawlJob(
        spark, str(wh), small_corpus["dfs"]["pages"], small_corpus["dfs"]["links"], SMALL_CFG
    )
    job.seed(small_corpus["dfs"]["seeds"])
    for rnd in range(2):
        job.run_round(rnd)
    before = job._versions()

    def crash(df):
        raise RuntimeError("crash at the claimed commit")

    monkeypatch.setattr(job.claimed, "append", crash)
    persistent = spark.sparkContext._jsc.getPersistentRDDs().size()
    with pytest.raises(RuntimeError, match="claimed commit"):
        job.run_round(2)
    # the failed round released every intermediate it cached
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == persistent
    after = job._versions()
    # fetched, seen and frontier committed for round 2; nothing after
    # the failed claimed append did, and no round marker was written
    for t in ("fetched", "seen", "frontier"):
        assert after[t] > before[t], t
    for t in ("claimed", "metrics"):
        assert after[t] == before[t], t
    assert job.last_committed_round() == 1
    # more partial table commits by hand, still no round marker
    job.fetched.append(job.fetched.read().limit(3))
    job.seen.append(
        spark.createDataFrame([(1, "http://junk/", "seed", 3)], job.seen.schema)
    )

    job2 = CrawlJob(
        spark, str(wh), small_corpus["dfs"]["pages"], small_corpus["dfs"]["links"], SMALL_CFG
    )
    stats = job2.run(max_rounds=SMALL_CFG.max_rounds)
    assert stats[0].round == 2  # resumed exactly after the last marker
    seen, fetched = _state(job2)
    assert seen == small_oracle.seen
    assert fetched == set(small_oracle.fetched)


def test_budgets_state_rolls_back_with_the_round(spark, small_corpus, tmp_path):
    """The AIMD budget state is round-marker scoped like every other
    table: a budget rewrite that lands AFTER the last committed marker
    (a crash between _update_budgets and _commit_round) is rolled back
    by recover(), so the re-run round folds from the pre-crash state
    and cannot diverge from the replay oracle."""
    from zeno_spark import schemas
    from zeno_spark.config import CrawlConfig

    cfg = CrawlConfig(
        max_hops=2, per_host_budget=8, max_rounds=4,
        adaptive_politeness=True,
    )
    wh = tmp_path / "wh_bud"
    job = CrawlJob(
        spark, str(wh), small_corpus["dfs"]["pages"],
        small_corpus["dfs"]["links"], cfg,
    )
    job.seed(small_corpus["dfs"]["seeds"])
    job.run_round(0)
    job.run_round(1)
    committed = {
        (r.host, r.budget, r.last_round)
        for r in job.budgets_tbl.read().collect()
    }
    # crash after round 2's budget fold committed but before its marker
    job.budgets_tbl.rewrite(
        spark.createDataFrame(
            [("crashed.example", 1, 1.0, 2)], schemas.BUDGETS
        )
    )
    job2 = CrawlJob(
        spark, str(wh), small_corpus["dfs"]["pages"],
        small_corpus["dfs"]["links"], cfg,
    )
    assert job2.recover() == 2
    assert {
        (r.host, r.budget, r.last_round)
        for r in job2.budgets_tbl.read().collect()
    } == committed


def test_bloom_and_salt_change_nothing(spark, small_corpus, small_oracle, tmp_path):
    cfg = CrawlConfig(
        max_hops=2, per_host_budget=8, max_rounds=12, compact_every=3,
        bloom_prefilter=True, host_salt_buckets=4,
    )
    job = CrawlJob(
        spark, str(tmp_path / "wh_bloom"), small_corpus["dfs"]["pages"],
        small_corpus["dfs"]["links"], cfg,
    )
    job.run(seeds=small_corpus["dfs"]["seeds"], max_rounds=cfg.max_rounds)
    seen, fetched = _state(job)
    assert seen == small_oracle.seen
    assert fetched == set(small_oracle.fetched)


def test_effective_robots_unions_static_cache_without_sitemaps(
    spark, tmp_path
):
    """A user-supplied robots cache may lack the `sitemaps` column; the
    gate input still unions it with the live-fetched table."""
    from pyspark.sql import Row

    from zeno_spark import schemas as S

    static = spark.createDataFrame(
        [("a.example", ["/private/"], None)],
        "host string, disallow_prefixes array<string>, crawl_delay double",
    )
    job = CrawlJob(spark, str(tmp_path / "wh"), None, None, SMALL_CFG,
                   robots=static)
    job.robots_tbl.append(spark.createDataFrame(
        [Row(host="b.example", disallow_prefixes=[], crawl_delay=None,
             sitemaps=["http://b.example/sitemap.xml"])],
        schema=S.ROBOTS,
    ))
    hosts = sorted(r.host for r in job._effective_robots().collect())
    assert hosts == ["a.example", "b.example"]


def test_admission_host_and_string_options_match_oracle(spark):
    """F2-F4 (included_hosts, exclude_strings, include_strings) keep
    exactly the rows the oracle's admission rule keeps."""
    from zeno_spark.operators.admission import apply_admission
    from zeno_spark.oracle import _admitted

    cfg = CrawlConfig(
        included_hosts=("a.example", "b.example"),
        exclude_strings=("/private/", "?sid="),
        include_strings=("/img/", "/page"),
    )
    rows = [
        ("http://a.example/img/1.png", "a.example"),
        ("http://a.example/page/2", "a.example"),
        ("http://a.example/private/img/3.png", "a.example"),  # F3
        ("http://c.example/img/4.png", "c.example"),          # F2
        ("http://b.example/about", "b.example"),              # F4
        ("https://b.example/page?sid=9", "b.example"),        # F3
        ("ftp://a.example/img/5.png", "a.example"),           # F5
        ("https://b.example/img/6.jpg", "b.example"),
    ]
    df = spark.createDataFrame(rows, "url string, host string")
    got = sorted(r.url for r in apply_admission(df, cfg).collect())
    want = sorted(u for u, h in rows if _admitted(u, h, cfg))
    assert got == want == [
        "http://a.example/img/1.png",
        "http://a.example/page/2",
        "https://b.example/img/6.jpg",
    ]


def test_fetched_file_count_bounded_over_long_crawl(
    spark, small_corpus, small_oracle, tmp_path
):
    """The fetched table's manifest-level binpack (r3 verdict next-round
    #4): with compaction on, the live file count of `fetched` stays
    bounded over a long crawl instead of growing one batch per round,
    and the table's CONTENT is bit-identical to an uncompacted run
    (payload rows pass through the narrow merge unchanged; write-sized
    files would be re-referenced, not rewritten — unit-proven in
    test_catalog.py)."""
    runs = {}
    counts = {}
    for name, trigger in (("compacted", 2), ("plain", 10_000)):
        cfg = CrawlConfig(
            max_hops=2, per_host_budget=8, max_rounds=12, compact_every=3,
            payload_dedupe_min_size=64, compact_file_trigger=trigger,
        )
        job = CrawlJob(
            spark, str(tmp_path / f"wh_bp_{name}"),
            small_corpus["dfs"]["pages"], small_corpus["dfs"]["links"], cfg,
        )
        job.run(seeds=small_corpus["dfs"]["seeds"], max_rounds=cfg.max_rounds)
        runs[name] = sorted(
            (r.url, r.round, r.status, r.payload_digest, bool(r.revisit))
            for r in job.fetched.read().collect()
        )
        counts[name] = job.fetched.file_count()
    assert runs["compacted"] == runs["plain"]
    assert counts["compacted"] < counts["plain"]
    # bounded: ~compact_every rounds of fresh appends + the merged tail,
    # not one file-batch per round for the life of the crawl
    assert counts["compacted"] <= 8


def test_payload_revisits_match_oracle(full_run, oracle_result):
    """D8: the sink's revisit rows (identical payload >= threshold seen
    before, in-table or earlier in batch) match the oracle exactly, and
    every revisit row carries digest + metadata but no bytes."""
    job, _ = full_run
    rows = job.fetched.read().filter(F.col("revisit")).collect()
    got = {(r.round, r.url) for r in rows}
    assert got == oracle_result.revisits
    assert got, "corpus produced no payload duplicates to revisit"
    for r in rows:
        assert r.bytes is None
        assert r.payload_digest is not None
        assert r.caption is not None  # metadata survives the dedupe


def test_payload_revisit_threshold(spark, tmp_path):
    """Payloads under payload_dedupe_min_size are exempt, mirroring the
    reference's 1024-byte WARC dedupe threshold (cmd/get.go:80-82)."""
    from zeno_spark.operators.fetch import mark_payload_revisits

    big = bytearray(b"x" * 2000)
    small = bytearray(b"y" * 10)
    rows = [
        ("http://a/1", 1, "a", big, 100),
        ("http://a/2", 2, "a", big, 200),     # dup of big -> revisit
        ("http://a/3", 3, "a", small, 300),
        ("http://a/4", 4, "a", small, 400),   # dup but under threshold
    ]
    ok = spark.createDataFrame(
        rows, "url string, url_hash long, host string, bytes binary, enqueue_seq long"
    )
    prior = spark.createDataFrame([], "payload_digest string")
    out = {r.url: r for r in mark_payload_revisits(ok, prior, 1024).collect()}
    assert not out["http://a/1"].revisit and out["http://a/1"].bytes is not None
    assert out["http://a/2"].revisit and out["http://a/2"].bytes is None
    assert out["http://a/2"].payload_digest == out["http://a/1"].payload_digest
    assert not out["http://a/3"].revisit and not out["http://a/4"].revisit
    assert out["http://a/3"].payload_digest is None  # under threshold: no digest

    # cross-round: a digest already in the sink marks new rows revisit
    prior2 = spark.createDataFrame(
        [(out["http://a/1"].payload_digest,)], "payload_digest string"
    )
    out2 = {r.url: r for r in mark_payload_revisits(ok, prior2, 1024).collect()}
    assert out2["http://a/1"].revisit and out2["http://a/2"].revisit


def test_o8_time_limit_soft_and_hard(spark, small_corpus, small_oracle, tmp_path):
    """O8 (crawl/crawl.go:60-68): soft limit stops scheduling new
    rounds; hard limit (1.1x) raises after the round's atomic commit."""
    cfg = CrawlConfig(max_hops=2, per_host_budget=8, max_rounds=12,
                      crawl_time_limit_sec=100.0)
    # soft: 35s rounds -> ends at 35/70/105, all under the 110s hard bar;
    # the pre-round check at t=105 >= 100 stops round 4 gracefully
    t = {"now": 0.0}

    def clock():
        return t["now"]

    job = CrawlJob(
        spark, str(tmp_path / "wh_o8a"), small_corpus["dfs"]["pages"],
        small_corpus["dfs"]["links"], cfg, clock=clock,
    )
    job.seed(small_corpus["dfs"]["seeds"])

    real_run_round = job.run_round

    def run_round(r):
        t["now"] += 35.0  # each round "takes" 35s
        return real_run_round(r)

    job.run_round = run_round
    stats = job.run(max_rounds=12)
    assert len(stats) == 3  # soft finish, no TimeoutError

    # hard: a single round that blows past 1.1x raises, but its marker
    # committed (resumable)
    t2 = {"now": 0.0}
    job2 = CrawlJob(
        spark, str(tmp_path / "wh_o8b"), small_corpus["dfs"]["pages"],
        small_corpus["dfs"]["links"], cfg, clock=lambda: t2["now"],
    )
    job2.seed(small_corpus["dfs"]["seeds"])
    real2 = job2.run_round

    def slow_round(r):
        t2["now"] += 200.0
        return real2(r)

    job2.run_round = slow_round
    import pytest as _pytest

    with _pytest.raises(TimeoutError):
        job2.run(max_rounds=12)
    assert job2.last_committed_round() == 0  # round 0 committed before the kill


def test_o7_disk_pause_until_space_frees(spark, small_corpus, tmp_path):
    """O7 (crawl/utils.go:42-57): the driver loop sleeps while free disk
    is under the floor and proceeds once the probe recovers."""
    cfg = CrawlConfig(max_hops=1, per_host_budget=8, max_rounds=2,
                      min_disk_space_bytes=1 << 30,
                      disk_check_interval_sec=0.01)
    free = {"v": 0, "probes": 0}
    sleeps = {"n": 0}

    def disk_free(_path):
        free["probes"] += 1
        return free["v"]

    def fake_sleep(_s):
        sleeps["n"] += 1
        if sleeps["n"] >= 3:
            free["v"] = 2 << 30  # space frees after 3 pause ticks

    job = CrawlJob(
        spark, str(tmp_path / "wh_o7"), small_corpus["dfs"]["pages"],
        small_corpus["dfs"]["links"], cfg, disk_free=disk_free, sleep=fake_sleep,
    )
    stats = job.run(seeds=small_corpus["dfs"]["seeds"], max_rounds=1)
    assert sleeps["n"] >= 3          # paused until the probe recovered
    assert len(stats) == 1           # then ran the round normally
    assert stats[0].scheduled > 0


def test_x4_proxy_routing():
    """X4 (capture.go:60-64): proxied client for every host except the
    bypass list; no proxy configured -> always direct."""
    from zeno_spark.operators.fetch import proxy_for_host

    assert proxy_for_host("a.example", "http://proxy:3128", ("b.example",)) \
        == "http://proxy:3128"
    assert proxy_for_host("b.example", "http://proxy:3128", ("b.example",)) is None
    assert proxy_for_host("a.example", None, ()) is None


def test_fetch_missing_origin_is_native_404(spark):
    """A scheduled URL with no origin row surfaces as a 404 result row
    (connection-refused analogue) without entering the fetch worker."""
    from zeno_spark import schemas
    from zeno_spark.operators.fetch import fetch_meta

    sched = spark.createDataFrame(
        [("i1", "http://h1.example/ok", 1, "h1.example", None, 0, "seed",
          False, 0, 0, 1, 0, 0, 0),
         ("i2", "http://gone.example/x", 2, "gone.example", None, 0, "seed",
          False, 0, 0, 2, 0, 0, 0)],
        schemas.FRONTIER,
    )
    from zeno_spark.fixtures import attach_payloads, build_metadata
    import pandas as pd

    pages_meta = pd.DataFrame(
        {"url": ["http://h1.example/ok"], "host": ["h1.example"],
         "image_id": [None], "w": [0], "h": [0], "fmt": [None],
         "caption": [None], "content_type": ["text/html"], "status": [200],
         "redirect_to": [None]}
    )
    pages = attach_payloads(spark, pages_meta)
    got = {r.url: r for r in fetch_meta(sched, pages).collect()}
    assert got["http://h1.example/ok"].status == 200
    assert got["http://gone.example/x"].status == 404
    assert got["http://gone.example/x"].payload_size is None


def test_stats_api(full_run):
    """A4 (crawl/api.go:34-110): `/` stats, `/queue` stats, and the
    Prometheus exposition agree with the committed crawl state, served
    end-to-end over HTTP from the driver."""
    import json as _json
    import urllib.request

    from zeno_spark.operators.stats import (
        crawl_stats,
        prometheus_text,
        queue_stats,
        serve_api,
    )

    job, stats = full_run
    s = crawl_stats(job, start_time=None)
    assert s["crawled"] == job.fetched.read().count()
    assert s["crawledSeeds"] + s["crawledAssets"] <= s["crawled"]
    assert s["queued"] == job.pending_frontier().count()
    assert s["rounds"] == len([x for x in stats if x.scheduled > 0])
    assert s["frontierProcessed"] == sum(x.scheduled for x in stats)

    q = queue_stats(job)
    assert q["TotalElements"] == s["queued"]
    assert q["MaxHostDepth"] <= q["TotalElements"]

    text = prometheus_text(s, crawljob="testjob", host="h:9443")
    assert (
        f'zeno_downloaded_uri_count_total{{crawljob="testjob",host="h:9443"}} '
        f'{s["crawled"]}' in text
    )
    assert f"zeno_queued_urls" in text

    server = serve_api(job, port=0, crawljob="testjob")  # ephemeral port
    base = f"http://127.0.0.1:{server.server_address[1]}"
    try:
        with urllib.request.urlopen(f"{base}/") as r:
            root = _json.loads(r.read())
        assert root["crawled"] == s["crawled"]
        assert root["uptime"] is not None and root["rate"] is not None
        with urllib.request.urlopen(f"{base}/metrics") as r:
            assert b"zeno_downloaded_uri_count_total" in r.read()
        with urllib.request.urlopen(f"{base}/queue") as r:
            assert _json.loads(r.read())["TotalElements"] == s["queued"]
    finally:
        server.shutdown()


def test_metadata_record_write(full_run):
    """S7 (capture.go:386-389): side metadata records — e.g. yt-dlp's
    raw JSON for a captured video — append to the `metadata` table
    under the catalog's snapshot discipline and read back intact."""
    import json as _json

    from zeno_spark.operators.sitespecific import parse_ytdlp_video_json

    job, _ = full_run
    raw = _json.dumps({
        "id": "vid42", "is_live": False,
        "requested_formats": [
            {"url": "https://cdn.example/v.mp4?x=1", "acodec": "none",
             "vcodec": "avc1", "http_headers": {"User-Agent": "ua"}},
        ],
        "thumbnails": [{"url": "https://cdn.example/t.jpg"}],
    })
    streams, metas, headers = parse_ytdlp_video_json(raw)
    assert streams == ["https://cdn.example/v.mp4?x=1&video_id=vid42&stream_type=video"]
    assert metas == ["https://cdn.example/t.jpg"]

    v0 = job.metadata.current_version()
    recs = job.spark.createDataFrame(
        [("https://youtube.com/watch?v=vid42", raw.encode())],
        "url string, payload binary",
    )
    job.write_metadata_records(
        recs, round_no=99,
        content_type="application/json; metadata-type=ia-video; generator=yt-dlp",
    )
    rows = job.metadata.read().filter(F.col("round") == 99).collect()
    assert len(rows) == 1
    assert rows[0].record_type == "metadata"
    assert _json.loads(bytes(rows[0].payload))["id"] == "vid42"
    # snapshot discipline: rollback removes the side records too
    job.metadata.rollback_to(v0)
    assert job.metadata.read().filter(F.col("round") == 99).count() == 0


def test_seed_lines_native_exact(spark, tmp_path):
    """seed_lines_with_total assigns EXACT file line numbers natively —
    equal to the RDD zipWithIndex numbering it replaced — across many
    file splits, and the seed path contains no .rdd round-trip."""
    import inspect

    from zeno_spark.plans import crawl as crawl_mod
    from zeno_spark.plans.crawl import seed_lines_with_total

    path = str(tmp_path / "seeds.txt")
    with open(path, "w") as fh:
        for i in range(4000):
            fh.write(f"http://h{i % 7}.example/p/{i}\n")
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "4096")
        df, total = seed_lines_with_total(spark, path)
        got = {r.line: r.url for r in df.collect()}
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    want = dict(
        spark.read.text(path).rdd.map(lambda r: r.value)
        .zipWithIndex().map(lambda t: (t[1], t[0])).collect()
    )
    assert got == want
    assert len(got) == 4000
    # the total comes from the pass-1 aggregate, not a second count()
    assert total == 4000
    # the production seed path must stay RDD-free
    assert ".rdd" not in inspect.getsource(crawl_mod.CrawlJob.seed)
    assert ".rdd" not in inspect.getsource(seed_lines_with_total)


def test_seed_requires_line_column(spark, small_corpus, tmp_path):
    from zeno_spark.config import CrawlConfig
    from zeno_spark.plans.crawl import CrawlJob

    job = CrawlJob(
        spark, str(tmp_path / "wh_nl"), small_corpus["dfs"]["pages"],
        small_corpus["dfs"]["links"], CrawlConfig(),
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="line"):
        job.seed(small_corpus["dfs"]["seeds"].drop("line"))
