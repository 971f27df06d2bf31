"""Politeness scheduling golden tests.

The flagship invariant is ported from the reference's round-robin test
(queue/dequeue_test.go:84-140): enqueue 2 items for each of 3 hosts,
dequeue -> host order 1,2,3,1,2,3.  In batch form with budget=1, round A
schedules exactly {h1[0], h2[0], h3[0]} and round B {h1[1], h2[1],
h3[1]} — k=1 round-robin turns per host per round, FIFO within host.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from zeno_spark import schemas
from zeno_spark.config import CrawlConfig
from zeno_spark.functions.urls import fnv1a64
from zeno_spark.operators.schedule import backoff_retry_rows, politeness_schedule, schedulable


def _item(url, host, seq, **kw):
    base = dict(
        id=f"id{seq}", url=url, url_hash=fnv1a64(url), host=host,
        parent_url=None, hop=0, type="seed", bypass_seencheck=False,
        redirect=0, retry=0, enqueue_seq=seq, discovered_round=0,
        not_before_round=0, priority=kw.get("priority", 0),
    )
    base.update(kw)
    return tuple(base[f.name] for f in schemas.FRONTIER.fields)


def _frontier(spark, items):
    return spark.createDataFrame(items, schemas.FRONTIER)


def test_golden_round_robin_2x3(spark):
    # 2 items x 3 hosts, enqueue order h1,h2,h3,h1,h2,h3 (dequeue_test.go:84-140)
    items = []
    seq = 0
    for i in range(2):
        for h in ("h1.com", "h2.com", "h3.com"):
            items.append(_item(f"http://{h}/p/{i}", h, seq))
            seq += 1
    f = _frontier(spark, items)
    cfg = CrawlConfig(per_host_budget=1)

    round_a = politeness_schedule(f, cfg)
    got_a = {(r.host, r.url) for r in round_a.collect()}
    assert got_a == {
        ("h1.com", "http://h1.com/p/0"),
        ("h2.com", "http://h2.com/p/0"),
        ("h3.com", "http://h3.com/p/0"),
    }

    # remove round A rows; round B yields the second item of each host
    remaining = f.join(round_a.select("id"), "id", "left_anti")
    got_b = {(r.host, r.url) for r in politeness_schedule(remaining, cfg).collect()}
    assert got_b == {
        ("h1.com", "http://h1.com/p/1"),
        ("h2.com", "http://h2.com/p/1"),
        ("h3.com", "http://h3.com/p/1"),
    }


def test_budget_and_fifo_within_host(spark):
    items = [_item(f"http://h.com/{i}", "h.com", 100 - i) for i in range(10)]
    f = _frontier(spark, items)
    sched = politeness_schedule(f, CrawlConfig(per_host_budget=3)).collect()
    # FIFO: the 3 smallest enqueue_seq values = urls 9, 8, 7
    assert sorted(r.url for r in sched) == [
        "http://h.com/7", "http://h.com/8", "http://h.com/9"
    ]


def test_salted_schedule_identical_to_unsalted(spark):
    # two-phase salted top-k must select exactly the same rows
    items = [
        _item(f"http://hot.com/{i}", "hot.com", i) for i in range(200)
    ] + [_item(f"http://cold{i}.com/x", f"cold{i}.com", 1000 + i) for i in range(5)]
    f = _frontier(spark, items)
    plain = politeness_schedule(f, CrawlConfig(per_host_budget=16, host_salt_buckets=1))
    salted = politeness_schedule(f, CrawlConfig(per_host_budget=16, host_salt_buckets=8))
    assert {r.url for r in plain.collect()} == {r.url for r in salted.collect()}


def test_backoff_gate(spark):
    items = [
        _item("http://h.com/a", "h.com", 0, not_before_round=0),
        _item("http://h.com/b", "h.com", 1, not_before_round=3),
    ]
    f = _frontier(spark, items)
    assert schedulable(f, 0).count() == 1
    assert schedulable(f, 3).count() == 2


def test_retry_rows(spark):
    cfg = CrawlConfig(max_retry=2, retry_backoff_rounds=1)
    items = [
        _item("http://h.com/a", "h.com", 0, retry=0),
        _item("http://h.com/b", "h.com", 1, retry=2),  # exhausted
    ]
    f = _frontier(spark, items)
    rows = backoff_retry_rows(f, round_no=5, cfg=cfg).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.url == "http://h.com/a" and r.retry == 1
    assert r.bypass_seencheck is True
    assert r.not_before_round == 7  # 5+1 + retry(1)*1


def test_retry_after_maps_to_not_before_round(spark):
    """O5 extension (cfg.honor_retry_after): a 429 carrying a parsed
    Retry-After overrides the linear backoff with ceil(seconds /
    round_seconds) rounds; rows without the header keep the
    linear mapping, and with the flag OFF (reference-parity default)
    the header is ignored entirely."""
    from pyspark.sql import functions as F

    items = [
        _item("http://h.com/ra", "h.com", 0, retry=0),
        _item("http://h.com/plain", "h.com", 1, retry=0),
    ]
    f = _frontier(spark, items).withColumn(
        "retry_after",
        F.when(F.col("url").endswith("/ra"), F.lit(150.0)),
    )
    cfg_on = CrawlConfig(max_retry=3, retry_backoff_rounds=1,
                         honor_retry_after=True)
    rows = {r.url: r for r in backoff_retry_rows(f, round_no=5, cfg=cfg_on).collect()}
    # ceil(150/60)=3 rounds for the header row; linear 1 for the other
    assert rows["http://h.com/ra"].not_before_round == 5 + 1 + 3
    assert rows["http://h.com/plain"].not_before_round == 5 + 1 + 1
    cfg_off = CrawlConfig(max_retry=3, retry_backoff_rounds=1)
    rows = {r.url: r for r in backoff_retry_rows(f, round_no=5, cfg=cfg_off).collect()}
    assert rows["http://h.com/ra"].not_before_round == 5 + 1 + 1


def test_retry_after_header_parsing():
    """RFC 9110 Retry-After forms: delta-seconds, HTTP-date, hostile."""
    from datetime import datetime, timezone

    from zeno_spark.operators.transport import retry_after_seconds

    assert retry_after_seconds("120") == 120.0
    assert retry_after_seconds(" 0 ") == 0.0
    now = datetime(2026, 2, 1, 12, 0, 0, tzinfo=timezone.utc)
    assert retry_after_seconds(
        "Sun, 01 Feb 2026 12:05:00 GMT", _now=now) == 300.0
    # a date already passed clamps to 0
    assert retry_after_seconds(
        "Sun, 01 Feb 2026 11:00:00 GMT", _now=now) == 0.0
    assert retry_after_seconds("soon") is None
    assert retry_after_seconds("") is None
    assert retry_after_seconds(None) is None


def test_long_crawl_delay_gates_across_rounds(spark):
    """A Crawl-delay LONGER than a round (floor(round_seconds/d)=0)
    must not be fetched every round at the budget floor of 1: with
    round_no supplied, the host is admitted once per stride =
    ceil(d/round_seconds) rounds (host-hashed phase), so consecutive
    fetch rounds respect the modeled spacing.  Short/no delays and the
    no-round_no form keep the per-round behavior."""
    from pyspark.sql import Row

    from zeno_spark import schemas as S

    items = []
    for h in ("patient.com", "fast.com"):
        for i in range(40):
            items.append(_item(f"http://{h}/p/{i}", h, i))
    f = _frontier(spark, items)
    delays = spark.createDataFrame(
        [Row(host="patient.com", disallow_prefixes=[], crawl_delay=1000.0,
             sitemaps=[]),
         Row(host="fast.com", disallow_prefixes=[], crawl_delay=None,
             sitemaps=[])],
        schema=S.ROBOTS,
    )
    cfg = CrawlConfig(per_host_budget=4, host_salt_buckets=4)  # 60s rounds
    stride = -(-1000 // 60)  # ceil = 17
    sched_rounds = []
    for rnd in range(2 * stride):
        got = politeness_schedule(
            f, cfg, delays=delays, round_no=rnd
        ).collect()
        hosts = [r.host for r in got]
        assert hosts.count("fast.com") == 4  # unaffected every round
        if "patient.com" in hosts:
            assert hosts.count("patient.com") == 1  # clamped budget
            sched_rounds.append(rnd)
    # exactly one eligible round per stride window, stride rounds apart
    assert len(sched_rounds) == 2
    assert sched_rounds[1] - sched_rounds[0] == stride
    # without round_no (the contract-query form): every round, clamp 1
    got = politeness_schedule(f, cfg, delays=delays).collect()
    assert [r.host for r in got].count("patient.com") == 1


def test_duplicate_hosts_in_side_frames_never_fan_out(spark):
    """delays/budgets build sides collapse to one row per host (max
    delay / min budget): a static robots cache unioned with the live
    table may carry a host twice, and a duplicated join key would
    double-schedule (and double-fetch) every frontier row of that
    host."""
    from pyspark.sql import Row

    from zeno_spark import schemas as S

    items = [_item(f"http://dup.com/p/{i}", "dup.com", i) for i in range(8)]
    f = _frontier(spark, items)
    delays = spark.createDataFrame(
        [Row(host="dup.com", disallow_prefixes=[], crawl_delay=30.0,
             sitemaps=[]),
         Row(host="dup.com", disallow_prefixes=[], crawl_delay=90.0,
             sitemaps=[])],
        schema=S.ROBOTS,
    )
    budgets = spark.createDataFrame(
        [("dup.com", 6), ("dup.com", 3)], "host string, budget int"
    )
    cfg = CrawlConfig(per_host_budget=4, host_salt_buckets=4)
    got = politeness_schedule(f, cfg, delays=delays).collect()
    # max delay 90 wins: floor(60/90)=0 -> clamp 1; and NO duplicates
    assert [r.enqueue_seq for r in got] == [0]
    got = politeness_schedule(f, cfg, budgets=budgets).collect()
    # min override 3 wins; unique rows
    assert sorted(r.enqueue_seq for r in got) == [0, 1, 2]


def test_crawl_delay_shrinks_budget(spark):
    """robots Crawl-delay -> per-round budget: one round models
    cfg.round_seconds (60 s), so delay 30 allows 2 fetches/round,
    delay 1000 clamps to 1, no delay keeps the full budget; results
    identical with and without the salted phase-1 window."""
    from pyspark.sql import Row

    from zeno_spark import schemas as S

    items = []
    for h in ("slow.com", "crawl.com", "fast.com"):
        for i in range(8):
            items.append(_item(f"http://{h}/p/{i}", h, i))
    f = _frontier(spark, items)
    delays = spark.createDataFrame(
        [Row(host="slow.com", disallow_prefixes=[], crawl_delay=1000.0,
             sitemaps=[]),
         Row(host="crawl.com", disallow_prefixes=[], crawl_delay=30.0,
             sitemaps=[]),
         Row(host="fast.com", disallow_prefixes=[], crawl_delay=None,
             sitemaps=[])],
        schema=S.ROBOTS,
    )
    for salt in (1, 4):
        cfg = CrawlConfig(per_host_budget=4, host_salt_buckets=salt)
        got = politeness_schedule(f, cfg, delays=delays).collect()
        per_host = {}
        for r in got:
            per_host.setdefault(r.host, []).append(r.enqueue_seq)
        assert sorted(per_host["slow.com"]) == [0]            # clamp to 1
        assert sorted(per_host["crawl.com"]) == [0, 1]        # 60/30
        assert sorted(per_host["fast.com"]) == [0, 1, 2, 3]   # full budget
        # schema unchanged: no helper columns leak
        assert set(got[0].asDict()) == {fld.name for fld in S.FRONTIER.fields}


def test_lifo_strategy_pops_newest_first(spark):
    """schedule_strategy='lifo' (the HQ feed's default, cmd/get_hq.go:55
    -> hq.go:180): within each host the NEWEST enqueue_seq wins, budget
    and salting semantics unchanged; salted plan stays exact."""
    items = [_item(f"http://h.com/{i}", "h.com", 100 - i) for i in range(10)]
    f = _frontier(spark, items)
    sched = politeness_schedule(
        f, CrawlConfig(per_host_budget=3, schedule_strategy="lifo")
    ).collect()
    # LIFO: the 3 LARGEST enqueue_seq values = urls 0, 1, 2
    assert sorted(r.url for r in sched) == [
        "http://h.com/0", "http://h.com/1", "http://h.com/2"
    ]
    many = [
        _item(f"http://hot.com/{i}", "hot.com", i) for i in range(200)
    ] + [_item(f"http://cold{i}.com/x", f"cold{i}.com", 1000 + i) for i in range(5)]
    fm = _frontier(spark, many)
    plain = politeness_schedule(
        fm, CrawlConfig(per_host_budget=16, host_salt_buckets=1,
                        schedule_strategy="lifo"))
    salted = politeness_schedule(
        fm, CrawlConfig(per_host_budget=16, host_salt_buckets=8,
                        schedule_strategy="lifo"))
    got = {r.url for r in salted.collect()}
    assert got == {r.url for r in plain.collect()}
    assert "http://hot.com/199" in got and "http://hot.com/0" not in got


def test_priority_tier_pops_before_fifo(spark):
    """The politeness PRIORITY queue (north rule): within a host, higher
    priority pops first; ties fall back to FIFO; salted plan identical."""
    items = [
        _item(f"http://h.com/{i}", "h.com", i,
              priority=(2 if i >= 8 else 0)) for i in range(10)
    ]
    f = _frontier(spark, items)
    sched = politeness_schedule(f, CrawlConfig(per_host_budget=3)).collect()
    # priority-2 rows (urls 8, 9) first, then the FIFO head (url 0)
    assert sorted(r.url for r in sched) == [
        "http://h.com/0", "http://h.com/8", "http://h.com/9"
    ]
    salted = politeness_schedule(
        f, CrawlConfig(per_host_budget=3, host_salt_buckets=4)
    ).collect()
    assert {r.url for r in salted} == {r.url for r in sched}


def test_per_host_budget_overrides(spark):
    """Adaptive-politeness feedback: a (host, budget) override frame
    reshapes the per-host quota — below OR above the base budget —
    while non-overridden hosts keep the base; exactness holds through
    the salted two-phase window."""
    items = []
    seq = 0
    for i in range(6):
        for h in ("a.com", "b.com", "c.com"):
            items.append(_item(f"http://{h}/p/{i}", h, seq))
            seq += 1
    f = _frontier(spark, items)
    cfg = CrawlConfig(per_host_budget=3, host_salt_buckets=4)
    budgets = spark.createDataFrame(
        [("a.com", 1), ("b.com", 5)], "host string, budget int"
    )
    out = politeness_schedule(f, cfg, budgets=budgets)
    counts = {r.host: r.n for r in
              out.groupBy("host").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts == {"a.com": 1, "b.com": 5, "c.com": 3}
    # FIFO within host is preserved under the override
    got_a = sorted(r.url for r in out.filter(F.col("host") == "a.com").collect())
    assert got_a == ["http://a.com/p/0"]
    # identical result without salting (the exactness invariant)
    flat = politeness_schedule(
        f, CrawlConfig(per_host_budget=3, host_salt_buckets=1),
        budgets=budgets,
    )
    assert {r.id for r in out.collect()} == {r.id for r in flat.collect()}
