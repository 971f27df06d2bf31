"""The three workloads: inputs, set-up, the timed operation, the
correctness gate, and the metrics each run reports.

Every workload is a closed loop: one operation (a whole crawl, or one
complete corpus selection) starts when the previous one has finished, and
the timed phase repeats operations until ``--seconds`` have passed (at
least one).  The gate runs after each operation, outside every timed
interval; an operation that fails it counts as failed.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import inputs

END_TO_END = ("setup_s", "items_per_s", "step_s_p50", "peak_rss_mb")

PER_LAYER = (
    "session.start_s",
    "plans.crawl.round_s", "plans.crawl.self_s",
    "plans.crawl.spark_jobs_per_round", "plans.crawl.pending_frontier_s",
    "plans.crawl.compact_s", "plans.crawl.seed_s",
    "plans.crawl.frontier_urls_per_s",
    "catalog.append_s.frontier", "catalog.append_s.seen",
    "catalog.append_s.claimed", "catalog.append_s.metrics",
    "catalog.append_s.fetched", "catalog.rewrite_s.bloom",
    "catalog.bytes_written", "catalog.files_written", "catalog.live_files",
    "catalog.storage_amplification",
    "operators.admission.apply_admission_s",
    "operators.admission.admitted_share",
    "operators.schedule.politeness_schedule_s",
    "operators.schedule.scheduled_per_eligible",
    "operators.fetch.fetch_meta_s", "operators.fetch.ok_per_scheduled",
    "operators.fetch.verify_failed", "operators.fetch.failed_fetch_share",
    "operators.fetch.revisit_byte_share",
    "operators.transport.requests_per_scheduled",
    "operators.transport.connections_per_request",
    "operators.transport.conn_failures",
    "operators.transport.origin_wait_share",
    "operators.parse.route_extract_us_per_page",
    "operators.parse.links_per_page",
    "operators.extract.extract_candidates_s",
    "operators.extract.content_candidates_s",
    "operators.extract.candidates_per_ok",
    "operators.dedup.in_batch_dedupe_s",
    "operators.dedup.dedupe_against_seen_s",
    "operators.dedup.bloom_probe_share", "operators.dedup.new_per_discovered",
    "operators.dedup.merge_bloom_index_s",
    "operators.dedup.bloom_rebuild_buckets",
    "operators.warc.bytes_written", "operators.warc.records",
    "datapipe.text.quality_s", "datapipe.text.langid_s",
    "datapipe.dedup.simhash_pairs_s", "datapipe.dedup.simhash_pairs",
    "datapipe.clusters.connected_components_s", "datapipe.clusters.clusters",
    "datapipe.select.self_s", "datapipe.select.selected_share",
    "trace.overhead_share",
)


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def max_job_id(spark) -> int:
    """Highest Spark job id so far: its growth over a call is the number
    of jobs the call launched."""
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup()
    return max(ids) if ids else -1


def _dir_bytes(path: str, suffix: str = "") -> tuple[int, int]:
    """(bytes, files) of regular files under ``path`` ending in ``suffix``."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(suffix):
                total += os.path.getsize(os.path.join(root, n))
                files += 1
    return total, files


# ---------------------------------------------------------------------------
# crawls
# ---------------------------------------------------------------------------

class CrawlWorkload:
    """Shared code of wide_crawl and live_site_crawl."""

    # every module of the program a run uses: run.py imports them before
    # the generation clock starts, so setup_s covers the same imports on an
    # input-cache hit and on a miss (generation imports the fixtures)
    modules = ("pyspark.sql", "zeno_spark.session", "zeno_spark.schemas",
               "zeno_spark.fixtures", "zeno_spark.functions.images",
               "zeno_spark.plans.crawl", "zeno_spark.operators.transport")
    aqe = False
    live = False
    n_pages = n_hosts = 0
    img_dims = (96, 256)
    seed_frac = 0.0
    rounds = 0
    cfg_kw: dict = {}

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.origin = None
        self._oracle = None
        self._ops = 0

    def _cfg(self):
        from zeno_spark.config import CrawlConfig

        return CrawlConfig(max_rounds=self.rounds, **self.cfg_kw)

    def generate(self) -> None:
        self.main_dir = inputs.crawl_corpus(
            self.work, self.name, self.seed, self.n_pages, self.n_hosts,
            self.img_dims, self.seed_frac, html_bodies=self.live)

    def setup(self, spark) -> None:
        """Open the inputs: the pages/links tables for the table origin
        (links cached, as a crawl job would), or the origin server."""
        self.spark = spark
        d = self.main_dir
        self.main = {"seeds": spark.read.parquet(f"{d}/seeds.parquet")}
        if self.live:
            import pyarrow.parquet as pq

            from origin import Origin

            self.main["rows"] = {r["url"]: r for r in
                                 pq.read_table(f"{d}/pages.parquet").to_pylist()}
            self.main["pages"] = self.main["links"] = None
            self.origin = Origin(self.main["rows"], self.delay_s)
            self.origin.start()
        else:
            self.main["pages"] = spark.read.parquet(f"{d}/pages.parquet")
            self.main["links"] = spark.read.parquet(
                f"{d}/links.parquet").cache()
            self.main["links"].count()

    def op(self) -> dict:
        """One whole crawl on a fresh warehouse through CrawlJob.run.  An
        instance-level wrapper around run_round records each round's wall
        time and the Spark jobs it launched."""
        from zeno_spark.operators.transport import HttpTransport
        from zeno_spark.plans.crawl import CrawlJob

        inp, cfg = self.main, self._cfg()
        # one warehouse per operation: the traced run reads the untraced
        # operation's tables after the traced one has run
        self._ops += 1
        wh = os.path.join(self.work, f"warehouse-{self._ops}")
        warc = os.path.join(self.work, f"warc-{self._ops}")
        shutil.rmtree(wh, ignore_errors=True)
        shutil.rmtree(warc, ignore_errors=True)
        transport = None
        if self.live:
            self.origin.reset()
            os.makedirs(warc)
            transport = HttpTransport(proxy=self.origin.url, timeout=15.0,
                                      max_retries=1, extract=True,
                                      warc_dir=warc)
        round_s, jobs = [], []
        t0 = time.monotonic()
        job = CrawlJob(self.spark, wh, inp["pages"], inp["links"], cfg,
                       transport=transport)
        run_round = job.run_round

        def timed_round(r):
            j, t = max_job_id(self.spark), time.monotonic()
            st = run_round(r)
            round_s.append(time.monotonic() - t)
            jobs.append(max_job_id(self.spark) - j)
            return st

        job.run_round = timed_round
        stats = job.run(seeds=inp["seeds"], max_rounds=self.rounds)
        wall = time.monotonic() - t0
        return {"job": job, "wall": wall, "stats": stats, "round_s": round_s,
                "jobs": jobs, "warehouse": wh,
                "warc": warc if self.live else None}

    # -- correctness --------------------------------------------------------

    def check(self, s: dict) -> list[str]:
        """Per-round RoundStats and the fetched/seen sets against the
        single-threaded oracle on the same input."""
        from zeno_spark.oracle import crawl_oracle

        if self._oracle is None:
            meta, links, seed_urls = inputs.load_crawl_meta(self.main_dir)
            self._oracle = crawl_oracle(meta, links, seed_urls, self._cfg(),
                                        max_rounds=self.rounds)
        orc = self._oracle
        job = s["job"]
        problems = []
        want_sched = [sum(len(v) for v in r.values()) for r in orc.schedule]
        want_ok = [sum(1 for f in orc.fetched if f[0] == r)
                   for r in range(len(orc.schedule))]
        got_sched = [st.scheduled for st in s["stats"]]
        got_ok = [st.fetched_ok for st in s["stats"]]
        if got_sched != want_sched:
            problems.append(f"scheduled per round {got_sched} != {want_sched}")
        if got_ok != want_ok:
            problems.append(f"fetched_ok per round {got_ok} != {want_ok}")
        fetched = {(r.round, r.url, r.type, r.hop) for r in job.fetched.read()
                   .select("round", "url", "type", "hop").collect()}
        if fetched != set(orc.fetched):
            problems.append(f"fetched set differs ({len(fetched)} vs "
                            f"{len(orc.fetched)} rows)")
        seen = {r.url for r in job.seen.read().select("url").collect()}
        if seen != orc.seen:
            problems.append(f"seen set differs ({len(seen)} vs "
                            f"{len(orc.seen)} urls)")
        return problems

    # -- metrics ------------------------------------------------------------

    def items(self, s: dict) -> int:
        return sum(st.fetched_ok for st in s["stats"])

    def steps(self, s: dict) -> list[float]:
        return s["round_s"]

    def storage(self, s: dict) -> dict:
        """Disk and payload accounting of one finished crawl (untimed)."""
        from pyspark.sql import functions as F

        job = s["job"]
        wh_bytes, _ = _dir_bytes(s["warehouse"])
        _, parquet_files = _dir_bytes(s["warehouse"], ".parquet")
        warc_bytes = warc_records = 0
        if s["warc"]:
            from zeno_spark.operators.warc import parse_warc_stream

            warc_bytes, _ = _dir_bytes(s["warc"])
            for root, _, names in os.walk(s["warc"]):
                for n in names:
                    if n.endswith(".warc.gz"):
                        with open(os.path.join(root, n), "rb") as fh:
                            warc_records += sum(
                                1 for _ in parse_warc_stream(fh.read()))
        tot = job.metrics.read().agg(
            F.sum("payload_bytes").alias("p"),
            F.sum("deduped_bytes").alias("d")).collect()[0]
        payload = (tot.p or 0) + (tot.d or 0)
        live_files = sum(t.file_count()
                         for t in job.catalog._tables.values())
        return {
            "catalog.bytes_written": wh_bytes,
            "catalog.files_written": parquet_files,
            "catalog.live_files": live_files,
            "catalog.storage_amplification":
                _ratio(wh_bytes + warc_bytes, payload),
            "operators.fetch.revisit_byte_share": _ratio(tot.d or 0, payload),
            "operators.warc.bytes_written": warc_bytes,
            "operators.warc.records": warc_records,
        }

    def close(self) -> None:
        if self.origin is not None:
            self.origin.stop()

    # -- traced run ---------------------------------------------------------

    def install(self, tr) -> None:
        from pyspark.sql import functions as F

        from zeno_spark import catalog
        from zeno_spark.operators import dedup, transport
        from zeno_spark.plans import crawl

        def round_before(tr, args):
            tr.round = args[1]

        def round_after(tr, out, args):
            tr.unpersist()

        def fetch_after(tr, out, args):
            for r in (out.filter(F.col("status").isin(0, 422))
                      .groupBy("status").count().collect()):
                tr.note(f"fetch.status{r['status']}", r["count"])

        def bloom_after(tr, out, args):
            tr.note("bloom.maybe", out.filter(F.col("maybe_seen")).count())

        def merge_after(tr, out, args):
            tr.note("bloom.rebuild", out.filter(F.col("rebuild")).count())

        J = crawl.CrawlJob
        tr.wrap(J, "run_round", "plans.crawl.run_round",
                before=round_before, after=round_after)
        tr.wrap(J, "seed", "plans.crawl.seed",
                after=lambda tr, out, args: tr.unpersist())
        tr.wrap(J, "pending_frontier", "plans.crawl.pending_frontier")
        tr.wrap(J, "_update_bloom", "plans.crawl.update_bloom")
        tr.wrap(J, "compact", "plans.crawl.compact")
        tr.wrap(crawl, "apply_admission",
                "operators.admission.apply_admission", count_input=True)
        tr.wrap(crawl, "politeness_schedule",
                "operators.schedule.politeness_schedule", count_input=True)
        tr.wrap(crawl, "fetch_meta", "operators.fetch.fetch_meta",
                after=fetch_after)
        # the live wire: GETs, in-worker parsing and WARC writes all run
        # inside the transport's Arrow worker (a child of fetch_meta)
        tr.wrap(transport.HttpTransport, "responses",
                "operators.transport.http_responses")
        tr.wrap(crawl, "extract_candidates",
                "operators.extract.extract_candidates")
        tr.wrap(crawl, "content_candidates",
                "operators.extract.content_candidates")
        tr.wrap(dedup, "in_batch_dedupe", "operators.dedup.in_batch_dedupe")
        tr.wrap(dedup, "dedupe_against_seen",
                "operators.dedup.dedupe_against_seen")
        tr.wrap(dedup, "bloom_prefilter", "operators.dedup.bloom_prefilter",
                after=bloom_after)
        tr.wrap(dedup, "merge_bloom_index",
                "operators.dedup.merge_bloom_index", after=merge_after)
        S = catalog.SnapshotTable
        tr.wrap(S, "append", lambda a: f"catalog.append.{a[0].name}")
        tr.wrap(S, "rewrite", lambda a: f"catalog.rewrite.{a[0].name}")

    def layers(self, tr, s: dict, base: dict) -> dict:
        """Per-layer metrics of one traced crawl ``s``; the job count,
        storage and frontier-rate figures come from the untraced crawl
        ``base``."""
        n = tr.notes
        st = s["stats"]
        sched = sum(x.scheduled for x in st)
        ok = sum(x.fetched_ok for x in st)
        disc = sum(x.discovered for x in st)
        new = sum(x.new_after_dedup for x in st)
        fetch_s = tr.total("operators.fetch.fetch_meta")
        failed = n.get("fetch.status0", 0) + n.get("fetch.status422", 0)
        rounds = tr.durations("plans.crawl.run_round")
        m = {
            "plans.crawl.round_s": statistics.median(rounds),
            "plans.crawl.self_s": tr.self_total("plans.crawl.run_round"),
            # counted on the untraced crawl: the tracer launches jobs too
            "plans.crawl.spark_jobs_per_round": _ratio(sum(base["jobs"]),
                                                       len(base["jobs"])),
            "plans.crawl.pending_frontier_s":
                tr.total("plans.crawl.pending_frontier"),
            "plans.crawl.compact_s": tr.total("plans.crawl.compact"),
            "plans.crawl.seed_s": tr.total("plans.crawl.seed"),
            "catalog.rewrite_s.bloom": tr.total("catalog.rewrite.bloom"),
            "operators.admission.apply_admission_s":
                tr.total("operators.admission.apply_admission"),
            "operators.admission.admitted_share": _ratio(
                n.get("operators.admission.apply_admission.out", 0),
                n.get("operators.admission.apply_admission.in", 0)),
            "operators.schedule.politeness_schedule_s":
                tr.total("operators.schedule.politeness_schedule"),
            "operators.schedule.scheduled_per_eligible": _ratio(
                n.get("operators.schedule.politeness_schedule.out", 0),
                n.get("operators.schedule.politeness_schedule.in", 0)),
            "operators.fetch.fetch_meta_s": fetch_s,
            "operators.fetch.ok_per_scheduled": _ratio(ok, sched),
            "operators.fetch.verify_failed": n.get("fetch.status422", 0),
            "operators.fetch.failed_fetch_share": _ratio(
                failed, n.get("operators.fetch.fetch_meta.out", 0)),
            "operators.extract.extract_candidates_s":
                tr.total("operators.extract.extract_candidates"),
            "operators.extract.content_candidates_s":
                tr.total("operators.extract.content_candidates"),
            "operators.extract.candidates_per_ok": _ratio(disc, ok),
            "operators.dedup.in_batch_dedupe_s":
                tr.total("operators.dedup.in_batch_dedupe"),
            "operators.dedup.dedupe_against_seen_s":
                tr.total("operators.dedup.dedupe_against_seen"),
            "operators.dedup.bloom_probe_share": _ratio(
                n.get("bloom.maybe", 0),
                n.get("operators.dedup.bloom_prefilter.out", 0)),
            "operators.dedup.new_per_discovered": _ratio(new, disc),
            "operators.dedup.merge_bloom_index_s":
                tr.total("operators.dedup.merge_bloom_index"),
            "operators.dedup.bloom_rebuild_buckets": n.get("bloom.rebuild", 0),
        }
        for t in ("frontier", "seen", "claimed", "metrics", "fetched"):
            m[f"catalog.append_s.{t}"] = tr.total(f"catalog.append.{t}")
        m.update(self.storage(base))
        m["plans.crawl.frontier_urls_per_s"] = _ratio(
            sum(x.scheduled + x.discovered for x in base["stats"]),
            base["wall"])
        if self.live:
            c = self.origin.counters.snapshot()
            print(f"origin: {c}")
            m["operators.transport.requests_per_scheduled"] = _ratio(
                c["requests"], sched)
            m["operators.transport.connections_per_request"] = _ratio(
                c["connections"], c["requests"])
            m["operators.transport.conn_failures"] = c["conn_failures"]
            m["operators.transport.origin_wait_share"] = _ratio(
                c["delay_s"], fetch_s)
            m.update(self._parse_cost())
        return m

    def _parse_cost(self) -> dict:
        """route_extract called directly on every html body the origin
        served with status 200."""
        from zeno_spark.operators.parse import route_extract

        urls = sorted(self.origin.counters.served_html)
        links = 0
        t = time.perf_counter()
        for u in urls:
            o, a = route_extract(u, "text/html",
                                 self.main["rows"][u]["bytes"].decode())
            links += len(o) + len(a)
        dt = time.perf_counter() - t
        return {
            "operators.parse.route_extract_us_per_page":
                _ratio(dt * 1e6, len(urls)),
            "operators.parse.links_per_page": _ratio(links, len(urls)),
        }


class WideCrawl(CrawlWorkload):
    name = "wide_crawl"
    n_pages, n_hosts = 1600, 8
    seed_frac = 0.5
    rounds = 1
    cfg_kw = dict(max_hops=4, per_host_budget=512, host_salt_buckets=4,
                  bloom_prefilter=True, compact_every=0)


class LiveSiteCrawl(CrawlWorkload):
    name = "live_site_crawl"
    live = True
    n_pages, n_hosts = 600, 4
    seed_frac = 0.3
    rounds = 2
    delay_s = 0.02
    cfg_kw = dict(max_hops=4, per_host_budget=16, compact_every=2)


# ---------------------------------------------------------------------------
# corpus selection
# ---------------------------------------------------------------------------

class CorpusSelect:
    name = "corpus_select"
    modules = ("pyspark.sql", "zeno_spark.session",
               "zeno_spark.datapipe.select")
    aqe = True
    n_docs = 3000

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self._want = None

    def generate(self) -> None:
        self.main_dir = inputs.documents(self.work, self.seed, self.n_docs)

    def setup(self, spark) -> None:
        self.spark = spark
        self.docs = spark.read.parquet(f"{self.main_dir}/documents.parquet")

    def op(self) -> dict:
        from zeno_spark.datapipe import select

        t0 = time.monotonic()
        out = select.corpus_select(self.docs).toPandas()
        return {"wall": time.monotonic() - t0, "out": out}

    def check(self, s: dict) -> list[str]:
        """Value hash against DuckDB running corpus_select_sql — the gate
        tools/check_oracle.py applies."""
        if self._want is None:
            self._want = self._duckdb_result()
        got, want = s["out"], self._want
        fh = _frame_hash()
        if sorted(got.columns) != sorted(want.columns):
            return [f"columns {sorted(got.columns)} != {sorted(want.columns)}"]
        if len(got) != len(want) or fh(got) != fh(want):
            return [f"value hash differs ({len(got)} vs {len(want)} rows)"]
        return []

    def _duckdb_result(self):
        """DuckDB's answer for this input, kept beside the input under a
        name keyed by the SQL text (the recursive cluster CTE takes
        seconds, and the answer is a pure function of both)."""
        import hashlib

        import duckdb
        import pandas as pd

        from zeno_spark.datapipe.select import corpus_select_sql

        sql = corpus_select_sql()
        path = os.path.join(self.main_dir, "duckdb-%s.parquet"
                            % hashlib.sha1(sql.encode()).hexdigest()[:12])
        if os.path.exists(path):
            return pd.read_parquet(path)
        con = duckdb.connect()
        try:
            con.execute(f"SET temp_directory = '{self.work}/tmp'")
            con.execute("CREATE VIEW documents AS SELECT * FROM "
                        f"'{self.main_dir}/documents.parquet'")
            want = con.execute(sql).df()
        finally:
            con.close()
        want.to_parquet(path + ".tmp", index=False)
        os.rename(path + ".tmp", path)
        return want

    def items(self, s: dict) -> int:
        return self.n_docs

    def steps(self, s: dict) -> list[float]:
        return [s["wall"]]

    def close(self) -> None:
        pass

    def install(self, tr) -> None:
        from zeno_spark.datapipe import clusters, select

        def cc_after(tr, out, args):
            tr.note("clusters", out.select("cluster_id").distinct().count())

        tr.wrap(select, "quality", "datapipe.text.quality")
        tr.wrap(select, "langid", "datapipe.text.langid")
        tr.wrap(select, "dedup_clusters", "datapipe.clusters.dedup_clusters")
        tr.wrap(clusters, "simhash_pairs", "datapipe.dedup.simhash_pairs")
        tr.wrap(clusters, "connected_components",
                "datapipe.clusters.connected_components", after=cc_after)
        tr.wrap(select, "corpus_select", "datapipe.select.corpus_select",
                after=lambda tr, out, args: tr.note("selected", out.count()))

    def layers(self, tr, s: dict, base: dict) -> dict:
        n = tr.notes
        return {
            "datapipe.text.quality_s": tr.total("datapipe.text.quality"),
            "datapipe.text.langid_s": tr.total("datapipe.text.langid"),
            "datapipe.dedup.simhash_pairs_s":
                tr.total("datapipe.dedup.simhash_pairs"),
            "datapipe.dedup.simhash_pairs":
                n.get("datapipe.dedup.simhash_pairs.out", 0),
            "datapipe.clusters.connected_components_s":
                tr.total("datapipe.clusters.connected_components"),
            "datapipe.clusters.clusters": n.get("clusters", 0),
            "datapipe.select.self_s":
                tr.self_total("datapipe.select.corpus_select"),
            "datapipe.select.selected_share":
                _ratio(n.get("selected", 0), self.n_docs),
        }


def _frame_hash():
    """tools/check_oracle.py's order-insensitive value hash."""
    import importlib.util

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(here, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.frame_hash


WORKLOADS = {w.name: w for w in (WideCrawl, LiveSiteCrawl, CorpusSelect)}
