"""The crawl job: Zeno's worker/queue fixpoint loop (crawl/crawl.go:30-290,
worker.go:63-132, capture.go:184-607) re-expressed as synchronous batch
rounds over snapshot-committed tables (SURVEY §3.4):

  round r:
    F    = frontier snapshot minus claimed rows, not_before_round <= r
    F'   = admission gates (F1-F5, optional robots F10)     -- native filters
    S    = politeness schedule: per-host FIFO top-budget     -- window (O2-O4)
    R    = fetch(S): Arrow-batched fetch/verify workers       -- X1-X3
    new  = extract(R) ∪ redirects(R) -> canonicalize -> in-batch dedupe
           -> [bloom prefilter] -> anti-join seen            -- P*, D1-D9
    commit, in order on the calling thread: fetched += R.ok;
            seen += new; [bloom += new]; frontier += new ∪ retries;
            claimed += S; metrics += counters; [budgets];
            [hostedges, hostrank]; [compaction]; round marker (atomic)

Lifecycle parity:
  * O10 termination: stop when the pending frontier is empty (finish.go:12-24)
  * O11/O12 checkpoint+recovery: the round marker file is the WAL commit;
    resume rolls partially-committed tables back to the last marker and
    re-runs the crashed round idempotently (index/recovery.go:9-60 ->
    snapshot-isolation semantics)
  * seencheck inserts at DISCOVERY time (enqueue), exactly like the
    reference (outlinks.go:59-63, crawl.go:217-235, capture.go:142-158),
    so a URL pending in the frontier is already in `seen` and can never
    be double-enqueued.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zeno_spark import schemas
from zeno_spark.catalog import Catalog
from zeno_spark.config import CrawlConfig
from zeno_spark.functions import urls as U
from zeno_spark.operators import dedup
from zeno_spark.operators.admission import apply_admission, apply_robots_gate
from zeno_spark.operators.extract import (
    content_candidates,
    extract_candidates,
    redirect_candidates,
    sitespecific_candidates,
)
from zeno_spark.operators.fetch import (
    attach_sink_payloads,
    fetch_meta,
    mark_cdx_revisits,
    mark_payload_revisits,
    split_results,
    to_fetched_rows,
)
from zeno_spark.operators.logfile import RoundLogger, StageTimer
from zeno_spark.operators.schedule import (
    backoff_retry_rows,
    politeness_schedule,
    schedulable,
)

_TABLES = (
    "frontier", "seen", "claimed", "fetched", "metrics", "metadata", "bloom",
    "robots_tbl", "budgets_tbl", "hostrank_tbl", "hostedges_tbl",
)

# storage buckets of the `seen` table: the bucket(N, (url_hash, url))
# layout makes the exact anti-join storage-partitioned (no per-round
# shuffle of the seen projection — catalog.py SnapshotTable).  Size N so
# one bucket's rows fit an executor's sort buffer at target scale
# (10^10 rows -> N ~ 2-4k on a real cluster).
SEEN_BUCKETS = 32


def seed_lines_with_total(
    spark: SparkSession, path: str
) -> tuple[DataFrame, int]:
    """S1 — URL-per-line seed file -> ((url, line), total_lines) with
    EXACT line numbers, fully native (no RDD round-trip, no driver-side
    read).  The total falls out of the pass-1 split aggregate for free,
    so callers that need it (argv URLs numbered after the file block)
    never pay a second full-file count() pass.

    zipWithIndex's algorithm, columnar: pass 1 aggregates one row per
    FILE SPLIT ((path, block_start) -> row count + min
    monotonically_increasing_id), which is O(#splits) driver state at
    any file size; the cumulative offsets broadcast back and pass 2
    computes line = split_offset + (mid - split_min_mid).  Exactness
    holds because a split's rows are contiguous and ascending in mid
    within their partition, and splits are numbered in (file, offset)
    order — byte order of the seed list, the same append order the
    reference's queue file preserves (queue/enqueue.go).  At a
    10^10-URL seed list both passes are distributed column scans; the
    old RDD zipWithIndex fallback deserialized every row through
    Python once and is gone."""
    raw = spark.read.text(path).select(
        F.col("value").alias("url"),
        F.col("_metadata.file_path").alias("__fp"),
        F.col("_metadata.file_block_start").alias("__bs"),
        F.monotonically_increasing_id().alias("__mid"),
    )
    splits = (
        raw.groupBy("__fp", "__bs")
        .agg(F.count(F.lit(1)).alias("__n"), F.min("__mid").alias("__m0"))
        .collect()
    )
    splits.sort(key=lambda r: (r["__fp"], r["__bs"]))
    rows, off = [], 0
    for s in splits:
        rows.append((s["__fp"], s["__bs"], off, s["__m0"]))
        off += s["__n"]
    if not rows:
        return spark.createDataFrame([], "url string, line long"), 0
    offsets = spark.createDataFrame(
        rows, "__fp string, __bs long, __off long, __m0 long"
    )
    numbered = raw.join(F.broadcast(offsets), ["__fp", "__bs"]).select(
        "url",
        (F.col("__off") + F.col("__mid") - F.col("__m0")).alias("line"),
    )
    return numbered, off


def _claim_key():
    """Unique key of a frontier row *attempt*: the item id plus the
    url/redirect/retry coordinates (a retry or redirect continuation of
    the same item is a distinct schedulable row)."""
    return F.concat_ws(
        "|", F.col("id"), F.col("url_hash"), F.col("redirect"), F.col("retry")
    )


@dataclass
class RoundStats:
    round: int
    scheduled: int
    fetched_ok: int
    discovered: int
    new_after_dedup: int
    retries: int = 0


class CrawlJob:
    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        pages: DataFrame,
        links: DataFrame,
        cfg: CrawlConfig,
        robots: DataFrame | None = None,
        clock=None,
        disk_free=None,
        sleep=None,
        transport=None,
    ):
        import shutil as _shutil
        import time as _time

        self.spark = spark
        self.cfg = cfg
        # fetch transport seam (operators/transport.py): None -> the
        # pages-table origin; an HttpTransport here turns the same plan
        # into a live crawler (tested against a local origin server in
        # tests/test_transport.py)
        self.transport = transport
        # injectable probes for the O7/O8 lifecycle guards (tests pass
        # fakes; production uses the real clock / statvfs)
        self._clock = clock or _time.monotonic
        self._disk_free = disk_free or (
            lambda path: _shutil.disk_usage(path).free
        )
        self._sleep = sleep or _time.sleep
        self.catalog = Catalog(spark, warehouse)
        self.pages = pages
        self.links = links
        self.robots = robots
        self.frontier = self.catalog.table("frontier", schemas.FRONTIER)
        # bucketed layout on the anti-join keys: the exact seen-check
        # plans as a storage-partitioned join — no per-round shuffle of
        # the seen projection (the documented 10^10-row scale fix in
        # operators/dedup.py; guarded by tests/test_planshape.py)
        self.seen = self.catalog.table(
            "seen", schemas.SEEN, bucket_spec=(SEEN_BUCKETS, ("url_hash", "url")),
        )
        self.claimed = self.catalog.table("claimed", schemas.CLAIMED)
        self.fetched = self.catalog.table("fetched", schemas.FETCHED)
        self.metrics = self.catalog.table("metrics", schemas.METRICS)
        # S7 side-record sink (WARC "metadata" record analogue,
        # capture.go:386-389): site-specific captures append here via
        # write_metadata_records; committed under the same round marker
        self.metadata = self.catalog.table("metadata", schemas.METADATA)
        self.bloom = self.catalog.table("bloom", schemas.BLOOM)
        # adaptive-politeness state: one AIMD recommendation per host,
        # folded incrementally per round (streaming/politeness.py
        # fold_budgets_step) — acceleration state like BLOOM, derivable
        # from the metrics lineage and rollback-consistent
        self.budgets_tbl = self.catalog.table("budgets", schemas.BUDGETS)
        # link-rank prioritization state: top hosts by PageRank over the
        # frontier's discovery edges (schemas.HOSTRANK); recomputed every
        # cfg.rank_priority_every rounds, consumed as a bounded broadcast
        self.hostrank_tbl = self.catalog.table("hostrank", schemas.HOSTRANK)
        # ...and its input: the per-round edge-delta fold (the
        # _update_bloom discipline applied to the discovery graph), so
        # a rank refresh reads O(edges) state, never the full frontier
        self.hostedges_tbl = self.catalog.table(
            "hostedges", schemas.HOSTEDGES
        )
        # live-robots cache as a CATALOG TABLE (not a driver-held union
        # chain): appended per round under the round marker, so lineage
        # depth stays constant, rollback keeps it consistent with the
        # rounds that fetched it, and a RESUMED crawl never re-fetches
        # robots for hosts it already covered.  `self.robots` stays the
        # optional user-supplied static cache; the effective gate input
        # is static ∪ table (_effective_robots).
        self.robots_tbl = self.catalog.table("robots", schemas.ROBOTS)
        # D8 remote tier — prior-crawl CDX index for cross-crawl payload
        # dedupe (crawl/crawl.go:97-98 CDXDedupeServer); parsed lazily
        # per round, column-pruned to (digest, ts, url), never payloads
        self.cdx_index: DataFrame | None = None
        if cfg.cdx_dedupe_dir:
            from ..operators.cdx import read_cdxj

            self.cdx_index = read_cdxj(spark, cfg.cdx_dedupe_dir)
        self.state_dir = os.path.join(warehouse, "_crawl_state")
        os.makedirs(self.state_dir, exist_ok=True)
        # structured per-round log (internal/pkg/log/log.go + rotate.go
        # analogue — operators/logfile.py); driver-side JSONL, rotated
        self.logger = (
            RoundLogger(
                os.path.join(warehouse, "_logs", "crawl.jsonl"),
                max_bytes=cfg.log_max_bytes,
                keep=cfg.log_keep,
            )
            if cfg.structured_log
            else None
        )
        if cfg.es_log_url:
            # Elasticsearch sink fan-out (log/elasticsearch.go +
            # multi_handler.go analogues — operators/eslog.py);
            # non-strict: a sink outage is counted, never kills a round
            from zeno_spark.operators.eslog import EsLogHandler, TeeLogger

            es = EsLogHandler(
                cfg.es_log_url,
                index_prefix=cfg.es_log_index_prefix,
                level=cfg.es_log_level,
                username=cfg.es_log_user,
                password=cfg.es_log_password,
            )
            self.logger = (
                TeeLogger(self.logger, es) if self.logger else es
            )

    def _log(self, event: str, **fields) -> None:
        if self.logger is not None:
            self.logger.log(event, **fields)

    # ------------------------------------------------------------------
    # checkpoint / resume (O11/O12)
    # ------------------------------------------------------------------

    def last_committed_round(self) -> int:
        rounds = [
            int(f[:-5])
            for f in os.listdir(self.state_dir)
            if f.endswith(".json") and f[:-5].isdigit()
        ]
        return max(rounds) if rounds else -1

    def _versions(self) -> dict[str, int]:
        return {t: getattr(self, t).current_version() for t in _TABLES}

    def _write_marker(self, name: str, payload: dict) -> None:
        tmp = os.path.join(self.state_dir, f".tmp-{name}")
        with open(tmp, "w") as fh:
            json.dump(payload, fh)
        os.rename(tmp, os.path.join(self.state_dir, name))  # commit point

    def _commit_round(self, round_no: int, stats: RoundStats) -> None:
        self._write_marker(
            f"{round_no:06d}.json",
            {"round": round_no, "versions": self._versions(), "stats": stats.__dict__},
        )

    def recover(self) -> int:
        """Roll tables back to the last committed marker (round or seed);
        returns the next round to run, -1 meaning 'needs seeding'.
        Partially committed work of a crashed round is dropped (orphan
        manifests removed) and the round re-runs idempotently."""
        last = self.last_committed_round()
        if last >= 0:
            marker, nxt = f"{last:06d}.json", last + 1
        elif os.path.exists(os.path.join(self.state_dir, "seeded.json")):
            marker, nxt = "seeded.json", 0
        else:
            marker, nxt = None, -1
        versions = {}
        if marker is not None:
            with open(os.path.join(self.state_dir, marker)) as fh:
                versions = json.load(fh)["versions"]
        for t in _TABLES:
            getattr(self, t).rollback_to(versions.get(t, 0))
        return nxt

    # ------------------------------------------------------------------
    # seeding (S1/S2 + D2)
    # ------------------------------------------------------------------

    def seed(self, seed_urls_df: DataFrame) -> int:
        """Round -1: parse/canonicalize the seed list, drop unparsable
        rows (item.go:76-80), dedupe (crawl.go:217-235), enqueue at hop 0.
        enqueue_seq = seed-file line order via the required `line`
        column (the batch analogue of append order).  File sources get
        it natively from ``seed_lines_with_total`` — there is no RDD
        fallback."""
        if "line" not in seed_urls_df.columns:
            raise ValueError(
                "seed list needs a `line` column (FIFO enqueue order); "
                "derive it with plans.crawl.seed_lines_with_total for a "
                "seed file"
            )
        raw = seed_urls_df.select("url", F.col("line").cast("long"))
        parsed = (
            raw.withColumn("__e", U.enrich_url_udf(F.lit(None), F.col("url")))
            .select(
                F.col("__e.url").alias("curl"),
                F.col("__e.url_hash").alias("url_hash"),
                F.col("__e.host").alias("host"),
                "line",
            )
            .filter(F.col("curl").isNotNull())
            .filter(F.col("host") != "")
        )
        items = parsed.select(
            F.sha1(F.concat_ws("|", F.lit("seed"), F.col("curl"))).alias("id"),
            F.col("curl").alias("url"),
            "url_hash",
            "host",
            F.lit(None).cast("string").alias("parent_url"),
            F.lit(0).alias("hop"),
            F.lit("seed").alias("type"),
            F.lit(False).alias("bypass_seencheck"),
            F.lit(0).alias("redirect"),
            F.lit(0).alias("retry"),
            F.col("line").alias("enqueue_seq"),
            F.lit(0).alias("discovered_round"),
            F.lit(0).alias("not_before_round"),
            F.lit(0).alias("priority"),
        )
        items = apply_admission(items, self.cfg)
        items = dedup.in_batch_dedupe(items)
        # `seen` is empty here (recover() rolled every table back to
        # version 0): the exact anti-join against it is already cheap,
        # and a bloom index over it would only add Spark jobs
        new = dedup.dedupe_against_seen(items, self.seen.read()).cache()
        try:
            n = new.count()  # materializes the cache (incl. first UDF
            # worker spin-up) so the two appends below only re-scan it
            self.frontier.append(new)
            self.seen.append(
                new.select("url_hash", "url", "type", F.lit(0).alias("round"))
            )
        finally:
            new.unpersist()
        self._write_marker("seeded.json", {"versions": self._versions(), "seeds": n})
        self._log("seeded", urls=n)
        return n

    # ------------------------------------------------------------------
    # the round
    # ------------------------------------------------------------------

    def pending_frontier(self) -> DataFrame:
        """Live frontier = appended rows minus claimed attempts (the
        equality-delete merge an Iceberg MOR read would do)."""
        claims = self.claimed.read().select(F.col("id").alias("_ck"))
        return self.frontier.read().join(
            claims, _claim_key() == F.col("_ck"), "left_anti"
        )

    def _adaptive_budgets(self) -> DataFrame | None:
        """Adaptive-politeness feedback (cfg.adaptive_politeness): each
        host's LATEST AIMD recommendation becomes its per-round budget
        override in the politeness window.  The state table is folded
        incrementally per committed round (`_update_budgets`) — reading
        it here is O(hosts), never O(rounds x hosts); equality with the
        full-history replay (streaming/politeness.py replay_budgets) is
        test-pinned.

        Only rows BELOW the base budget are returned: the configured
        per-host budget remains the politeness CEILING (AIMD growth
        above it is recovery headroom in the state, not a license to
        exceed the operator's bound), and the under-pressure set —
        hosts with recent 429s/conn-failures — is the small set, so
        the scheduler's broadcast stays tiny even at 10^8 frontier
        hosts (broadcasting every host's row would be GBs)."""
        if not self.cfg.adaptive_politeness:
            return None
        return (
            self.budgets_tbl.read()
            .filter(F.col("budget") < F.lit(self.cfg.per_host_budget))
            .select("host", "budget")
        )

    def _rank_boost(self, new_rows: DataFrame) -> DataFrame:
        """Link-rank frontier prioritization (cfg.rank_priority): newly
        discovered rows whose host is in the hostrank state (the top
        cfg.rank_priority_top hosts by PageRank over the discovery
        graph, `_update_hostrank`) enter the frontier at priority >= 1,
        so the politeness window (schedule.py: priority ranks above the
        fifo/lifo strategy order) pops them ahead of FIFO peers.  The
        rank side is bounded by config, so the join is always a tiny
        broadcast; carried priorities (redirect continuations) are
        never lowered (greatest)."""
        if not self.cfg.rank_priority:
            return new_rows
        top = self.hostrank_tbl.read().select(
            "host", F.lit(1).alias("__boost")
        )
        return (
            new_rows.join(F.broadcast(top), "host", "left")
            .withColumn(
                "priority",
                F.greatest(
                    F.col("priority"),
                    F.coalesce(F.col("__boost"), F.lit(0)),
                ),
            )
            .drop("__boost")
        )

    def _update_hostedges(self, appended: DataFrame) -> None:
        """Fold THIS round's frontier append into the persisted
        host-edge state (r4 verdict #7: the `_update_bloom`/
        `_update_budgets` incremental discipline, replacing the rank
        refresh's full frontier rescan).  ``appended`` is the cached
        new∪retries DF the frontier append itself writes, so the fold
        costs one narrow aggregate over rows already in memory — no
        table scan at all.

        Bootstrap: a warehouse whose edge state is empty while the
        frontier already has discovery rows (rank_priority turned on
        mid-crawl, or a pre-hostedges warehouse resumed) rebuilds once
        from the full frontier — which at that point already contains
        this round's append, so the delta is NOT added on top.

        Equivalence note (tested): retries duplicate (src, dst) pairs
        of their original rows and per-fold rows duplicate across
        rounds — both are absorbed by the rank walk's internal
        DISTINCT, so pagerank over this table is bit-identical to
        pagerank over a full frontier scan; ``weight`` sums are for
        traffic triage, compaction collapses duplicates."""
        from zeno_spark.datapipe.graph import host_link_edges

        if self.hostedges_tbl.row_count() == 0:
            self.hostedges_tbl.rewrite(
                host_link_edges(self.frontier.read())
            )
        else:
            self.hostedges_tbl.append(host_link_edges(appended))

    def _update_hostrank(self) -> None:
        """Recompute the hostrank state from the PERSISTED edge state
        (_update_hostedges; datapipe/graph.py fixed-point PageRank),
        truncated to the top cfg.rank_priority_top hosts (rank desc,
        host asc tiebreak — deterministic).  Runs every
        cfg.rank_priority_every rounds inside the round's commit scope,
        so a crash before the marker rolls it back with everything
        else; like BLOOM/BUDGETS it is pure acceleration state,
        derivable from the frontier table.

        Scale note (r4 verdict #7 closed): the refresh reads one row
        per (src_host, dst_host) per fold — O(host-graph), orders of
        magnitude under the 10^10-row frontier the old full rescan
        touched; the PageRank iteration state is one bigint pair per
        HOST.  The cadence knob amortizes the K join+agg rounds, not a
        frontier scan anymore."""
        from zeno_spark.datapipe.graph import pagerank

        edges = self.hostedges_tbl.read().select(
            F.col("src_host").alias("src"), F.col("dst_host").alias("dst")
        )
        ranks = pagerank(edges, iters=self.cfg.rank_priority_iters)
        top = (
            ranks.orderBy(F.col("rank_micro").desc(), F.col("node").asc())
            .limit(self.cfg.rank_priority_top)
            .select(F.col("node").alias("host"), "rank_micro")
        )
        self.hostrank_tbl.rewrite(top)

    def _update_budgets(self, metric_rows: DataFrame, round_no: int) -> None:
        """Fold this round's per-host metrics into the budget state —
        one native AIMD transition (politeness.fold_budgets_step), the
        same incremental-maintenance discipline as `_update_bloom`.
        Inside the round's commit scope: a crash before the marker
        rolls the state back with everything else, and the fold is
        idempotent on re-run (rounds <= last_round leave state
        unchanged)."""
        from zeno_spark.streaming.politeness import fold_budgets_step

        new_state = fold_budgets_step(
            self.budgets_tbl.read(),
            metric_rows,
            base=self.cfg.per_host_budget,
            min_budget=self.cfg.adaptive_min_budget,
            max_budget=self.cfg.adaptive_max_budget,
        )
        self.budgets_tbl.rewrite(new_state)

    # ------------------------------------------------------------------
    # D9 incremental bloom maintenance
    # ------------------------------------------------------------------

    def _bloom_index(self) -> DataFrame | None:
        """The persisted prefilter state.  Bootstrapped from the seen
        table the first time the flag is on for this warehouse (an
        empty index over a non-empty seen set would be a
        false-negative oracle); after that every round ORs only its
        delta in (_update_bloom) — no full seen scan per round, which
        at a 10^10-row seen set would otherwise dominate the round."""
        if not self.cfg.bloom_prefilter:
            return None
        if self.bloom.current_version() == 0:
            self.bloom.rewrite(
                dedup.build_bloom_index(self.seen.read(), headroom=2)
            )
        return self.bloom.read()

    def _update_bloom(self, new_hashes: DataFrame) -> None:
        """Fold this round's newly-seen url_hashes into the bloom table.
        Only buckets whose design load is exceeded (or that sit in the
        batch-built cuckoo overflow tier) are rebuilt, from the
        POST-append seen table — the exact authority — with 2x
        headroom so rebuild cost amortizes geometrically.  Runs before
        the round marker: a crash in between rolls bloom and seen back
        together, preserving the superset invariant."""
        merged = dedup.merge_bloom_index(
            self.bloom.read(), new_hashes.select("url_hash")
        ).cache()
        flagged = [
            r.bucket
            for r in merged.filter(F.col("rebuild")).select("bucket").collect()
        ]
        keep = merged.filter(~F.col("rebuild")).drop("rebuild")
        if flagged:
            rebuilt = dedup.build_bloom_index(
                self.seen.read().filter(
                    dedup.bucket_of("url_hash", dedup.BLOOM_BUCKETS).isin(flagged)
                ),
                headroom=2,
            )
            keep = keep.unionByName(rebuilt)
        self.bloom.rewrite(keep)
        merged.unpersist()

    def run_round(self, round_no: int) -> RoundStats:
        """One round, gate to round marker.  The round's cached
        intermediates are released whether it commits or raises, so an
        in-process retry of a failed round does not pile up caches."""
        cached: list[DataFrame] = []

        def cache(df: DataFrame) -> DataFrame:
            cached.append(df)
            return df.cache()

        try:
            return self._round(round_no, cache)
        finally:
            for df in cached:
                df.unpersist()

    def _round(self, round_no: int, cache) -> RoundStats:
        cfg = self.cfg
        timer = StageTimer()
        self._log("round_start", round=round_no)
        pending = self.pending_frontier()
        eligible = schedulable(pending, round_no)
        gated = apply_admission(eligible, cfg)
        sitemap_cand = None
        if cfg.robots and cfg.live_robots and self.transport is not None:
            # F10 live tier: fetch robots.txt through the transport for
            # hosts not yet in the cache, BEFORE the gate reads it.
            # Newly fetched robots may carry Sitemap: directives; those
            # come back as hop-0 seed candidates and join the round's
            # candidate set below (dedup/admission like any discovery).
            with timer.stage("robots"):
                sitemap_cand = self._refresh_robots(gated, round_no)
        robots_cache = self._effective_robots() if cfg.robots else None
        if robots_cache is not None:
            gated = apply_robots_gate(gated, robots_cache)
        sched = cache(politeness_schedule(
            gated, cfg, delays=robots_cache,
            budgets=self._adaptive_budgets(),
            round_no=round_no,
        ))

        # NARROW fetch result (no payload bytes) — the ONLY cacheable
        # round intermediate.  Payload bytes never enter a cache (the
        # columnar cache builder does several full copies + per-value
        # stats + a dictionary attempt per BINARY cell — measured:
        # minutes of pure CPU on a GB-scale corpus, anti-scaling with
        # task slots), never shuffle, and never round-trip Python.
        results = cache(
            fetch_meta(sched, self.pages, cfg, transport=self.transport)
        )
        # Materialize NOW, in one clean job, before any action whose
        # plan broadcasts a subtree of it: Spark launches broadcast-
        # exchange jobs concurrently ahead of the main query, and on a
        # COLD cache each recomputes the same partitions (cache writes
        # dedupe, compute does not).  One count() => decode runs exactly
        # once per round; everything downstream reads the warm cache.
        with timer.stage("fetch"):
            results.count()
        ok, redirects, retryable, _dead = split_results(results)
        # D8: payload dedupe on the sink path only — the extract path
        # reads `ok` untouched (revisit marking never changes routing)
        if cfg.payload_dedupe:
            sink_src = mark_payload_revisits(
                ok, self.fetched.read(), cfg.payload_dedupe_min_size
            )
        else:
            sink_src = ok
        if self.cdx_index is not None:
            # remote tier AFTER local (the reference's precedence:
            # LocalDedupe short-circuits before the CDX lookup) — local
            # originals whose digest is archived in the prior crawl
            # become refers-to-carrying revisits.  Independent of the
            # local tier: cdx_dedupe_dir with payload_dedupe=False still
            # dedupes against the archive (every row is then a local
            # "original"), never a silent no-op.
            sink_src = mark_cdx_revisits(
                sink_src, self.cdx_index, cfg.payload_dedupe_min_size
            )
        # sink pass: bytes rejoin from a second column-pruned origin
        # scan (parquet scan -> parquet write, no Python, no shuffle).
        # A live transport has no origin table to re-scan — its payload
        # bytes were already recorded to WARC as they streamed
        # (transport.warc_dir), so the table row keeps metadata+digest
        # only, like the reference's WARC-pointer records.
        if self.pages is not None:
            sink_full = attach_sink_payloads(sink_src, self.pages)
        else:
            sink_full = sink_src.withColumn(
                "bytes", F.lit(None).cast("binary")
            )
        fetched_rows = to_fetched_rows(sink_full, round_no)

        if getattr(self.transport, "extract", False):
            # live extraction: the transport worker already ran P1-P12
            # on each body; candidates explode out of the result arrays
            # (covers every content type the extractors route)
            cand = content_candidates(ok, cfg, round_no)
        else:
            ok_html = ok.filter(F.col("content_type") == "text/html")
            cand = extract_candidates(ok_html, self.links, cfg, round_no)
        cand = cand.unionByName(redirect_candidates(redirects, cfg, round_no))
        # §2.7 derived captures (API/embed/CDN rewrites) join the same
        # candidate pipeline; a no-op on corpora without the matching
        # hosts (native when-chain expands to empty)
        cand = cand.unionByName(sitespecific_candidates(ok, cfg, round_no))
        if sitemap_cand is not None:
            # robots-discovered sitemap URLs enter the SAME dedup +
            # frontier path as every other candidate
            cand = cand.unionByName(sitemap_cand)
        cand = cache(cand)

        in_batch = dedup.in_batch_dedupe(cand)
        new = cache(self._rank_boost(
            dedup.dedupe_against_seen(
                in_batch, self.seen.read(), use_bloom=cfg.bloom_prefilter,
                bloom_index=self._bloom_index(),
            )
        ))

        frontier_cols = [f.name for f in schemas.FRONTIER.fields]
        retries = backoff_retry_rows(retryable, round_no, cfg).select(*frontier_cols)

        # ---- per-host lineage/counters ----
        # `results` is 1:1 with `sched` (fetch emits one row per scheduled
        # row), so conditional projections over it yield five of the
        # seven counters; `cand`/`new`/`sink_src` contribute the rest.
        # ONE shuffle: the four sources union as raw per-row contribution
        # vectors and a single groupBy(host) aggregates them — map-side
        # partial aggregation collapses each input partition to n_hosts
        # rows before the exchange, so the shuffle carries the same
        # volume as the old per-source pre-agg form but drops its four
        # intermediate exchange layers (fixed per-round latency, and at
        # 1000 executors four fewer stage barriers per round).
        kinds = [
            "scheduled", "fetched_ok", "fetched_err", "redirects",
            "retries", "discovered", "new_after_dedup",
            "payload_bytes", "deduped_bytes",
        ]
        is_ok = F.col("status") == 200
        is_redir = F.col("status").between(300, 399) & F.col("redirect_to").isNotNull()
        is_retry = F.col("status").isin(429, 0) & (
            F.col("retry") + 1 <= F.lit(cfg.max_retry)
        )
        zero = F.lit(0).cast("long")

        def _contrib(df, **exprs):
            return df.select(
                "host", *[exprs.get(k, zero).cast("long").alias(k)
                          for k in kinds]
            )

        one = F.lit(1)
        # byte lineage over the post-revisit-marking sink rows: the
        # narrow payload_size column (measured once, in the verify scan)
        # splits into octets sunk vs octets D8 saved — the reference's
        # warc.DataTotal / LocalDedupeTotal counters (crawl/stats.go:59-63)
        revisit_col = (
            F.col("revisit") if "revisit" in sink_src.columns else F.lit(False)
        )
        psize = F.coalesce(F.col("payload_size"), F.lit(0))
        metric_rows = cache(
            _contrib(
                results,
                scheduled=one, fetched_ok=is_ok.cast("long"),
                fetched_err=(~is_ok).cast("long"),
                redirects=is_redir.cast("long"),
                retries=is_retry.cast("long"),
            )
            .unionByName(_contrib(
                sink_src,
                payload_bytes=F.when(~revisit_col, psize).otherwise(zero),
                deduped_bytes=F.when(revisit_col, psize).otherwise(zero),
            ))
            .unionByName(_contrib(cand, discovered=one))
            .unionByName(_contrib(new, new_after_dedup=one))
            .groupBy("host")
            .agg(*[F.sum(k).alias(k) for k in kinds])
            .select(
                F.lit(round_no).cast("int").alias("round"),
                "host",
                *[F.col(k).cast("long").alias(k) for k in kinds],
            )
        )

        # ---- round commits (atomic marker last) ----
        # results.count() above already filled the sched+results caches;
        # seen.append fills cand+new.  Every commit runs on this thread,
        # in this order: fetched, seen, bloom, frontier, claimed,
        # metrics, budgets, then hostedges/hostrank and compaction.  Each
        # table commits independently; the round marker (below) is the
        # only commit point recovery trusts.
        with timer.stage("sink_commit"):
            self.fetched.append(fetched_rows)
            self.seen.append(
                new.select(
                    "url_hash", "url", "type", F.lit(round_no + 1).alias("round")
                )
            )
            if cfg.bloom_prefilter:
                # incremental D9 maintenance (no full seen rescan):
                # rebuilds read the post-append table, the merge reads
                # the warm `new` cache
                self._update_bloom(new)
        with timer.stage("state_commit"):
            self.frontier.append(new.unionByName(retries))
            self.claimed.append(
                sched.select(
                    _claim_key().alias("id"), F.lit(round_no).alias("round")
                )
            )
            self.metrics.append(metric_rows)
            if cfg.adaptive_politeness:
                # incremental AIMD fold (reads only the cached
                # metric_rows + the state table)
                self._update_budgets(metric_rows, round_no)
        # round totals from the (cached) per-host lineage — one small agg
        # instead of a count() job per intermediate
        with timer.stage("totals"):
            totals = metric_rows.groupBy().agg(
                *[F.sum(k).alias(k) for k in kinds]
            ).collect()[0]

        # link-rank state maintenance (sequential, AFTER the frontier
        # append so this round's discoveries join the graph; still
        # inside the commit scope — the marker below is the only
        # trusted point): the edge-delta fold runs EVERY round (a
        # narrow aggregate over the cached new∪retries rows), the
        # K-iteration rank refresh on its cadence — and reads only the
        # folded edge state, never the frontier
        if cfg.rank_priority:
            with timer.stage("hostrank"):
                self._update_hostedges(new.unionByName(retries))
                if (round_no + 1) % max(1, cfg.rank_priority_every) == 0:
                    self._update_hostrank()

        # compaction (inside the round's commit scope: a crash before the
        # marker rolls the rewrite back with everything else)
        if cfg.compact_every and (round_no + 1) % cfg.compact_every == 0:
            with timer.stage("compact"):
                self.compact()

        stats = RoundStats(
            round_no,
            totals["scheduled"] or 0,
            totals["fetched_ok"] or 0,
            totals["discovered"] or 0,
            totals["new_after_dedup"] or 0,
            totals["retries"] or 0,
        )
        self._commit_round(round_no, stats)
        self._log("round_end", **stats.__dict__, **timer.timings)
        return stats

    def write_metadata_records(
        self,
        records: DataFrame,
        round_no: int,
        record_type: str = "metadata",
        content_type: str = "application/json",
    ) -> int:
        """S7 — append WARC-style side records (capture.go:386-389: the
        reference writes yt-dlp's raw JSON as a `metadata` record next
        to the capture).  `records` needs (url, payload) columns; the
        append participates in the same snapshot/rollback discipline as
        every other table (the round marker commits it)."""
        rows = records.select(
            "url",
            F.lit(record_type).alias("record_type"),
            F.lit(content_type).alias("content_type"),
            F.col("payload").cast("binary").alias("payload"),
            F.lit(round_no).cast("int").alias("round"),
        )
        return self.metadata.append(rows)

    def _effective_robots(self) -> DataFrame | None:
        """The gate's input: the user-supplied static cache (if any)
        union the persisted live-fetched table.  The table read is a
        fresh scan each round — no per-round lineage growth — and the
        emptiness probe is manifest metadata, zero Spark jobs."""
        live = (
            self.robots_tbl.read()
            if self.robots_tbl.row_count() > 0 else None
        )
        if self.robots is None:
            return live
        if live is None:
            return self.robots
        # a user-supplied cache may predate the `sitemaps` column
        return self.robots.unionByName(live, allowMissingColumns=True)

    def _refresh_robots(self, admitted: DataFrame,
                        round_no: int) -> DataFrame | None:
        """Fetch robots.txt for hosts this round would touch that the
        cache doesn't cover yet, and APPEND them to the robots table
        (round-marker commit scope: a crash rolls the fetch back with
        the round; a resume reads the committed rows instead of
        re-fetching).  The cache is one row per host, so the per-round
        cost is one bounded transport batch — and zero fetch jobs on rounds that introduce no new
        host.

        Returns hop-0 seed candidates for any ``Sitemap:`` directives
        the NEW robots rows carry (cfg.robots_sitemaps), or None.  The
        sitemap subset is localCheckpointed before this method's cache
        is released: the candidate DF is consumed later in the round,
        and recomputing it from lineage would re-run the transport
        fetch (double-counting robots hits and double-billing the
        wire)."""
        from zeno_spark.operators.robots import (
            fetch_robots_live,
            robots_sitemap_candidates,
        )

        hosts = admitted.select("host").distinct()
        covered = self._effective_robots()
        if covered is not None:
            hosts = hosts.join(
                covered.select("host"), "host", "left_anti"
            )
        new = fetch_robots_live(hosts, self.transport).cache()
        sitemap_cand = None
        if new.count() > 0:
            self.robots_tbl.append(new)
            if self.cfg.robots_sitemaps:
                sm = (
                    new.filter(F.size(F.col("sitemaps")) > 0)
                    .select("host", "sitemaps")
                    .localCheckpoint(eager=True)
                )
                sitemap_cand = robots_sitemap_candidates(
                    sm, self.cfg, round_no
                )
        new.unpersist()
        return sitemap_cand

    def phash_near_dups(self, max_hamming: int = 3) -> DataFrame:
        """Perceptual near-dup marks over the fetched sink — the
        phash-tier extension of D8 (byte-identical revisit records,
        crawl/crawl.go:96-99): re-encoded/recompressed copies of an
        already-captured picture, keyed to their earlier keeper.  Run it
        like compaction — an offline/post-round maintenance job reading
        the committed snapshot; it never mutates round state."""
        from zeno_spark.datapipe.multimodal import phash_near_dup_marks

        return phash_near_dup_marks(self.fetched.read(), max_hamming)

    def compact(self) -> None:
        """Fold claimed-deletes into the frontier (Iceberg RewriteDataFiles
        analogue) so pending_frontier stays an O(live) scan as rounds
        accumulate; then expire snapshot history outside the recovery
        window (Iceberg expireSnapshots analogue) so manifests and
        shadowed/orphaned data files don't grow without bound over a
        long crawl.  keep_last=16 comfortably covers every version the
        last committed round marker can roll back to."""
        live = self.pending_frontier().cache()
        live.count()
        self.frontier.rewrite(live)
        self.claimed.truncate()
        live.unpersist()
        # binpack the append-per-round state tables (Iceberg
        # RewriteDataFiles' small-file binpacking): robots/metrics/
        # metadata accrete one tiny file batch per round, and every
        # scan pays per-file open cost — a years-long crawl's robots
        # cache would be 10^5 files of a few rows each.  A plain
        # rewrite(read()) IS the binpack: the scan coalesces small
        # files into maxPartitionBytes-sized splits, so the rewrite
        # emits ~size/128MB files regardless of input fragmentation.
        # The trigger is free manifest metadata; `fetched` is excluded
        # from THIS path (re-writing payload bytes every compaction
        # cycle is exactly the payload-discipline violation the plan
        # forbids) and handled below with the size-filtered binpack.
        for t in ("robots_tbl", "metrics", "metadata"):
            tbl = getattr(self, t)
            if tbl.file_count() > self.cfg.compact_file_trigger:
                tbl.rewrite(tbl.read())
        # hostedges binpack additionally COLLAPSES per-fold duplicate
        # (src, dst) rows (weights sum) — same distinct-edge set, so
        # the rank walk is unaffected; the table shrinks to one row per
        # host pair
        if self.hostedges_tbl.file_count() > self.cfg.compact_file_trigger:
            self.hostedges_tbl.rewrite(
                self.hostedges_tbl.read()
                .groupBy("src_host", "dst_host")
                .agg(F.sum("weight").alias("weight"))
            )
        # `fetched` grows one file batch per round forever; bound its
        # live file count with the manifest-level small-file merge:
        # write-sized payload files are re-referenced (metadata only,
        # bytes untouched), only the sub-target tail streams through a
        # narrow scan->write (catalog.compact_small_files docstring)
        if self.fetched.file_count() > self.cfg.compact_file_trigger:
            self.fetched.compact_small_files()
        for t in _TABLES:
            getattr(self, t).expire_snapshots(keep_last=16)

    # ------------------------------------------------------------------
    # the fixpoint loop (O10)
    # ------------------------------------------------------------------

    def run(self, seeds: DataFrame | None = None, max_rounds: int | None = None) -> list[RoundStats]:
        start = self.recover()
        if start < 0:
            if seeds is None:
                raise ValueError("fresh job needs a seed list")
            pending = self.seed(seeds)
            start = 0
        else:
            # one-time on resume; per-round the count is maintained
            # incrementally from the round's own lineage (every scheduled
            # row is claimed; new ∪ retries are the only appends), so the
            # O10 emptiness probe costs zero extra Spark jobs per round.
            pending = self.pending_frontier().count()
            self._log("resumed", next_round=start, pending=pending)
        max_rounds = max_rounds or self.cfg.max_rounds
        out: list[RoundStats] = []
        t_start = self._clock()
        for r in range(start, max_rounds):
            if pending <= 0:
                break  # O10: queue empty -> finish (finish.go:12-24)
            # O8 soft finish: stop scheduling new rounds past the crawl
            # time limit (crawl/crawl.go:60-64); the last committed round
            # marker is the graceful-shutdown checkpoint
            limit = self.cfg.crawl_time_limit_sec
            if limit is not None and self._clock() - t_start >= limit:
                break
            # O7: pause while free disk is below the floor
            # (crawl/utils.go:42-57 — the reference sleeps and re-probes;
            # identical here, with the probe injectable for tests)
            while (
                self.cfg.min_disk_space_bytes
                and self._disk_free(self.catalog.warehouse)
                < self.cfg.min_disk_space_bytes
            ):
                self._log(
                    "disk_pause", level="warn", round=r,
                    free_bytes=self._disk_free(self.catalog.warehouse),
                )
                self._sleep(self.cfg.disk_check_interval_sec)
            stats = self.run_round(r)
            out.append(stats)
            pending += stats.new_after_dedup + stats.retries - stats.scheduled
            # O8 hard kill at limit * 1.1 (crawl/crawl.go:65-68 — the
            # reference os.Exit(1)s; the batch analogue raises after the
            # round's atomic commit, leaving a resumable checkpoint)
            if limit is not None and self._clock() - t_start >= limit * 1.1:
                self._log("hard_time_limit", level="error", round=r)
                raise TimeoutError(
                    f"crawl exceeded hard time limit ({limit}s * 1.1); "
                    f"resume from round {r + 1}"
                )
        self._log(
            "crawl_finished", rounds=len(out),
            wall_sec=round(self._clock() - t_start, 3),
        )
        return out
