"""Physical-plan regression guards: the scale properties the operators
claim (no cartesian pair generation, broadcasts on small sides, filter
pushdown into the parquet scans) asserted from `.explain()` output, so
a refactor that silently degrades the plan fails loudly — even though
small-corpus results would still be correct.
"""

from __future__ import annotations

import numpy as np
import pytest

from zeno_spark.datapipe import dedup as dd
from zeno_spark.datapipe import similarity as sim

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def embs(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def test_pair_operators_never_cartesian(docs, embs):
    """Every pair-finding operator generates candidates with equi-joins
    (posting/band/block/cell keys) — a CartesianProduct anywhere means
    the quadratic fallback snuck back in."""
    from pyspark.sql import functions as F

    from zeno_spark.datapipe import multimodal as mm

    phashes = docs.select(
        F.col("doc_id").cast("string").alias("image_id"),
        F.xxhash64("text").alias("phash"),
    )
    for df in (
        dd.jaccard_pairs(docs),
        dd.minhash_lsh_pairs(docs),
        dd.simhash_pairs(docs),
        sim.cosine_pairs(embs),
        mm.phash_pairs(phashes),
        mm.phash_marks_over_docs(docs),
    ):
        assert "CartesianProduct" not in _plan(df)


def test_content_candidates_stay_narrow(spark):
    """Live-extraction candidates (explode of in-worker arrays) must be
    a narrow chain over the fetch result — no shuffle, no join, until
    the downstream dedupe needs one."""
    from pyspark.sql import functions as F

    from zeno_spark.config import CrawlConfig
    from zeno_spark.operators.extract import content_candidates
    from zeno_spark.operators.fetch import FETCH_META

    ok = spark.createDataFrame([], schema=FETCH_META)
    plan = _plan(content_candidates(ok, CrawlConfig(), 0))
    assert "Exchange" not in plan  # no shuffle introduced
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_ann_plans_broadcast_the_small_side(embs):
    """Top-k plans: the tiny side (queries / centroids / probes) is
    broadcast; the corpus is never nested-loop-joined against anything
    bigger than that constant-size side."""
    for df in (
        sim.cosine_topk(embs),
        sim.lsh_ann_topk(embs),
        sim.ivf_topk(embs),
    ):
        plan = _plan(df)
        assert "BroadcastExchange" in plan
        assert "CartesianProduct" not in plan
    # ivf's only nested loop is the nlist-row centroid cross — rank
    # windows must use the pushed-down group-limit, not a full sort
    assert "WindowGroupLimit" in _plan(sim.ivf_topk(embs))


def test_admission_filters_push_into_scan(spark):
    """The frontier admission gates are native column predicates that
    must reach the parquet scan (PushedFilters), not sit above a full
    materialization."""
    from zeno_spark.queries import q_admission_filter

    plan = _plan(q_admission_filter(spark, SF_DIR))
    assert "PushedFilters: [" in plan
    # at least one real predicate pushed (not an empty list)
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert pushed.strip(), "no predicates pushed into the scan"


def test_column_pruning_reaches_scan(docs):
    """A projection query must scan only the needed columns."""
    df = dd.exact_dedup(docs)
    plan = _plan(df)
    scan = plan[plan.index("ReadSchema") :].splitlines()[0]
    assert "text" in scan and "doc_id" in scan
    # the documents table's other columns must not be read
    assert "lang" not in scan and "n_chars" not in scan


def test_embedding_oracle_dim_guard(embs):
    """The similarity operators fold over the WHOLE embedding array; the
    fixture dim must match the declared DIM so Spark and the oracle
    compare the same fold (a mismatch must be caught here, loudly)."""
    row = embs.select("embedding").head()
    assert len(row.embedding) == sim.DIM
    assert np.isfinite(np.asarray(row.embedding, dtype=np.float64)).all()


def test_seen_antijoin_never_degrades_to_bnlj(spark, tmp_path):
    """The bloom-tagged anti-join keeps `maybe_seen` as a RESIDUAL
    condition next to the two equi-keys.  Catalyst must keep planning
    it as an equi anti-join (SMJ/SHJ/broadcast-hash) — if a Spark
    upgrade ever degrades it to BroadcastNestedLoopJoin, a crawl round
    at real scale dies; fail here first."""
    from pyspark.sql import functions as F

    from zeno_spark.operators.dedup import build_bloom_index, dedupe_against_seen

    seen = spark.range(0, 5000).select(
        F.xxhash64(F.col("id").cast("string")).alias("url_hash"),
        F.concat(F.lit("http://h/"), F.col("id")).alias("url"),
    )
    cand = spark.range(4000, 6000).select(
        F.xxhash64(F.col("id").cast("string")).alias("url_hash"),
        F.concat(F.lit("http://h/"), F.col("id")).alias("url"),
        F.lit(0).cast("long").alias("enqueue_seq"),
    )
    out = dedupe_against_seen(cand, seen, use_bloom=True)
    plan = _plan(out)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "LeftAnti" in plan
    # the residual must ride the equi-join as a join condition
    assert "maybe_seen" in plan


def test_bucketed_seen_join_shape_in_crawl(spark, tmp_path):
    """End-to-end guard on the crawl's own seen table: after a real
    CrawlJob seed+round, the exact anti-join against job.seen.read()
    is storage-partitioned (bucket-aware scan, no Exchange on the seen
    side) once broadcast is off — the layout VERDICT r02 demanded."""
    from pyspark.sql import functions as F

    from zeno_spark import fixtures
    from zeno_spark.config import CrawlConfig
    from zeno_spark.operators.dedup import anti_join_seen
    from zeno_spark.plans.crawl import CrawlJob

    corpus = fixtures.build_corpus(spark, n_pages=120, n_hosts=8, seed=42)
    cfg = CrawlConfig(max_hops=2, per_host_budget=8, max_rounds=2,
                      bloom_prefilter=True)
    job = CrawlJob(spark, str(tmp_path / "wh_bkt"), corpus["pages"],
                   corpus["links"], cfg)
    job.run(seeds=corpus["seeds"], max_rounds=2)
    cand = corpus["pages"].select(
        F.xxhash64("url").alias("url_hash"), "url")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = _plan(anti_join_seen(cand, job.seen.read()))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "Bucketed: true" in plan
    assert "SelectedBucketsCount" in plan
    # the join's RIGHT (seen) subtree is printed last: the lines of the
    # left subtree carry the ":"-rail prefix, the right child is the
    # first un-railed "+- " child after the join.  No Exchange may sit
    # anywhere in that subtree — the bucketed scan feeds the join's
    # sort directly.
    lines = plan.splitlines()
    join_at = next(
        i for i, ln in enumerate(lines) if "SortMergeJoin" in ln
    )
    right_at = next(
        i for i in range(join_at + 1, len(lines))
        if lines[i].lstrip().startswith("+- ") and ":" not in
        lines[i][: lines[i].index("+- ")]
    )
    right = "\n".join(lines[right_at:])
    assert "FileScan parquet" in right
    assert "Exchange" not in right


def test_robots_gate_scale_path_drops_the_forced_broadcast(spark, tmp_path):
    """The robots cache grows with every host a wide crawl ever meets, so
    the gate's join carries no broadcast hint and Spark's planner picks
    the strategy from the cache's size: at the session threshold the
    small cache broadcasts, and with the planner's broadcasting disabled
    (a cache past the threshold) the gate plans a salted equi shuffle
    join, never a nested-loop join or a cartesian product.  The cache is
    a parquet scan, like the crawl's robots table, so the planner knows
    its size."""
    from pyspark.sql import functions as F

    from zeno_spark import schemas
    from zeno_spark.operators.admission import apply_robots_gate

    cand = spark.range(0, 100).select(
        F.concat(F.lit("http://h"), F.col("id") % 7, F.lit(".com/p"),
                 F.col("id")).alias("url"),
        F.concat(F.lit("h"), F.col("id") % 7, F.lit(".com")).alias("host"),
    )
    spark.createDataFrame(
        [("h1.com", ["/p1"], None, [])], schema=schemas.ROBOTS
    ).write.parquet(str(tmp_path / "robots"))
    robots = spark.read.parquet(str(tmp_path / "robots"))
    small = _plan(apply_robots_gate(cand, robots))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        large = _plan(apply_robots_gate(cand, robots))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "BroadcastExchange" in small
    assert "BroadcastExchange" not in large
    assert "BroadcastNestedLoopJoin" not in large
    assert "CartesianProduct" not in large


def test_candidate_joins_declare_explicit_parallelism(docs, embs):
    """AQE-coalesce guard (datapipe/partitioning.py): every candidate
    self-join's banded sides carry a user-specified RepartitionByExpression
    on the join keys, exempting the exchange from AQE's partition
    coalescing (AQE sizes by the tiny banded INPUT and cannot see the
    quadratic candidate OUTPUT — without the spread, pair generation
    collapses to a single-task straggler)."""
    from zeno_spark.datapipe import multimodal as mm

    def logical(df) -> str:
        return df._jdf.queryExecution().optimizedPlan().toString()

    pair_plans = {
        "simhash": logical(dd.simhash_pairs(docs)),
        "jaccard": logical(dd.jaccard_pairs(docs)),
        "minhash_lsh": logical(dd.minhash_lsh_pairs(docs)),
        "cosine": logical(sim.cosine_pairs(embs)),
        "phash": logical(mm.phash_marks_over_docs(docs)),
    }
    for name, plan in pair_plans.items():
        assert "RepartitionByExpression" in plan, name


def test_rank_boost_join_stays_broadcast(spark, tmp_path):
    """The link-rank priority boost joins new frontier rows against the
    hostrank state, which is bounded by cfg.rank_priority_top — the
    join must therefore be a broadcast (never a shuffle of the frontier
    side on host)."""
    from pyspark.sql import functions as F

    from zeno_spark.config import CrawlConfig
    from zeno_spark.plans.crawl import CrawlJob

    cfg = CrawlConfig(rank_priority=True, rank_priority_top=4)
    pages = spark.createDataFrame(
        [], "url string, host string, image_id string, bytes binary, "
            "w int, h int, fmt string, caption string, phash long, "
            "status int")
    job = CrawlJob(spark, str(tmp_path / "wh"), pages, None, cfg)
    job.hostrank_tbl.append(spark.createDataFrame(
        [("h1.com", 1000000), ("h2.com", 900000)],
        "host string, rank_micro long"))
    new = spark.createDataFrame(
        [("http://h1.com/a", "h1.com", 0), ("http://x.com/b", "x.com", 0)],
        "url string, host string, priority int")
    boosted = job._rank_boost(new)
    plan = boosted._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    got = {r.host: r.priority for r in boosted.collect()}
    assert got == {"h1.com": 1, "x.com": 0}
