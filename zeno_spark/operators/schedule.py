"""Politeness scheduling, O1-O5 (SURVEY §2.4).

The reference interleaves hosts round-robin (one item per host per turn,
hosts in first-seen order, FIFO within host — queue/dequeue.go:135-158 +
index/index.go:49-90) and *intends* a per-host concurrency cap of 16
(--max-concurrent-per-domain, cmd/get.go:53; the enforcement is dead
code, crawl/utils.go:81-84).

Batch equivalent: one crawl round takes the first `per_host_budget` items
of every host, FIFO by enqueue_seq:

    row_number() OVER (PARTITION BY host ORDER BY enqueue_seq) <= budget

which is exactly k turns of Zeno's round-robin for every host, and an
*exact* enforcement of the per-domain cap the reference never wired up.

Skew (the north rule's hot-host concern): a wide-crawl frontier is
zipf-distributed, so PARTITION BY host alone puts a hot host's millions
of pending rows through one window task.  Two-phase top-k fixes it:

  phase 1: rank within (host, salt) where salt = url_hash % buckets —
           parallel across buckets, keeps <= budget rows per salt bucket
  phase 2: exact rank within host over the <= budget*buckets survivors

Phase 2's input is tiny (budget*buckets rows/host), so the exact window
is cheap; results are identical to the unsalted window because FIFO rank
within host only needs the global smallest `budget` enqueue_seqs, and
every one of them survives its salt bucket's local top-`budget`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from zeno_spark.config import CrawlConfig


def schedulable(frontier: DataFrame, round_no: int) -> DataFrame:
    """Rows eligible this round: retry backoff gate (O5) — pushed down to
    the frontier scan as a native predicate."""
    return frontier.filter(F.col("not_before_round") <= F.lit(round_no))


def politeness_schedule(
    frontier: DataFrame,
    cfg: CrawlConfig,
    delays: DataFrame | None = None,
    budgets: DataFrame | None = None,
    round_no: int | None = None,
) -> DataFrame:
    """Pick this round's fetch set: per-host FIFO top-`per_host_budget`.

    ``delays`` (optional) is a tiny (host, crawl_delay) frame — the
    robots cache — mapping a host's Crawl-delay to a SHRUNK per-round
    budget: one round models ``cfg.round_seconds`` of wall clock (the
    same logical clock streaming/live.py uses), so a host asking for
    d-second spacing gets min(budget, max(1, floor(round_seconds/d)))
    fetches per round.  For d LONGER than a round (floor = 0, where the
    per-round cap alone enforces nothing) the host is additionally
    gated to one round per ``stride = ceil(d / round_seconds)`` rounds
    when ``round_no`` is supplied — stateless cross-round spacing: the
    host's eligible rounds are ``round_no % stride == hash(host) %
    stride``, so consecutive fetch rounds sit >= stride apart and the
    modeled spacing respects d.  The reference has no delay enforcement
    at all (SURVEY §2.10); this is the F10-adjacent politeness tier the
    robots column exists for.  The join carries no hint (the planner
    broadcasts a small cache) and its build side is one row per host
    with a delay; duplicate hosts (e.g. a static robots cache unioned
    with the live table) collapse to the LONGEST delay, never to doubled
    frontier rows.

    ``budgets`` (optional) is a tiny (host, budget) frame of PER-HOST
    budget overrides — the AIMD adaptive-politeness recommendations
    (streaming/politeness.py) fed back into the scheduler: hosts that
    served 429s/conn-failures get a halved quota next round, clean
    hosts grow back additively.  Overrides may exceed the base budget,
    so the salt-phase bound is the per-row effective budget (keeping
    phase 1 a superset per host, which is what keeps the salted plan
    exact).  A delay shrink applies ON TOP of the override (robots
    always wins).  Broadcast join — one row per recommended host;
    duplicate hosts collapse to the SMALLEST override (conservative),
    never to doubled frontier rows."""
    budget = cfg.per_host_budget
    # within-host order: FIFO (the local queue, index/index.go:82-90) or
    # LIFO (the HQ feed's default strategy, cmd/get_hq.go:55 /
    # hq.go:180).  Both phases below MUST share the order: phase 1's
    # per-salt-bucket top-k is a superset of the per-host top-k under
    # any fixed total order, which is what keeps the salted plan exact.
    seq = (
        F.col("enqueue_seq").asc()
        if cfg.schedule_strategy != "lifo"
        else F.col("enqueue_seq").desc()
    )
    # priority tier first (north rule: politeness PRIORITY queue —
    # higher priority pops earlier within its host), then the strategy
    # order, then the hash tiebreak for full determinism
    order = [F.col("priority").desc(), seq, F.col("url_hash").asc()]
    df = frontier
    if budgets is not None:
        # one row per host, whatever the caller supplied: a duplicate
        # host on a join's build side would DUPLICATE every frontier
        # row of that host (double-fetch, doubled metrics) — collapse
        # to the smallest (most conservative) override instead
        ov = F.broadcast(
            budgets.groupBy(F.col("host").alias("__b_host"))
            .agg(F.min("budget").alias("__b_budget"))
        )
        df = df.join(ov, df["host"] == F.col("__b_host"), "left")
    eff_budget = (
        F.coalesce(F.col("__b_budget"), F.lit(budget))
        if budgets is not None
        else F.lit(budget)
    )
    if cfg.host_salt_buckets > 1:
        # phase 1 — salted local top-k (kills the hot-host single-task
        # window).  Uses the full EFFECTIVE budget: a delay only
        # shrinks a host's final quota, so phase 1's survivors stay a
        # superset.
        salt = F.pmod(F.col("url_hash"), F.lit(cfg.host_salt_buckets))
        w1 = Window.partitionBy("host", salt).orderBy(*order)
        df = (
            df.withColumn("__r1", F.row_number().over(w1))
            .filter(F.col("__r1") <= eff_budget)
            .drop("__r1")
        )
    budget_col = eff_budget
    if delays is not None:
        # longest delay wins on duplicate hosts (conservative), and the
        # build side stays one-row-per-host so the left join can never
        # fan frontier rows out.  No hint: the planner broadcasts a small
        # cache, and a shuffle join of a large one is bounded because the
        # left side is already the phase-1 survivors.
        d = (
            delays.filter(F.col("crawl_delay").isNotNull())
            .groupBy(F.col("host").alias("__d_host"))
            .agg(F.max("crawl_delay").alias("__delay"))
        )
        df = df.join(d, df["host"] == F.col("__d_host"), "left")
        if round_no is not None:
            # cross-round spacing for d > round_seconds: the per-round
            # budget floor of 1 would otherwise fetch EVERY round —
            # round_seconds/d times the host's requested spacing.  A
            # host-hashed phase (stateless, deterministic) admits the
            # host once per stride rounds; within its round the budget
            # math below caps it at max(1, floor(round_seconds/d)) = 1.
            stride = F.ceil(
                F.col("__delay") / F.lit(float(cfg.round_seconds))
            ).cast("long")
            df = df.filter(
                F.col("__delay").isNull()
                | (stride <= 1)
                | (
                    F.pmod(F.lit(round_no), stride)
                    == F.pmod(F.xxhash64(F.col("__d_host")), stride)
                )
            )
        budget_col = F.when(
            F.col("__delay").isNotNull() & (F.col("__delay") > 0),
            F.least(
                eff_budget,
                F.greatest(
                    F.lit(1),
                    F.floor(F.lit(float(cfg.round_seconds)) / F.col("__delay")),
                ),
            ),
        ).otherwise(eff_budget)
    # phase 2 — exact per-host FIFO rank (O2+O3+O4)
    w2 = Window.partitionBy("host").orderBy(*order)
    out = (
        df.withColumn("__rank", F.row_number().over(w2))
        .filter(F.col("__rank") <= budget_col)
        .drop("__rank")
    )
    if delays is not None:
        out = out.drop("__d_host", "__delay")
    if budgets is not None:
        out = out.drop("__b_host", "__b_budget")
    return out


def backoff_retry_rows(failed: DataFrame, round_no: int, cfg: CrawlConfig) -> DataFrame:
    """O5 — 429 rows re-enter the frontier with retry+1 and a linear
    backoff (`retry*2s` sleep in the reference, capture.go:84-114, mapped
    to `retry * retry_backoff_rounds` rounds).  Retries bypass the
    seencheck (capture.go:319-330 sets BypassSeencheck on sendback).

    ``cfg.honor_retry_after``: a 429 carrying a server Retry-After
    (parsed to seconds by the live transport, FETCH_META.retry_after)
    overrides the linear backoff with ceil(seconds /
    cfg.round_seconds) rounds — OFF by default because the
    reference's backoff is strictly linear (capture.go:84-114) and
    matching it is the parity contract."""
    backoff = F.col("retry") * F.lit(cfg.retry_backoff_rounds)
    if cfg.honor_retry_after and "retry_after" in failed.columns:
        backoff = F.when(
            F.col("retry_after").isNotNull(),
            F.greatest(
                F.lit(1),
                F.ceil(
                    F.col("retry_after") / F.lit(cfg.round_seconds)
                ),
            ).cast("long"),
        ).otherwise(backoff)
    return (
        failed.filter(F.col("retry") + 1 <= F.lit(cfg.max_retry))
        .withColumn("retry", F.col("retry") + 1)
        .withColumn("bypass_seencheck", F.lit(True))
        .withColumn("not_before_round", F.lit(round_no + 1) + backoff)
    )
