"""Delta-dominated seen-check evidence (VERDICT r02 item 1's "done"
criterion): with the `seen` table in its BUCKETED storage layout
(catalog.py bucket_spec on (url_hash, url)), the exact anti-join stops
shuffling the seen projection — so growing the seen set 10x while the
per-round candidate DELTA stays fixed must grow the round's dedup cost
far less than 10x (what remains is the storage-partitioned bucket scan
+ a partition-local sort; the old layout re-shuffled and re-sorted the
whole seen set across the network every round).

The pass is the REAL round pipeline over the real SnapshotTable:
admission gates -> persisted-bloom prefilter -> exact anti-join against
the bucketed table -> salted politeness window, with the bloom index
built once outside the timed region (production maintains it
incrementally — plans/crawl.py _update_bloom).

Usage: python scripts/seen_scale.py [delta_rows] [seen_small] [mult] [cores]
Defaults: 2_000_000 delta, 4_000_000 seen, x10, 8 cores.  Prints one
JSON line per seen size plus a ratio line.
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

DELTA = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
S_SMALL = int(sys.argv[2]) if len(sys.argv) > 2 else 4_000_000
MULT = int(sys.argv[3]) if len(sys.argv) > 3 else 10
CORES = int(sys.argv[4]) if len(sys.argv) > 4 else 8
N_HOSTS = 20_000
OVERLAP = 0.5  # fraction of the delta already present in seen


def _host(col):
    return F.concat(
        F.lit("h"), F.pmod(F.xxhash64(col), F.lit(N_HOSTS)),
        F.lit(".example.com"),
    )


def _seen_rows(spark, a: int, b: int):
    url = F.concat(
        F.lit("https://"), _host(F.col("id")), F.lit("/page/"), F.col("id")
    )
    return spark.range(a, b).select(
        F.xxhash64(url).alias("url_hash"),
        url.alias("url"),
        F.lit("seed").alias("type"),
        F.lit(0).alias("round"),
    )


def _delta_rows(spark, seen_n: int, n: int):
    """Candidates: OVERLAP of them collide with seen ids, the rest are
    new — the anti-join does real work on both branches."""
    hit = F.pmod(F.col("id"), F.lit(int(1 / OVERLAP))) == 0
    base = F.when(hit, F.pmod(F.col("id"), F.lit(seen_n))).otherwise(
        F.col("id") + F.lit(10_000_000_000)
    )
    url = F.concat(F.lit("https://"), _host(base), F.lit("/page/"), base)
    return spark.range(n).select(
        F.sha1(F.concat(F.lit("d|"), F.col("id"))).alias("id"),
        url.alias("url"),
        F.xxhash64(url).alias("url_hash"),
        _host(base).alias("host"),
        F.lit(None).cast("string").alias("parent_url"),
        F.lit(1).alias("hop"),
        F.lit("link").alias("type"),
        F.lit(False).alias("bypass_seencheck"),
        F.lit(0).alias("redirect"),
        F.lit(0).alias("retry"),
        F.lit(0).alias("not_before_round"),
        F.col("id").alias("enqueue_seq"),
        F.lit(0).alias("discovered_round"),
        F.lit(0).alias("priority"),
    )


def one_pass(seen_n: int) -> dict:
    from zeno_spark import schemas
    from zeno_spark.catalog import Catalog
    from zeno_spark.config import CrawlConfig
    from zeno_spark.operators.admission import apply_admission
    from zeno_spark.operators.dedup import build_bloom_index, dedupe_against_seen
    from zeno_spark.operators.schedule import politeness_schedule, schedulable
    from zeno_spark.plans.crawl import SEEN_BUCKETS
    from zeno_spark.session import get_spark

    spark = get_spark(
        f"seen_scale_{seen_n}", cores=CORES,
        shuffle_partitions=max(CORES * 2, 8), aqe=False,
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    cfg = CrawlConfig(per_host_budget=64, host_salt_buckets=16,
                      bloom_prefilter=True)
    wh = tempfile.mkdtemp(prefix=f"seen_scale_{seen_n}_")
    seen_tbl = Catalog(spark, wh).table(
        "seen", schemas.SEEN,
        bucket_spec=(SEEN_BUCKETS, ("url_hash", "url")),
    )
    # several appends then a compaction — the steady state a long crawl
    # round actually reads
    chunk = seen_n // 4
    for i in range(4):
        seen_tbl.append(_seen_rows(spark, i * chunk, (i + 1) * chunk))
    seen_tbl.rewrite(seen_tbl.read())
    bloom = build_bloom_index(
        seen_tbl.read(), headroom=2
    ).localCheckpoint(eager=True)

    delta = _delta_rows(spark, seen_n, DELTA).localCheckpoint(eager=True)

    # untimed warmup on a small prefix (codegen + python workers)
    politeness_schedule(
        dedupe_against_seen(
            apply_admission(schedulable(delta.limit(10_000), 0), cfg),
            seen_tbl.read(), use_bloom=True, bloom_index=bloom),
        cfg,
    ).write.format("noop").mode("overwrite").save()

    t0 = time.time()
    admitted = apply_admission(schedulable(delta, 0), cfg)
    fresh = dedupe_against_seen(
        admitted, seen_tbl.read(), use_bloom=True, bloom_index=bloom
    )
    sched = politeness_schedule(fresh, cfg)
    sched.write.format("noop").mode("overwrite").save()
    wall = time.time() - t0

    plan = sched._jdf.queryExecution().executedPlan().toString()
    spark.stop()
    shutil.rmtree(wh, ignore_errors=True)
    return {
        "seen_rows": seen_n,
        "delta_rows": DELTA,
        "cores": CORES,
        "wall_sec": round(wall, 2),
        "delta_urls_per_sec": round(DELTA / wall, 0),
        "bucketed_scan": "Bucketed: true" in plan,
        "seen_side_exchanges": 0 if "Bucketed: true" in plan else None,
    }


def main() -> None:
    lo = one_pass(S_SMALL)
    print(json.dumps(lo), flush=True)
    hi = one_pass(S_SMALL * MULT)
    print(json.dumps(hi), flush=True)
    ratio = hi["wall_sec"] / lo["wall_sec"]
    print(json.dumps({
        "seen_growth": MULT,
        "cost_growth": round(ratio, 2),
        "delta_dominated": ratio < MULT / 2,
    }), flush=True)


if __name__ == "__main__":
    main()
