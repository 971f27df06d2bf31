"""Per-stage round profile at two parallelism levels — locates the
SERIAL component of the bench's scaling pair (Amdahl fit on the r4 run:
~31 s/leg fixed time = 27% of the 4-core leg).  Reuses bench.py's exact
leg config but keeps the warehouse and prints the structured log's
per-stage timings (operators/logfile.py StageTimer) plus the stage gap
(round wall minus instrumented stages = plan construction + small jobs
+ commit metadata work).

Usage: python scripts/round_profile.py [cores ...]   (default: 4 1)
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")


def profile(cores: int, sf: float = 0.1) -> dict:
    from bench import CRAWL_ROUNDS, _corpus_dims, _crawl_parquet
    from zeno_spark.config import CrawlConfig
    from zeno_spark.operators.logfile import RoundLogger
    from zeno_spark.plans.crawl import CrawlJob
    from zeno_spark.session import get_spark

    corpus_dir, _, _ = _corpus_dims(sf)
    spark = get_spark(f"zeno_profile{cores}", cores=cores,
                      shuffle_partitions=cores, aqe=False)
    # plan-shape-identical warmup (parquet warm_ slice), matching
    # bench_crawl_at — profiles the steady state the legs measure
    _crawl_parquet(spark, corpus_dir, rounds=CRAWL_ROUNDS, prefix="warm_")
    pages = spark.read.parquet(f"{corpus_dir}/pages.parquet")
    links = spark.read.parquet(f"{corpus_dir}/links.parquet").cache()
    pages.count()
    links.count()
    seeds = spark.read.parquet(f"{corpus_dir}/seeds.parquet")
    warehouse = tempfile.mkdtemp(prefix="zeno_profile_")
    cfg = CrawlConfig(
        max_hops=4, per_host_budget=256, host_salt_buckets=8,
        bloom_prefilter=True, max_rounds=CRAWL_ROUNDS, compact_every=0,
    )
    job = CrawlJob(spark, warehouse, pages, links, cfg)

    # wrap the per-table appends + bloom/marker internals with wall
    # timers so the state_commit/sink_commit blocks decompose (the
    # commits run one after another, so the walls add up to each block)
    sub: dict[str, list] = {}

    def wrap(obj, attr, name):
        fn = getattr(obj, attr)

        def timed(*a, **kw):
            s = time.time()
            try:
                return fn(*a, **kw)
            finally:
                sub.setdefault(name, []).append(round(time.time() - s, 2))

        setattr(obj, attr, timed)

    wrap(job.fetched, "append", "fetched.append")
    wrap(job.seen, "append", "seen.append")
    wrap(job.frontier, "append", "frontier.append")
    wrap(job.claimed, "append", "claimed.append")
    wrap(job.metrics, "append", "metrics.append")
    wrap(job, "_update_bloom", "update_bloom")
    wrap(job, "_commit_round", "commit_round")
    wrap(job, "pending_frontier", "pending_frontier")

    t0 = time.time()
    if "--cprofile" in sys.argv:
        import cProfile
        import pstats

        pr = cProfile.Profile()
        pr.enable()
        job.run(seeds=seeds, max_rounds=CRAWL_ROUNDS)
        pr.disable()
        stats = pstats.Stats(pr)
        stats.sort_stats("cumulative")
        stats.print_stats(40)
    else:
        job.run(seeds=seeds, max_rounds=CRAWL_ROUNDS)
    wall = time.time() - t0
    recs = RoundLogger(f"{warehouse}/_logs/crawl.jsonl").records()
    spark.stop()
    rounds = [r for r in recs if r["event"] == "round_end"]
    starts = {r["round"]: r["ts"] for r in recs if r["event"] == "round_start"}
    out = {"cores": cores, "wall": round(wall, 2), "sub": sub, "rounds": []}
    for r in rounds:
        stages = {k: v for k, v in r.items() if k.startswith("t_")}
        rwall = round(r["ts"] - starts[r["round"]], 2)
        out["rounds"].append({
            "round": r["round"],
            "round_wall": rwall,
            **stages,
            "stage_gap": round(rwall - sum(stages.values()), 2),
        })
    seeded = [r for r in recs if r["event"] == "seeded"]
    if seeded and rounds:
        out["pre_round_sec"] = round(starts[min(starts)] - seeded[0]["ts"], 2)
    shutil.rmtree(warehouse, ignore_errors=True)
    return out


if __name__ == "__main__":
    cores_args = [int(a) for a in sys.argv[1:] if not a.startswith("-")]
    for c in cores_args or [4, 1]:
        print(json.dumps(profile(c)), flush=True)
