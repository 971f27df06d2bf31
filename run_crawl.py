"""spark-submit entry point for the crawl job (north rule: `spark-submit
--py-files crawler.zip run_crawl.py`).

Local sandbox (synthetic corpus):
    python run_crawl.py --synthetic-pages 10000 --rounds 4 \
        --warehouse /tmp/crawl_wh

Cluster shape (the only differences are spark-submit flags — no code
changes; see zeno_spark/session.py):
    zip -r crawler.zip zeno_spark
    spark-submit --master <cluster> --py-files crawler.zip run_crawl.py \
        --seeds s3://bucket/seeds.txt --warehouse s3://bucket/crawl_wh \
        --rounds 8

Resume: re-running with the same --warehouse resumes from the last
committed round marker (plans/crawl.py recover()); a crashed round is
rolled back and re-run idempotently.

Config layering (config/config.go:98-156 order, minus Consul):
explicit flags > ZENO_* env vars (ZENO_PER_HOST_BUDGET=32) >
--config zeno-config.yaml > built-in defaults.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))


def main() -> None:
    # config layering, reference order (config/config.go:98-156, incl.
    # the Consul remote tier): Flags > ZENO_* env > Consul KV >
    # --config YAML > defaults.
    # The file/env layers merge into argparse DEFAULTS, so an
    # explicitly-passed flag always wins — viper's exact precedence.
    pre = argparse.ArgumentParser(add_help=False)
    pre.add_argument("--config", default=None)
    pre.add_argument("--consul-address", default=None,
                     help="Consul agent address for the remote config "
                          "tier (config/config.go:129-144): the YAML at "
                          "--consul-path is read from the KV store and "
                          "layered Flags > Env > Consul > File")
    pre.add_argument("--consul-path", default="zeno/config.yaml",
                     help="KV path of the remote config document")
    pre_args, _rest = pre.parse_known_args()

    ap = argparse.ArgumentParser(description="zeno_spark crawl driver",
                                 parents=[pre])
    ap.add_argument("urls", nargs="*",
                    help="seed URLs as positional args (S2, `zeno get url "
                         "<URL...>` — cmd/get_url.go:36-55); merged after "
                         "--seeds file entries, file order first")
    ap.add_argument("--seeds", help="URL-per-line seed file (S1)")
    ap.add_argument("--warehouse", required=True, help="table warehouse dir")
    ap.add_argument("--rounds", type=int, default=8)
    ap.add_argument("--per-host-budget", type=int, default=16)
    ap.add_argument("--max-hops", type=int, default=3)
    ap.add_argument("--salt-buckets", type=int, default=8)
    ap.add_argument("--bloom", action="store_true", default=True)
    ap.add_argument("--no-bloom", dest="bloom", action="store_false")
    ap.add_argument("--adaptive-politeness", action="store_true",
                    help="AIMD per-host budget feedback: hosts serving "
                         "429s/conn-failures get halved quotas next "
                         "round, clean hosts regrow additively "
                         "(streaming/politeness.py control law)")
    ap.add_argument("--strategy", choices=("fifo", "lifo"), default="fifo",
                    help="within-host dequeue order (the reference's "
                         "--hq-strategy, cmd/get_hq.go:55)")
    ap.add_argument("--robots", action="store_true")
    ap.add_argument("--live-robots", action="store_true",
                    help="with --live: fetch+parse each host's "
                         "/robots.txt through the transport (F10 live "
                         "tier) instead of needing a pre-built table")
    ap.add_argument("--es-log",
                    help="Elasticsearch log sink base URL (the "
                         "reference's log/elasticsearch.go handler): "
                         "round events index into daily "
                         "<prefix>-YYYY.MM.DD indices alongside the "
                         "JSONL log")
    ap.add_argument("--es-log-index", default="zeno",
                    help="index prefix for --es-log")
    ap.add_argument("--cores", type=int, default=None,
                    help="local-mode cores (ignored under spark-submit --master)")
    ap.add_argument("--synthetic-pages", type=int, default=0,
                    help="build the deterministic synthetic corpus of N pages "
                         "instead of reading --pages/--links tables")
    ap.add_argument("--pages", help="parquet path of the pages table")
    ap.add_argument("--links", help="parquet path of the links table")
    ap.add_argument("--live", action="store_true",
                    help="fetch over real sockets (HttpTransport) with "
                         "in-worker P1-P12 extraction — no pages/links "
                         "tables needed (tested against a local origin in "
                         "tests/test_transport.py)")
    ap.add_argument("--replay-warc",
                    help="fetch from a PRIOR crawl's .warc.gz archive "
                         "instead of the wire (WarcReplayTransport): "
                         "each URL resolves through the CDXJ index to "
                         "one gzip-member seek; not-archived URLs are "
                         "deterministic 404s")
    ap.add_argument("--replay-cdx",
                    help="with --replay-warc: the archive's .cdxj index "
                         "directory (write_cdxj output); omitted = index "
                         "the archive in-memory first")
    ap.add_argument("--proxy", help="X4 forward proxy for --live "
                                    "(capture.go:60-64)")
    ap.add_argument("--bypass-proxy", nargs="*", default=[],
                    help="hosts that skip --proxy (X4 bypass list)")
    ap.add_argument("--warc-capture-dir",
                    help="with --live: record every response into rotating "
                         ".warc.gz files as it streams (S6)")
    ap.add_argument("--warc-out",
                    help="after the crawl, export the fetched table to "
                         ".warc.gz files in this directory (S6 sink parity)")
    ap.add_argument("--rank-priority", action="store_true",
                    help="link-rank frontier prioritization: newly "
                         "discovered URLs on the top PageRank hosts "
                         "(frontier discovery graph) enter at priority "
                         "1 and pop ahead of FIFO peers")
    ap.add_argument("--wet-out",
                    help="after the crawl, derive the WET text corpus "
                         "(WARC conversion records; captions / tag-"
                         "stripped bodies) from the fetched table")
    ap.add_argument("--wat-out",
                    help="after the crawl, derive the WAT metadata "
                         "corpus (canonical-JSON envelopes incl. the "
                         "frontier's outlinks) from the fetched table")
    ap.add_argument("--cdx-dedupe-dir",
                    help="path to a PRIOR crawl's .cdxj index: payloads "
                         "whose digest is archived there become revisit "
                         "rows referring to the original capture (D8 "
                         "remote tier, crawl/crawl.go:97-98 CDXDedupe)")
    ap.add_argument("--tui", action="store_true",
                    help="in-place live stats table (the reference's "
                         "250ms uilive render loop, crawl/stats.go)")
    from zeno_spark.configfile import layered_defaults

    base = {
        a.dest: a.default for a in ap._actions
        if a.dest not in ("help", "config", "consul_address",
                          "consul_path", "urls")
    }
    ap.set_defaults(**layered_defaults(
        base, yaml_path=pre_args.config,
        consul=((pre_args.consul_address, pre_args.consul_path)
                if pre_args.consul_address else None),
    ))
    # `required=True` would reject a file/env-supplied warehouse: enforce
    # presence manually after the merge instead
    for a in ap._actions:
        if a.dest == "warehouse":
            a.required = False
    args = ap.parse_args()
    if not args.warehouse:
        ap.error("--warehouse is required (flag, ZENO_WAREHOUSE, or config)")

    from zeno_spark.config import CrawlConfig
    from zeno_spark.plans.crawl import CrawlJob
    from zeno_spark.session import get_spark

    spark = get_spark("zeno_crawl", cores=args.cores, aqe=False)

    if args.synthetic_pages:
        from zeno_spark.fixtures import build_corpus

        corpus = build_corpus(
            spark, n_pages=args.synthetic_pages,
            n_hosts=max(10, args.synthetic_pages // 200),
        )
        pages, links, seeds = corpus["pages"], corpus["links"], corpus["seeds"]
        robots = corpus["robots"]
    else:
        if (not args.live and not args.replay_warc
                and not (args.pages and args.links)):
            ap.error("--pages/--links required without "
                     "--synthetic-pages/--live/--replay-warc")
        # read the origin scan directly — never cached or repartitioned:
        # payload bytes stay on the column-pruned parquet path
        # (operators/fetch.py plan discipline)
        pages = spark.read.parquet(args.pages) if args.pages else None
        links = spark.read.parquet(args.links) if args.links else None
        seeds = None
        n_file_lines = 0
        if args.seeds:
            # native exact line numbering — no RDD zipWithIndex pass,
            # and the total comes from the same pass-1 split aggregate
            # (no extra full-file count() just to number argv URLs)
            from zeno_spark.plans.crawl import seed_lines_with_total

            seeds, n_file_lines = seed_lines_with_total(spark, args.seeds)
        if args.urls:
            # S2: argv URLs enqueue after the file block, in argv order
            # (cmd/get_url.go:36-55)
            argv_df = spark.createDataFrame(
                [(u, n_file_lines + i) for i, u in enumerate(args.urls)],
                "url string, line long",
            )
            seeds = argv_df if seeds is None else seeds.unionByName(argv_df)
        robots = None

    cfg = CrawlConfig(
        max_hops=args.max_hops,
        per_host_budget=args.per_host_budget,
        host_salt_buckets=args.salt_buckets,
        bloom_prefilter=args.bloom,
        robots=args.robots or args.live_robots,
        live_robots=args.live_robots,
        max_rounds=args.rounds,
        schedule_strategy=args.strategy,
        adaptive_politeness=args.adaptive_politeness,
        rank_priority=args.rank_priority,
        cdx_dedupe_dir=args.cdx_dedupe_dir,
        es_log_url=args.es_log or "",
        es_log_index_prefix=args.es_log_index,
    )
    transport = None
    if args.live:
        from zeno_spark.operators.transport import HttpTransport

        transport = HttpTransport(
            proxy=args.proxy,
            bypass=tuple(args.bypass_proxy),
            warc_dir=args.warc_capture_dir,
            extract=links is None,
        )
    elif args.replay_warc:
        from zeno_spark.operators.transport import WarcReplayTransport

        transport = WarcReplayTransport.from_dirs(
            spark, args.replay_warc, args.replay_cdx,
            extract=links is None,
        )
    job = CrawlJob(spark, args.warehouse, pages, links, cfg, robots=robots,
                   transport=transport)
    if args.tui:
        from zeno_spark.operators.tui import LiveStatsPrinter

        with LiveStatsPrinter(job, job_name=Path(args.warehouse).name):
            stats = job.run(seeds=seeds, max_rounds=args.rounds)
    else:
        stats = job.run(seeds=seeds, max_rounds=args.rounds)
    # One observability line before the per-round stats: lets operators
    # (and the spark-submit e2e test) confirm which master actually ran
    # the job — the submit flag, not the local-mode fallback.
    print(json.dumps({
        "spark_master": spark.sparkContext.master,
        "default_parallelism": spark.sparkContext.defaultParallelism,
    }))
    for s in stats:
        print(json.dumps(s.__dict__))
    if args.warc_out:
        from zeno_spark.operators.warc import write_warc

        # reconstruct request records with the UA the crawl actually
        # sent (live transport) rather than the module default
        manifest = write_warc(
            job.fetched.read(), args.warc_out,
            request_headers=(
                {"User-Agent": transport.user_agent}
                if transport is not None else None
            ),
        ).collect()
        print(json.dumps({
            "warc_files": len(manifest),
            "warc_records": sum(m.records for m in manifest),
            "warc_bytes": sum(m.bytes for m in manifest),
        }))
    if args.wet_out:
        from zeno_spark.operators.wetwat import write_wet

        m = write_wet(job.fetched.read(), args.wet_out).collect()
        print(json.dumps({"wet_files": len(m),
                          "wet_records": sum(r.records for r in m)}))
    if args.wat_out:
        from zeno_spark.operators.wetwat import write_wat

        m = write_wat(
            job.fetched.read(), args.wat_out,
            discovered=job.frontier.read(),
        ).collect()
        print(json.dumps({"wat_files": len(m),
                          "wat_records": sum(r.records for r in m)}))
    spark.stop()


if __name__ == "__main__":
    main()
