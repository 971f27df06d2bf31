"""Crawl configuration — the subset of the reference's ~90 flags that
affects dataflow semantics (crawl/config.go:131-331, cmd/get.go:31-82).
Defaults mirror the reference where it has one.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class CrawlConfig:
    # admission (SURVEY §2.2)
    excluded_hosts: tuple[str, ...] = ()       # F1; archive.org defaults added below
    included_hosts: tuple[str, ...] = ()       # F2
    exclude_strings: tuple[str, ...] = ()      # F3
    include_strings: tuple[str, ...] = ()      # F4
    max_hops: int = 3                          # F6 (reference default 0 = seeds only;
                                               #     3 makes the synthetic crawl interesting)
    max_redirect: int = 20                     # F7 (cmd/get.go:44)
    domains_crawl: bool = False                # F8 (outlinks.go:100-164)
    robots: bool = False                       # F10 — north-rule addition, off for
                                               # reference-parity runs
    live_robots: bool = False                  # F10 live tier: fetch+parse each
                                               # host's /robots.txt through the
                                               # crawl's transport (live crawls
                                               # have no pre-built robots table);
                                               # cache refreshed per round for
                                               # hosts not yet covered
    robots_sitemaps: bool = True               # live tier only: Sitemap: lines
                                               # in freshly fetched robots files
                                               # become hop-0 seed candidates
                                               # (seen-checked + admission-gated
                                               # like any discovered URL); the
                                               # P8 sitemap extractor then
                                               # expands the fetched sitemap.
                                               # Exactly-once per host by the
                                               # uncovered-host fetch filter.

    # retry / politeness (SURVEY §2.4)
    max_retry: int = 5                         # O5 (cmd/get.go:45)
    retry_backoff_rounds: int = 1              # O5: linear backoff, rounds not seconds
    honor_retry_after: bool = False            # O5 extension: map a 429's
                                               # Retry-After header (live
                                               # transport parses it to
                                               # seconds) onto not_before_round
                                               # instead of the linear backoff.
                                               # Default OFF: reference parity
                                               # is strictly linear
                                               # (capture.go:84-114)
    per_host_budget: int = 16                  # O4 (--max-concurrent-per-domain default,
                                               # cmd/get.go:53; enforced here, dead code there)
    host_salt_buckets: int = 1                 # >1 splits a hot host into salted
                                               # sub-partitions (north-rule skew tier);
                                               # budget stays per-host (exact via window)
    schedule_strategy: str = "fifo"            # within-host dequeue order: "fifo"
                                               # (local queue, index/index.go:82-90)
                                               # or "lifo" (the HQ feed's default
                                               # strategy — cmd/get_hq.go:55,
                                               # consumed hq.go:180): newest
                                               # enqueue_seq first
    adaptive_politeness: bool = False          # feed the AIMD per-host budget
                                               # recommendations (streaming/
                                               # politeness.py control law, replayed
                                               # over the metrics table) back into
                                               # the scheduler as per-host budget
                                               # overrides — hosts serving 429s /
                                               # conn-failures get halved quotas
                                               # next round, clean hosts regrow
                                               # additively (TCP congestion rule)
    adaptive_min_budget: int = 1
    adaptive_max_budget: int = 256
    rank_priority: bool = False                # link-rank frontier prioritization:
                                               # PageRank (datapipe/graph.py, fixed-
                                               # point integer) over the frontier's
                                               # host discovery edges; newly
                                               # discovered rows on the top-ranked
                                               # hosts enter at priority 1, popping
                                               # ahead of FIFO peers in the
                                               # politeness window.  Off by default:
                                               # reference parity is strict host-
                                               # round-robin + FIFO
    rank_priority_top: int = 64                # hosts boosted (bounds the broadcast)
    rank_priority_every: int = 4               # recompute cadence in rounds (the
                                               # rank is a slowly-moving signal; the
                                               # full-frontier edge aggregation is
                                               # the expensive part at scale)
    rank_priority_iters: int = 3               # PageRank iterations per recompute
    round_seconds: float = 60.0                # wall-clock a round models: maps a
                                               # Crawl-delay to a per-round budget
                                               # and a Retry-After to rounds (same
                                               # logical clock as streaming/live.py)

    # dedup
    bloom_prefilter: bool = False              # D9 — addition; prefilter only,
                                               # exactness stays with the anti-join
    payload_dedupe: bool = True                # D8 (crawl/crawl.go:96-99): identical
                                               # payloads >= threshold become revisit rows
    payload_dedupe_min_size: int = 1024        # WARC dedupe threshold (cmd/get.go:80-82)
    cdx_dedupe_dir: str | None = None          # D8 remote tier (crawl/crawl.go:97-98
                                               # CDXDedupeServer): path to a PRIOR
                                               # crawl's .cdxj index; local-original
                                               # payloads whose digest is archived
                                               # there become revisit rows referring
                                               # to the original capture

    # lifecycle
    max_rounds: int = 64                       # round-count cap (batch-native)
    crawl_time_limit_sec: float | None = None  # O8 soft finish (crawl/crawl.go:60-68);
                                               # hard kill at 1.1x (config.go:217-221)
    min_disk_space_bytes: int = 0              # O7 pause gate (crawl/utils.go:42-57;
                                               # reference default 20 GB); 0 = disabled
    disk_check_interval_sec: float = 1.0       # O7 re-probe cadence while paused
    compact_every: int = 8                     # fold claimed-deletes into frontier
                                               # (Iceberg compaction stand-in)
    compact_file_trigger: int = 64             # live-file count above which a
                                               # state table is binpacked at
                                               # the next compaction cycle

    # observability (internal/pkg/log analogue; operators/logfile.py)
    structured_log: bool = True                # per-round JSONL records under
                                               # <warehouse>/_logs/crawl.jsonl:
                                               # round_start/round_end with the
                                               # counter block + per-stage
                                               # driver wall timings, lifecycle
                                               # events (seed, recover,
                                               # compact).  Driver-side only —
                                               # per-task telemetry stays in
                                               # Spark's own event log.
    log_max_bytes: int = 16 * 1024 * 1024      # size-rotation threshold
    log_keep: int = 4                          # rotated backups retained
    es_log_url: str = ""                       # Elasticsearch log sink
                                               # (log/elasticsearch.go):
                                               # base URL, "" = off; fans
                                               # out alongside the JSONL
                                               # handler (multi_handler.go)
    es_log_index_prefix: str = "zeno"          # daily <prefix>-YYYY.MM.DD
    es_log_level: str = "info"                 # min level indexed
    es_log_user: str = ""                      # basic auth (both set = on)
    es_log_password: str = ""

    def with_default_exclusions(self) -> "CrawlConfig":
        """The reference always appends archive.org/archive-it.org
        (crawl/config.go:231)."""
        merged = tuple(dict.fromkeys(self.excluded_hosts + ("archive.org", "archive-it.org")))
        return CrawlConfig(**{**self.__dict__, "excluded_hosts": merged})
