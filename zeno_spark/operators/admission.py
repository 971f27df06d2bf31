"""Admission-control filters F1-F10 (SURVEY §2.2) as native Column ops.

Reference: crawl/exclusion.go:10-58 (host include/exclude, string
include/exclude), utils/url.go:105-127 (scheme), crawl/outlinks.go:77
(max hops), capture.go:120-122 (max redirect), assets.go:84-87
(self-reference guard).  All are pure predicates over frontier columns —
expressed natively so they push down below fetch (SURVEY §4 design rule).

The robots gate (F10) is a north-rule ADDITION (the reference has no
robots handling): left-join the frontier against the robots cache on
(host, salt), drop rows whose URL path matches a disallow rule.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from zeno_spark.config import CrawlConfig

# salt of the robots join key: a hot host's candidate rows spread over
# this many join partitions when the planner shuffle-joins a large cache.
# The rules side is exploded once per salt, so its rows and bytes grow
# linearly with it.
ROBOTS_SALT_BUCKETS = 4


def scheme_ok(url: Column) -> Column:
    """F5 — http/https only (DedupeURLs drops others, utils/url.go:115)."""
    return url.startswith("http://") | url.startswith("https://")


def admission_predicate(cfg: CrawlConfig) -> Column:
    """F1-F5 conjunction over (url, host) columns.  Native ops only."""
    pred = scheme_ok(F.col("url"))
    if cfg.excluded_hosts:
        pred = pred & ~F.col("host").isin(*cfg.excluded_hosts)  # F1
    if cfg.included_hosts:
        pred = pred & F.col("host").isin(*cfg.included_hosts)  # F2
    for s in cfg.exclude_strings:  # F3 — contains, not regex (exclusion.go:24-28)
        pred = pred & ~F.col("url").contains(s)
    if cfg.include_strings:  # F4 — disjunction (exclusion.go:31-43)
        inc = F.lit(False)
        for s in cfg.include_strings:
            inc = inc | F.col("url").contains(s)
        pred = pred & inc
    return pred


def apply_admission(frontier: DataFrame, cfg: CrawlConfig) -> DataFrame:
    """Gate applied at dequeue time (worker.go:117-125 applies the host
    exclusion right after dequeue; we gate the whole scheduled batch)."""
    return frontier.filter(admission_predicate(cfg))


def hop_gate(hop_next: Column, cfg: CrawlConfig) -> Column:
    """F6 — enqueue an outlink only if MaxHops >= hop+1 (outlinks.go:77)."""
    return F.lit(cfg.max_hops) >= hop_next


def redirect_gate(redirect: Column, cfg: CrawlConfig) -> Column:
    """F7 — follow a redirect only while redirect < MaxRedirect
    (capture.go:120-122)."""
    return redirect < F.lit(cfg.max_redirect)


def self_reference_guard(url: Column, parent_url: Column) -> Column:
    """F9 — never fetch an asset equal to its own parent (assets.go:84-87)."""
    return parent_url.isNull() | (url != parent_url)


def _robots_rule_matches(path, rule):
    """One RFC 9309 Disallow rule against a URL path, natively.  Plain
    rules (the overwhelming majority) take the startswith fast path;
    rules carrying the RFC's ``*`` (any chars) or trailing ``$`` (end
    anchor) compile to an anchored regex built in-expression — storing
    them as literal prefixes would NEVER match, silently crawling
    exactly the URLs a site disallowed (under-block, the unsafe
    direction)."""
    anchored = rule.endswith("$")
    body = F.when(
        anchored, rule.substr(F.lit(1), F.length(rule) - 1)
    ).otherwise(rule)
    # escape regex metachars (except *, which is the RFC wildcard)...
    esc = F.regexp_replace(
        body, r"([.^$+?(){}\[\]\\|])", r"\\$1"
    )
    # ...then the wildcard becomes .*
    pattern = F.concat(
        F.lit("^"),
        F.regexp_replace(esc, r"\*", ".*"),
        F.when(anchored, F.lit("$")).otherwise(F.lit("")),
    )
    return F.when(
        rule.contains("*") | anchored, F.regexp_like(path, pattern)
    ).otherwise(path.startswith(rule))


def apply_robots_gate(candidates: DataFrame, robots: DataFrame) -> DataFrame:
    """F10 (addition): drop candidate URLs disallowed by the host's robots
    rules.  The rule match is a native `exists` over the rule array (no
    Python) — startswith for plain prefixes, RFC 9309 ``*``/``$``
    wildcard rules via an in-expression regex (_robots_rule_matches).
    Hosts absent from the cache are allowed (left join).

    Duplicate hosts on the rules side (a user-supplied static cache
    overlapping the live-fetched table on a resumed crawl) would fan
    every frontier row of that host out through the left join
    (double-fetch); the rules side therefore collapses to ONE row per
    host, the disallow sets UNIONED — both rule sets apply, the
    conservative direction.

    The join key is ``(host, pmod(xxhash64(url), ROBOTS_SALT_BUCKETS))``
    against the rules exploded once per salt, and it carries no hint:
    Spark's planner broadcasts a cache under
    ``spark.sql.autoBroadcastJoinThreshold`` and shuffle-joins a larger
    one, where the salt spreads a hot host's candidate rows over several
    partitions instead of one."""
    rules = robots.groupBy(F.col("host").alias("r_host")).agg(
        F.array_distinct(
            F.flatten(F.collect_list("disallow_prefixes"))
        ).alias("r_disallow")
    )
    salted = rules.select(
        "r_host", "r_disallow",
        F.explode(
            F.sequence(F.lit(0), F.lit(ROBOTS_SALT_BUCKETS - 1))
        ).alias("__r_salt"),
    )
    joined = candidates.join(
        salted,
        (candidates["host"] == salted["r_host"])
        & (F.pmod(F.xxhash64("url"), F.lit(ROBOTS_SALT_BUCKETS)).cast("int")
           == F.col("__r_salt")),
        "left",
    )
    path = F.regexp_replace(F.col("url"), r"^https?://[^/]*", "")
    blocked = F.exists(
        F.coalesce(F.col("r_disallow"), F.array()),
        lambda p: _robots_rule_matches(path, p),
    )
    return joined.filter(~blocked).drop("r_host", "r_disallow", "__r_salt")
