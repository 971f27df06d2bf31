"""robots.txt parsing + gating (F10 — north-rule addition; the
reference has NO robots handling, grep robots -> 0 hits).

Two pieces:

  * parse_robots_txt / robots_table_from_bodies — parse fetched
    robots.txt bodies into the ``robots`` table (host,
    disallow_prefixes, crawl_delay), Arrow-batched;
  * the gate itself lives in operators/admission.py
    (apply_robots_gate): a salted left join on host (the planner
    broadcasts a small cache) + native array `exists`
    prefix match — the robots cache is tiny next to the frontier.

Parser semantics (conservative subset of REP / RFC 9309):
  * only User-agent: * groups apply (we crawl as a generic agent);
  * Disallow: <prefix> collects prefixes; empty Disallow means
    allow-all (contributes nothing);
  * Allow: lines are NOT evaluated (prefix-disallow only) — a
    conservative over-block, the safe direction for politeness;
  * Crawl-delay: first parseable value wins.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from zeno_spark import schemas


def parse_robots_txt(body: str) -> tuple[list[str], float | None]:
    """-> (disallow_prefixes, crawl_delay) for User-agent: *."""
    prefixes: list[str] = []
    delay: float | None = None
    applies = False        # the current group names User-agent: *
    in_agent_block = False  # consecutive User-agent lines open a group
    # a UTF-8 BOM glued to the first key would make 'user-agent' parse
    # as BOM+'user-agent' and silently drop the whole * group
    body = body.lstrip("\ufeff")
    for raw in body.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line:
            continue
        key, _, value = line.partition(":")
        key = key.strip().lower()
        value = value.strip()
        if key == "user-agent":
            if not in_agent_block:
                applies = False  # a fresh group resets applicability
            in_agent_block = True
            if value == "*":
                applies = True
        else:
            in_agent_block = False
            if key == "disallow" and applies and value:
                prefixes.append(value)
            elif key == "crawl-delay" and applies and delay is None:
                try:
                    delay = float(value)
                except ValueError:
                    pass
    return prefixes, delay


def parse_robots_sitemaps(body: str) -> list[str]:
    """``Sitemap:`` directive values, in file order, first-occurrence
    deduped.  Per the sitemaps.org protocol (and RFC 9309 §2.4's
    treatment of unknown lines) Sitemap lines are GROUP-INDEPENDENT —
    they apply regardless of any surrounding User-agent group — so this
    is a separate pass from the * -group parse above.  Values are
    normally absolute URLs; relative values are kept verbatim and
    resolved against the robots.txt URL by the candidate builder's
    enrich pass."""
    out: list[str] = []
    seen: set[str] = set()
    body = body.lstrip("\ufeff")
    for raw in body.splitlines():
        line = raw.split("#", 1)[0].strip()
        key, _, value = line.partition(":")
        if key.strip().lower() == "sitemap":
            value = value.strip()
            if value and value not in seen:
                seen.add(value)
                out.append(value)
    return out


def robots_table_from_bodies(bodies: DataFrame) -> DataFrame:
    """(host, body) -> robots table rows, one mapInPandas pass."""

    def _parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for host, body in zip(pdf["host"], pdf["body"]):
                prefixes, delay = parse_robots_txt(body or "")
                rows.append(
                    {"host": host, "disallow_prefixes": prefixes,
                     "crawl_delay": delay,
                     "sitemaps": parse_robots_sitemaps(body or "")}
                )
            yield pd.DataFrame(
                rows,
                columns=["host", "disallow_prefixes", "crawl_delay",
                         "sitemaps"],
            )

    return bodies.select("host", "body").mapInPandas(
        _parse, schema=schemas.ROBOTS
    )


def robots_sitemap_candidates(new_robots: DataFrame, cfg,
                              round_no: int) -> DataFrame:
    """Sitemap: URLs from freshly fetched robots rows -> FRONTIER-shaped
    seed candidates (the most common real-crawl discovery path: robots
    fetch -> sitemap URL -> P8 sitemap extract -> page URLs, with no
    page ever linking them).  Semantics:

      * hop 0, type 'seed' — a sitemap is a discovery root like a
        seed-list line; URLs extracted FROM it enter at hop 1;
      * parent_url = the host's robots.txt URL, which also anchors
        relative Sitemap values in the shared enrich pass (P3-P6:
        resolve, canonicalize, hash — one fused Arrow roundtrip);
      * seen-checked and admission-gated like ANY discovered URL: the
        rows union into the round's candidate set ahead of
        in_batch_dedupe/dedupe_against_seen, so a sitemap URL already
        crawled (or also discovered via links) enqueues exactly once;
      * exactly-once across rounds/resumes by construction: the caller
        feeds only NEWLY covered hosts (the robots cache's uncovered-
        host filter), under the round-marker commit scope.

    Scale shape: one tiny row per new host per round, all-native
    explode + the vectorized enrich UDF — no shuffle, no collect."""
    from pyspark.sql import functions as F

    from zeno_spark.functions import urls as U
    from zeno_spark.operators.admission import admission_predicate
    from zeno_spark.operators.extract import discovered_seq

    pairs = new_robots.filter(F.size(F.col("sitemaps")) > 0).select(
        F.concat(
            F.lit("http://"), F.col("host"), F.lit("/robots.txt")
        ).alias("parent_url"),
        F.explode(F.col("sitemaps")).alias("dst_url"),
    )
    resolved = (
        pairs.withColumn(
            "__e", U.enrich_url_udf(F.col("parent_url"), F.col("dst_url"))
        )
        .filter(F.col("__e.url").isNotNull())  # skip-on-parse-error
    )
    cand = resolved.select(
        F.sha1(
            F.concat_ws("|", F.lit(round_no), F.col("__e.url"))
        ).alias("id"),
        F.col("__e.url").alias("url"),
        F.col("__e.url_hash").alias("url_hash"),
        F.col("__e.host").alias("host"),
        "parent_url",
        F.lit(0).alias("hop"),
        F.lit("seed").alias("type"),
        F.lit(False).alias("bypass_seencheck"),
        F.lit(0).alias("redirect"),
        F.lit(0).alias("retry"),
        discovered_seq(
            F.lit(round_no + 1), F.col("__e.url_hash")
        ).alias("enqueue_seq"),
        F.lit(round_no + 1).cast("int").alias("discovered_round"),
        F.lit(round_no + 1).cast("int").alias("not_before_round"),
        F.lit(0).alias("priority"),
    )
    return cand.filter(admission_predicate(cfg))


def _robots_fetch_rows(hosts: DataFrame, scheme: str) -> DataFrame:
    """Frontier-shaped rows for <scheme>://<host>/robots.txt."""
    from pyspark.sql import functions as F

    from zeno_spark.functions.urls import fnv1a64_udf

    url = F.concat(F.lit(f"{scheme}://"), F.col("host"), F.lit("/robots.txt"))
    return hosts.select("host").distinct().select(
        F.sha1(url).alias("id"),
        url.alias("url"),
        fnv1a64_udf(url).alias("url_hash"),
        F.col("host"),
        F.lit(None).cast("string").alias("parent_url"),
        F.lit(0).alias("hop"),
        F.lit("robots").alias("type"),
        F.lit(True).alias("bypass_seencheck"),
        F.lit(0).alias("redirect"),
        F.lit(0).alias("retry"),
        F.lit(0).cast("long").alias("enqueue_seq"),
        F.lit(0).alias("discovered_round"),
        F.lit(0).alias("not_before_round"),
        F.lit(0).alias("priority"),
    )


def fetch_robots_live(hosts: DataFrame, transport) -> DataFrame:
    """Fetch + parse <host>/robots.txt for each distinct host through
    the live transport seam (operators/transport.py) and return
    robots-table rows.

    Scheme handling: the transport never follows redirects, and most
    modern hosts 301 http->https — treating that 3xx as "no robots"
    would silently disable the gate in the UNSAFE direction.  So the
    fetch tries http:// first and, for every host that did not answer
    200 (3xx redirect, connection failure, 404 on the http listener),
    retries once at https://<host>/robots.txt before concluding.

    Status semantics (RFC 9309 §2.3.1, simplified to the conservative
    prefix-disallow model above):

      * 200 on either scheme -> parse the body;
      * DEFINITIVE miss (a 4xx other than 429 on the http pass, or a
        3xx/4xx other than 429 on the https retry) -> allow-all row
        (empty prefixes) — "no robots file means no restrictions";
      * TRANSIENT outcome on both passes (connection failure, 5xx,
        429) -> NO row: the host stays uncovered, is allowed through
        this round like any unknown host, and is re-fetched on the
        next round it appears — a brief outage at first contact must
        not permanently cache allow-all over the host's real rules.

    One transport batch per host partition and scheme; the result is
    one row per host and feeds apply_robots_gate's join.  The first
    pass is materialized (localCheckpoint) before the ok/miss split so
    the split never re-runs the wire fetch."""
    from pyspark.sql import functions as F

    first = transport.responses(_robots_fetch_rows(hosts, "http")).select(
        "host",
        F.col("__page_status").alias("__s"),
        F.when(
            F.col("__page_status") == 200, F.decode(F.col("__bytes"), "UTF-8")
        ).alias("body"),
    ).localCheckpoint(eager=True)
    ok = first.filter(F.col("__s") == 200).select("host", "body")
    miss = first.filter(
        F.col("__s").isNull() | (F.col("__s") != 200)
    ).select("host", F.col("__s").alias("__s1"))

    def _definitive(s, lo):  # a real answer, not an outage
        return s.isNotNull() & s.between(lo, 499) & (s != 429)

    second = (
        transport.responses(
            _robots_fetch_rows(miss.select("host"), "https")
        )
        .select(
            F.col("host").alias("__h2"),
            F.col("__page_status").alias("__s2"),
            F.when(
                F.col("__page_status") == 200,
                F.decode(F.col("__bytes"), "UTF-8"),
            ).alias("body"),
        )
        .join(F.broadcast(miss), F.col("__h2") == miss["host"])
        .filter(
            (F.col("__s2") == 200)
            | _definitive(F.col("__s1"), 400)
            | _definitive(F.col("__s2"), 300)
        )  # both-passes-transient hosts cache NOTHING (re-fetch later)
        .select("host", "body")
    )
    return robots_table_from_bodies(ok.unionByName(second))
