"""Fetch stage, X1-X5 (SURVEY §2.5).

The reference's executeGET (capture.go:30-181) does: build request with
Referer from the parent (capture.go:206-210), GET through the
WARC-recording client, retry on error, linear-backoff on 429
(capture.go:84-114), follow 3xx up to MaxRedirect (capture.go:120-178).

Batch shape: the scheduled rows broadcast onto the origin scan and run
through an Arrow-batched *fetch worker* — in this sandbox there is no
network, so the "origin server" is the deterministic ``pages`` table
(an equi-join on canonical url IS the sandbox's HTTP) and the worker's
only irreducibly-Python job is the payload verify (decode + perceptual
digest).  Response-status semantics:

  * missing page        -> status 404 (connection-refused analogue)
  * 429 + retry >= 1    -> 200 (deterministic "server recovered", so the
                           retry path is exercised end-to-end)
  * 301 w/ redirect_to  -> emits a redirect continuation row (X2):
                           same item id, same hop, redirect+1, target
                           seenchecked next round (D5), bounded by F7
  * 200                 -> a fetch-result row (image payload + caption
                           for image/* pages; html rows go on to extract)

PLAN DISCIPLINE — payload bytes never shuffle, never enter the columnar
cache, and never round-trip through Python:

  * Spark's in-memory columnar cache builder does several full copies +
    per-value stats + a dictionary-encoding attempt for BINARY columns —
    measured: caching a 2 GB payload corpus burns minutes of pure CPU
    and anti-scales with task slots.  So payload bytes are read straight
    off the (column-pruned) parquet scan, every time they're needed, and
    only NARROW columns are ever cached.
  * ``fetch_meta`` produces the narrow result (everything but bytes) in
    ONE payload pass: scan -> broadcast probe -> native status/digest
    exprs -> ``mapInArrow`` verify worker that reads the payload column
    zero-copy and returns only narrow columns (pandas materializes every
    binary cell as a Python object; Arrow passes buffers — measured 7x
    cheaper, and the pandas echo anti-scales with slots).
  * ``attach_sink_payloads`` rejoins bytes for the sink rows with a
    second column-pruned scan + broadcast probe (no Python at all).
  * A real deployment has no origin table — the worker performs the
    network fetch for its batch — so the sandbox keeps payload movement
    off the measured plan exactly like production would.

Assets (X3) need no special casing here: an asset is just a frontier row
with type='asset' and hop=parent.hop (assets.go:109), so the fan-out is
the normal expansion path.
"""

from __future__ import annotations

from typing import Iterator

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from zeno_spark import schemas

# scheduled-frontier columns carried through fetch
_CARRY = [f.name for f in schemas.FRONTIER.fields]

# narrow fetch result: one row per scheduled row, no payload bytes.
# outlinks/assets are the in-worker live-extraction results (transport
# extract=True); null under the origin-table transport, whose extraction
# is the links-table join (operators/extract.py).
FETCH_META = T.StructType(
    schemas.FRONTIER.fields
    + [
        T.StructField("image_id", T.StringType(), True),
        T.StructField("w", T.IntegerType(), True),
        T.StructField("h", T.IntegerType(), True),
        T.StructField("fmt", T.StringType(), True),
        T.StructField("caption", T.StringType(), True),
        T.StructField("phash", T.LongType(), True),
        T.StructField("content_type", T.StringType(), True),
        T.StructField("redirect_to", T.StringType(), True),
        T.StructField("status", T.IntegerType(), False),  # effective status
        T.StructField("payload_digest", T.StringType(), True),
        # payload octet count, measured where the bytes are already in
        # hand (the verify scan) — feeds the warc.DataTotal /
        # LocalDedupeTotal byte counters (crawl/stats.go:59-63) without
        # ever re-scanning the binary column
        T.StructField("payload_size", T.LongType(), True),
        T.StructField("outlinks", T.ArrayType(T.StringType()), True),
        T.StructField("assets", T.ArrayType(T.StringType()), True),
        # a 429's Retry-After header, parsed to seconds by the live
        # transport (null elsewhere); backoff_retry_rows maps it onto
        # not_before_round when cfg.honor_retry_after is set
        T.StructField("retry_after", T.DoubleType(), True),
    ]
)

# perceptual-hash agreement bound: measured lossy-codec roundtrip drift
# is <= 2 bits of 64; corruption ~32 (see functions/images.py)
_PHASH_TOLERANCE = 8


def _verify_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """Arrow verify worker — the WARC payload-digest step of the
    reference's sink (crawl/crawl.go:96-99) applied to the image corpus:
    a fetch isn't 'ok' until its payload decodes AND the recomputed
    perceptual hash agrees with the server-advertised one within the
    perceptual tolerance.  CORRUPT (undecodable) or digest-divergent
    payloads get status 422; phash is replaced with the value recomputed
    from the decoded pixels.

    UNSUPPORTED codecs pass through unverified: decode_image raises
    NotImplementedError for formats this container has no decoder for
    (real-world JPEG, non-filter-0 PNG — functions/images.py's
    documented dispatch slots), and a live crawl must CAPTURE those
    payloads, not reject them as 422 — the row keeps its status and the
    server-advertised phash, exactly like a WARC writer archives bodies
    it cannot parse.  Only a decoder that ran and failed (ValueError —
    truncated/corrupt data) or a digest mismatch marks 422.

    Input batches carry FETCH_META columns plus __bytes / __adv_phash;
    output batches are FETCH_META exactly — the payload column enters
    Python once (zero-copy Arrow buffer; per-row bytes materialize only
    for rows actually decoded) and never goes back.

    ``__adv_phash`` is a STRING sidecar: int64 phashes exceed 2^53, and
    a nullable int64 crossing into float-happy frames silently rounds
    the low bits — the string keeps the advertised value exact."""
    from zeno_spark.functions.images import decode_image, phash64

    names = [f.name for f in FETCH_META.fields]
    for b in batches:
        idx = {n: i for i, n in enumerate(b.schema.names)}
        status = b.column(idx["status"]).to_numpy(zero_copy_only=False).copy()
        phash = b.column(idx["phash"]).to_pylist()
        bts = b.column(idx["__bytes"])
        fmts = b.column(idx["fmt"])
        adv = b.column(idx["__adv_phash"])
        bts_ok = pc.is_valid(bts).to_numpy(zero_copy_only=False)
        fmt_ok = pc.is_valid(fmts).to_numpy(zero_copy_only=False)
        adv_ok = pc.is_valid(adv).to_numpy(zero_copy_only=False)
        for i in range(b.num_rows):
            if status[i] != 200 or not bts_ok[i] or not fmt_ok[i]:
                continue
            try:
                px = decode_image(bts[i].as_py(), fmts[i].as_py())
                recomputed = phash64(px)
            except NotImplementedError:
                continue  # no decoder for this codec: capture unverified
            except Exception:
                status[i] = 422  # decoder ran and failed: corrupt payload
                continue
            if adv_ok[i] and bin(
                (int(adv[i].as_py()) ^ recomputed) & ((1 << 64) - 1)
            ).count("1") > _PHASH_TOLERANCE:
                status[i] = 422  # payload decodes but digest disagrees
            else:
                phash[i] = recomputed
        cols = []
        for n in names:
            if n == "status":
                cols.append(pa.array(status, type=pa.int32()))
            elif n == "phash":
                cols.append(pa.array(phash, type=pa.int64()))
            else:
                cols.append(b.column(idx[n]))
        yield pa.RecordBatch.from_arrays(cols, names=names)


def proxy_for_host(host: str, proxy: str | None, bypass: tuple[str, ...]) -> str | None:
    """X4 routing rule (capture.go:60-64): the proxied client handles
    every host except the bypass list; None = direct connection."""
    if not proxy or host in bypass:
        return None
    return proxy


def fetch_meta(
    scheduled: DataFrame, pages: DataFrame | None, cfg=None, transport=None
) -> DataFrame:
    """Narrow fetch: one FETCH_META row per scheduled row, payload bytes
    touched exactly once (the verify worker's input) and never emitted.

    The wire lives behind the *transport* seam (operators/transport.py):
    by default the scheduled set (bounded by budget*hosts per round)
    broadcasts onto the ``pages`` origin scan, so page bodies stream
    straight out of the column-pruned parquet scan; a live deployment
    passes an ``HttpTransport`` and the SAME downstream plan runs over
    real responses.  Status semantics and the D8 payload digest are
    native expressions; the only Python is the decode+verify in
    ``_verify_batches``.  URLs with no origin row skip the worker
    entirely and surface as native 404 rows (connection-refused
    analogue)."""
    from zeno_spark.operators.transport import OriginTableTransport

    min_size = getattr(cfg, "payload_dedupe_min_size", 1024) if cfg else 1024
    if transport is None:
        transport = OriginTableTransport(pages)
    matched = transport.responses(scheduled, cfg)

    if transport.covers_all:
        # a live transport emits one row per scheduled row; a null
        # status means a CONNECTION-LEVEL failure after the worker's
        # in-request retries — a transient, NOT a 404.  Surface it as
        # sentinel status 0 so split_results routes it through the
        # backoff/retry path (the reference retries request errors up
        # to MaxRetry and never records them as captures,
        # capture.go:56-83); coalescing it to 404 would permanently
        # drop the URL on any transient outage.
        raw = F.coalesce(F.col("__page_status"), F.lit(0))
    else:
        # origin-table transport: an absent row is a deterministic miss
        # (the sandbox's connection-refused analogue) -> 404 below
        raw = F.coalesce(F.col("__page_status"), F.lit(404))
    if transport.deterministic_429:
        # sandbox origin: a retried 429 deterministically "recovers", so
        # the O5 retry path is exercised end-to-end; a live transport
        # reports what the server actually said on the re-fetch
        eff = (
            F.when((raw == 429) & (F.col("retry") >= 1), F.lit(200))
            .otherwise(raw)
            .cast("int")
        )
    else:
        eff = raw.cast("int")
    failed = eff != 200
    base = matched.select(
        *_CARRY,
        F.when(failed, F.lit(None).cast("string"))
        .otherwise(F.col("image_id")).alias("image_id"),
        F.when(failed, F.lit(None).cast("int")).otherwise(F.col("w")).alias("w"),
        F.when(failed, F.lit(None).cast("int")).otherwise(F.col("h")).alias("h"),
        F.when(failed, F.lit(None).cast("string"))
        .otherwise(F.col("fmt")).alias("fmt"),
        F.when(failed, F.lit(None).cast("string"))
        .otherwise(F.col("caption")).alias("caption"),
        F.when(failed, F.lit(None).cast("long"))
        .otherwise(F.col("phash")).alias("phash"),
        F.col("content_type"),
        # a 200 never re-redirects; keep redirect_to only on 3xx rows
        F.when(eff.between(300, 399), F.col("redirect_to"))
        .otherwise(F.lit(None).cast("string")).alias("redirect_to"),
        eff.alias("status"),
        # D8 digest, pre-verify: identical bytes => identical digest AND
        # identical verify outcome, so winner selection is unaffected by
        # computing it here (and the verify worker stays out of the
        # digest lineage — broadcasting `winners` never re-runs decode)
        F.when(
            ~failed
            & F.col("__bytes").isNotNull()
            & (F.length("__bytes") >= F.lit(min_size)),
            F.sha2(F.col("__bytes"), 256),
        ).alias("payload_digest"),
        F.when(~failed, F.octet_length("__bytes"))
        .cast("long").alias("payload_size"),
        F.col("__outlinks").alias("outlinks"),
        F.col("__assets").alias("assets"),
        F.col("__retry_after").alias("retry_after"),
        F.col("__bytes"),
        F.col("__adv_phash"),
    )
    verified = base.mapInArrow(_verify_batches, schema=FETCH_META)
    if transport.covers_all:
        # a live transport yields one response row per scheduled row
        # (connection failure is a status, not an absent row)
        return verified

    # scheduled rows with no origin row -> 404, built natively (the
    # matched url set is <= |scheduled|, so it broadcasts back cheaply)
    missing = scheduled.join(
        F.broadcast(matched.select(F.col("url").alias("__mu"))),
        scheduled["url"] == F.col("__mu"),
        "left_anti",
    )
    missing_rows = missing.select(
        *_CARRY,
        F.lit(None).cast("string").alias("image_id"),
        F.lit(None).cast("int").alias("w"),
        F.lit(None).cast("int").alias("h"),
        F.lit(None).cast("string").alias("fmt"),
        F.lit(None).cast("string").alias("caption"),
        F.lit(None).cast("long").alias("phash"),
        F.lit(None).cast("string").alias("content_type"),
        F.lit(None).cast("string").alias("redirect_to"),
        F.lit(404).cast("int").alias("status"),
        F.lit(None).cast("string").alias("payload_digest"),
        F.lit(None).cast("long").alias("payload_size"),
        F.lit(None).cast("array<string>").alias("outlinks"),
        F.lit(None).cast("array<string>").alias("assets"),
        F.lit(None).cast("double").alias("retry_after"),
    )
    return verified.unionByName(missing_rows)


def attach_sink_payloads(sink_meta: DataFrame, pages: DataFrame) -> DataFrame:
    """Rejoin payload bytes onto the (narrow, post-revisit-marking) sink
    rows with a second column-pruned scan + broadcast probe — payload
    bytes go parquet scan -> parquet write with no Python, no shuffle,
    no cache.  Revisit rows keep metadata + digest but no bytes (the
    WARC revisit-record analogue, crawl/crawl.go:96-99)."""
    meta_b = F.broadcast(sink_meta)
    payloads = pages.select(
        F.col("url").alias("__p_url"), F.col("bytes").alias("__p_bytes")
    )
    joined = payloads.join(meta_b, F.col("__p_url") == meta_b["url"], "inner")
    revisit = (
        F.col("revisit") if "revisit" in sink_meta.columns else F.lit(False)
    )
    return joined.withColumn(
        "bytes",
        F.when(revisit | (F.col("status") != 200), F.lit(None).cast("binary"))
        .otherwise(F.col("__p_bytes")),
    ).drop("__p_url", "__p_bytes")


def split_results(results: DataFrame):
    """(ok, redirects, retryable, dead) — native filters over one pass.
    Retryable = 429 (server backoff) and 0 (connection-level failure on
    a live transport); both re-enter the frontier via backoff_retry_rows
    with retry+1, matching the reference's MaxRetry discipline
    (capture.go:56-114)."""
    ok = results.filter(F.col("status") == 200)
    redirects = results.filter(
        F.col("status").between(300, 399) & F.col("redirect_to").isNotNull()
    )
    retryable = results.filter(F.col("status").isin(429, 0))
    dead = results.filter(
        (~F.col("status").isin(200, 429, 0))
        & ~(F.col("status").between(300, 399) & F.col("redirect_to").isNotNull())
    )
    return ok, redirects, retryable, dead


def mark_payload_revisits(
    ok: DataFrame, prior_fetched: DataFrame, min_size: int
) -> DataFrame:
    """D8 — WARC payload dedupe (crawl/crawl.go:96-99, threshold
    cmd/get.go:80-82): a payload whose sha256 digest was already sunk
    (earlier round, or earlier in this batch by deterministic
    (enqueue_seq, url_hash, url) order) becomes a REVISIT row — metadata
    and digest kept, bytes dropped at sink time.  Payloads under
    ``min_size`` are exempt, like the reference's 1024-byte threshold.

    Scale shape: the input is NARROW (fetch_meta precomputes the digest;
    a bytes column, if present, gets the digest computed here and nulled
    on revisit rows — the unit-test / standalone form).  The in-batch
    keep-first is a digest->min(key) aggregate whose winners broadcast
    back; the cross-round check semi-joins the fetched table's digest
    column (column-pruned scan) down to this round's digests before
    broadcasting, so the broadcast side stays bounded by the round size
    no matter how large the fetched table grows."""
    has_bytes = "bytes" in ok.columns
    if "payload_digest" in ok.columns:
        df = ok
    else:
        digest = F.when(
            F.col("bytes").isNotNull() & (F.length("bytes") >= min_size),
            F.sha2(F.col("bytes"), 256),
        )
        df = ok.withColumn("payload_digest", digest)
    key = F.struct(F.col("enqueue_seq"), F.col("url_hash"), F.col("url"))
    winners = (
        df.filter(F.col("payload_digest").isNotNull())
        .groupBy("payload_digest")
        .agg(F.min(key).alias("__w"))
    )
    prior = (
        prior_fetched.filter(F.col("payload_digest").isNotNull())
        .select("payload_digest")
        .join(winners.select("payload_digest"), "payload_digest", "left_semi")
        .distinct()
        .withColumn("__prior", F.lit(True))
    )
    df = (
        df.join(F.broadcast(winners), "payload_digest", "left")
        .join(F.broadcast(prior), "payload_digest", "left")
    )
    revisit = F.col("payload_digest").isNotNull() & (
        F.coalesce(F.col("__prior"), F.lit(False)) | (key != F.col("__w"))
    )
    out = df.withColumn("revisit", F.coalesce(revisit, F.lit(False)))
    if has_bytes:
        out = out.withColumn(
            "bytes",
            F.when(F.col("revisit"), F.lit(None).cast("binary")).otherwise(
                F.col("bytes")
            ),
        )
    return out.drop("__w", "__prior")


def _cdx_ts_to_warc_date(ts):
    """14-digit CDX timestamp column -> ISO 8601 Zulu WARC-Date."""
    return F.concat(
        ts.substr(1, 4), F.lit("-"), ts.substr(5, 2), F.lit("-"),
        ts.substr(7, 2), F.lit("T"), ts.substr(9, 2), F.lit(":"),
        ts.substr(11, 2), F.lit(":"), ts.substr(13, 2), F.lit("Z"),
    )


def mark_cdx_revisits(
    ok: DataFrame, cdx_index: DataFrame, min_size: int = 1024
) -> DataFrame:
    """D8 remote tier — CDX-server payload dedupe (crawl/crawl.go:97-98:
    ``DedupeOptions{CDXDedupe: true, CDXURL, SizeThreshold}``): a payload
    whose digest already exists in a PRIOR crawl's archive index becomes
    a revisit row that refers to the archive's ORIGINAL capture — the
    reference's warc client asks the CDX server by payload digest and
    writes a revisit record carrying WARC-Refers-To-Target-URI /
    WARC-Refers-To-Date; here those land in the ``refers_to_url`` /
    ``refers_to_date`` columns and flow onto the exported record.

    ``cdx_index`` is the prior archive's index in the CDXJ row shape
    (operators/cdx.py cdxj_index / read_cdxj): ``digest`` holds the
    WARC-Payload-Digest (``sha256:<hex>``), ``ts`` the 14-digit capture
    timestamp.  Precedence matches the reference (local dedupe
    short-circuits before the CDX lookup): rows already marked revisit
    by mark_payload_revisits keep their in-crawl marking and null
    refers-to; only local ORIGINALS are checked against the archive.
    Payloads under ``min_size`` are exempt, like the CDX SizeThreshold.

    Scale shape: the archive index may hold 10^10 captures while the
    round's digest set is bounded by the round, so the join runs as
    (1) semi-join the index scan down by the round's digests (small
    side broadcast INTO the scan), (2) min-aggregate ONE original
    capture per digest — payload-carrying captures rank before
    digest-only revisit captures (a merged multi-crawl index may hold
    both; the refers-to target must be a record replay can serve), then
    earliest (ts, url), the CDX server's answer, so re-marking is
    deterministic — then (3) broadcast the per-digest result (<= round
    cardinality) back onto the round rows.
    The index scan is column-pruned to (digest, ts, url) and never
    touches payload bytes; at production scale the index additionally
    lives digest-bucketed in the catalog so step (1) bucket-prunes."""
    df = ok if "revisit" in ok.columns else ok.withColumn(
        "revisit", F.lit(False))
    size_ok = F.lit(True)
    if "payload_size" in df.columns:
        size_ok = F.coalesce(F.col("payload_size") >= min_size, F.lit(True))
    elif "bytes" in df.columns:
        size_ok = F.coalesce(F.length("bytes") >= min_size, F.lit(True))
    eligible = F.col("payload_digest").isNotNull() & ~F.col("revisit") & size_ok
    round_digests = df.filter(eligible).select("payload_digest").distinct()
    from zeno_spark.operators.cdx import is_revisit_col

    capture = F.struct(
        is_revisit_col(cdx_index).cast("int").alias("rev"),
        F.col("ts"), F.col("url"),
    )
    archive = cdx_index
    if "record_type" in cdx_index.columns:
        archive = archive.filter(
            F.col("record_type").isin("response", "revisit"))
    archive = (
        archive.filter(F.col("digest").isNotNull())
        .select(
            F.regexp_replace(F.col("digest"), "^sha256:", "")
            .alias("payload_digest"),
            capture.alias("__cap"),
        )
        .join(F.broadcast(round_digests), "payload_digest", "left_semi")
        .groupBy("payload_digest")
        .agg(F.min("__cap").alias("__cap"))
        .select(
            "payload_digest",
            F.col("__cap.url").alias("__cdx_url"),
            _cdx_ts_to_warc_date(F.col("__cap.ts")).alias("__cdx_date"),
        )
    )
    out = df.join(F.broadcast(archive), "payload_digest", "left")
    hit = eligible & F.col("__cdx_url").isNotNull()
    prev_url = (
        F.col("refers_to_url") if "refers_to_url" in df.columns
        else F.lit(None).cast("string")
    )
    prev_date = (
        F.col("refers_to_date") if "refers_to_date" in df.columns
        else F.lit(None).cast("string")
    )
    out = (
        out.withColumn(
            "refers_to_url", F.when(hit, F.col("__cdx_url"))
            .otherwise(prev_url))
        .withColumn(
            "refers_to_date", F.when(hit, F.col("__cdx_date"))
            .otherwise(prev_date))
        .withColumn("revisit", F.col("revisit") | F.coalesce(hit, F.lit(False)))
    )
    if "bytes" in out.columns:
        out = out.withColumn(
            "bytes",
            F.when(F.col("revisit"), F.lit(None).cast("binary"))
            .otherwise(F.col("bytes")),
        )
    return out.drop("__cdx_url", "__cdx_date")


def to_fetched_rows(ok: DataFrame, round_no: int) -> DataFrame:
    """Project fetch successes into the `fetched` sink schema (the WARC
    replacement, SURVEY §2.1 S6).  Input rows carry payload_digest /
    revisit (+ refers_to_* from the CDX tier) when D8 is on; absent
    columns default to (null, false, null, null)."""
    cols = set(ok.columns)
    if "payload_digest" not in cols:
        ok = ok.withColumn("payload_digest", F.lit(None).cast("string"))
    if "revisit" not in cols:
        ok = ok.withColumn("revisit", F.lit(False))
    for c in ("refers_to_url", "refers_to_date"):
        if c not in cols:
            ok = ok.withColumn(c, F.lit(None).cast("string"))
    return ok.select(
        "url", "url_hash", "host", "image_id", "bytes", "w", "h", "fmt",
        "caption", "phash", "status", "type", "hop",
        F.lit(round_no).cast("int").alias("round"),
        "payload_digest", "revisit", "refers_to_url", "refers_to_date",
    )
