"""URL-seen dedup, D1-D9 (SURVEY §2.3).

The reference's seencheck is an EXACT check-and-set on FNV-1a64(url)
against LevelDB (seencheck/seencheck.go:50-62).  The batch equivalent
splits check and set into two steps of one round:

  check:  candidates LEFT ANTI JOIN seen ON (url_hash, url)
  set:    seen.append(new rows)           -- same round commit

Joining on (url_hash, url) — not hash alone — makes the dedup exact even
under 64-bit hash collisions; the hash keys the shuffle (cheap, uniform),
the url equality is the tiebreak.  In-batch duplicates (D6,
utils/url.go:97-112) are dropped with a deterministic keep-first-by-
enqueue_seq window, matching the reference's first-occurrence-wins map.

D9 (bloom prefilter) is a NORTH-RULE ADDITION — the reference has no
bloom/cuckoo anywhere (grep -> 0 hits).  To preserve the "identical
URL-seen set" invariant it is a PREFILTER ONLY: rows the bloom rejects
are definitely-new and skip the anti-join; rows it accepts still go
through the exact anti-join.  Results are bit-identical with the filter
on or off; only the anti-join's left side shrinks.  The bloom is
*partitioned*: one filter per url_hash bucket, built distributed with
applyInPandas and applied with a cogrouped join — no driver collect, no
10^10-row broadcast.  The index is PERSISTED and maintained
incrementally (merge_bloom_index): each round ORs only its newly-seen
delta in, so no round rescans the full seen table to rebuild filters.

Anti-join shuffle at 10^10 rows — SOLVED BY STORAGE LAYOUT: the exact
probe is an equi-join on (url_hash, url), and the `seen` table is
written BUCKETED on exactly those keys (catalog.py SnapshotTable
bucket_spec, wired in plans/crawl.py; Iceberg `bucket(N, keys)`
equivalent).  The scan is bucket-aware, so the anti-join plans as a
storage-partitioned join: NO Exchange on the seen side, ever — the
only per-round shuffle is the candidate DELTA repartitioning into the
N buckets, which is the side that's supposed to pay (delta-dominated
round cost).  At bench scale Catalyst may still pick a broadcast of a
tiny seen side — also shuffle-free; the bucketed shape is what
survives when seen reaches 10^10 rows, and tests/test_planshape.py
pins it (no Exchange above the bucketed scan with broadcast disabled).
(Broadcasting the bloom-survivor hash set to semi-filter seen map-side
was considered and rejected: the maybe-set's size tracks per-round
candidate volume, so it is exactly as un-broadcastable as the problem
it would solve.)  (The north rule's cuckoo overflow tier slots in
per-bucket when a bucket's fill rate exceeds the bloom's design point;
at the sandbox scale the bloom never saturates, so the overflow tier is
represented by the `overflow` flag in the built index and exercised in
tests via a tiny m_bits.)
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_BLOOM_SCHEMA = (
    "bucket int, m_bits long, k int, overflow boolean, bits binary, "
    "n_keys long, n_buckets int"
)
_BLOOM_MERGE_SCHEMA = _BLOOM_SCHEMA + ", rebuild boolean"

# D9 bloom-index buckets.  SIZE TO SCALE: a bucket whose key count
# exceeds max_bits/bits_per_key (~1.3e7 keys at defaults) drops to the
# cuckoo overflow tier and gets rebuilt every merge — at 10^10 seen rows
# use ~1024 so buckets stay in the bloom tier.  The built index records
# this value and refuses a mismatched probe/merge.
BLOOM_BUCKETS = 32

# ---------------------------------------------------------------------------
# cuckoo overflow tier — kicks in when a bucket's key count would blow
# the bloom size cap.  A cuckoo filter stores f-bit fingerprints in
# 2-choice buckets: same no-false-negative guarantee as the bloom (so
# the prefilter-only discipline holds), but capacity degrades gracefully
# (kicked-out fingerprints fall back to an always-maybe stash) instead
# of the filter saturating to all-ones the way an undersized bloom does.
# Query is fully vectorized numpy; build places the bulk vectorized
# (sort + rank-within-bucket) with a Python kick loop only for the
# conflict tail.  Slots are uint16 fingerprints.
#
# The tier is a SAFETY NET, not the steady state: the cuckoo table is
# batch-built, so merge_bloom_index flags an overflowed bucket for
# rebuild on every delta.  If buckets sit in overflow permanently, the
# index is undersized — raise BLOOM_BUCKETS so each bucket's keys fit
# max_bits/bits_per_key (the sizing rule on the constant).
# ---------------------------------------------------------------------------

_CUCKOO_SLOTS = 4          # slots per bucket
_CUCKOO_FP_BITS = 16       # fingerprint width (0 = empty sentinel)
_CUCKOO_MAX_KICKS = 50


def _cuckoo_params(h: np.ndarray, n_buckets: int):
    """fingerprint + two candidate buckets per key (partial-key cuckoo:
    b2 = b1 xor hash(fp))."""
    fp = ((h >> np.uint64(40)) % np.uint64((1 << _CUCKOO_FP_BITS) - 1) + 1).astype(
        np.uint64
    )
    b1 = (h % np.uint64(n_buckets)).astype(np.uint64)
    b2 = (b1 ^ (fp * np.uint64(0x5BD1E995)) % np.uint64(n_buckets)) % np.uint64(
        n_buckets
    )
    return fp.astype(np.uint16), b1.astype(np.int64), b2.astype(np.int64)


def cuckoo_build(hashes: np.ndarray, load: float = 0.84) -> tuple[np.ndarray, np.ndarray]:
    """Build a cuckoo table for the given 64-bit hashes.  Returns
    (table[n_buckets, SLOTS] uint16, stash_fps uint16[]) — stash entries
    are fingerprints that lost the kick fight (queried as always-maybe)."""
    n = max(len(hashes), 1)
    n_buckets = 1 << int(np.ceil(np.log2(max(n / (_CUCKOO_SLOTS * load), 1.0))))
    table = np.zeros((n_buckets, _CUCKOO_SLOTS), dtype=np.uint16)
    stash: list[int] = []
    fp, b1, b2 = _cuckoo_params(hashes.astype(np.uint64), n_buckets)
    rng_state = np.uint64(0x9E3779B97F4A7C15)
    # bulk pass, vectorized: sort keys by their primary bucket, compute
    # each key's rank within its bucket run, and scatter the first
    # _CUCKOO_SLOTS of every bucket straight into the table — one numpy
    # pass places ~load-fraction of all keys; only keys whose primary
    # bucket ran out of slots go through the per-key kick loop below
    order = np.argsort(b1, kind="stable")
    sb = b1[order]
    rank = np.arange(len(sb)) - np.searchsorted(sb, sb)
    fits = rank < _CUCKOO_SLOTS
    placed_idx = order[fits]
    table[b1[placed_idx], rank[fits]] = fp[placed_idx]
    for i in order[~fits]:
        f, c1, c2 = int(fp[i]), int(b1[i]), int(b2[i])
        # c1 is full by construction of the bulk pass; try c2
        row = table[c2]
        empty = np.flatnonzero(row == 0)
        if len(empty):
            row[empty[0]] = f
            continue
        cur_b, cur_f = c1, f
        for kick in range(_CUCKOO_MAX_KICKS):
            slot = (int(rng_state) + kick) % _CUCKOO_SLOTS
            rng_state = np.uint64(
                (int(rng_state) * 6364136223846793005 + 1) % (1 << 64)
            )
            cur_f, table[cur_b, slot] = int(table[cur_b, slot]), cur_f
            cur_b = int(
                (np.uint64(cur_b) ^ (np.uint64(cur_f) * np.uint64(0x5BD1E995))
                 % np.uint64(len(table)))
                % np.uint64(len(table))
            )
            row = table[cur_b]
            empty = np.flatnonzero(row == 0)
            if len(empty):
                row[empty[0]] = cur_f
                break
        else:
            stash.append(cur_f)
    return table, np.array(stash, dtype=np.uint16)


def cuckoo_query(
    table: np.ndarray, stash: np.ndarray, hashes: np.ndarray
) -> np.ndarray:
    """Vectorized membership probe: maybe[i] = fp in either candidate
    bucket or in the stash."""
    if len(hashes) == 0:
        return np.zeros(0, dtype=bool)
    n_buckets = len(table)
    fp, b1, b2 = _cuckoo_params(hashes.astype(np.uint64), n_buckets)
    hit1 = (table[b1] == fp[:, None]).any(axis=1)
    hit2 = (table[b2] == fp[:, None]).any(axis=1)
    in_stash = np.isin(fp, stash) if len(stash) else np.zeros(len(fp), dtype=bool)
    return hit1 | hit2 | in_stash


def in_batch_dedupe(df: DataFrame) -> DataFrame:
    """D6 — one row per canonical URL (the reference keeps the first map
    insertion, utils/url.go:97-112).  enqueue_seq is a function of
    (round, url) so same-URL candidates tie on it; the (hop, type,
    parent_url) tiebreak makes the winner deterministic regardless of
    partitioning.  The oracle implements the identical ordering."""
    w = Window.partitionBy("url_hash", "url").orderBy(
        F.col("enqueue_seq").asc(),
        F.col("hop").asc(),
        F.col("type").asc(),
        F.col("parent_url").asc_nulls_first(),
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def anti_join_seen(candidates: DataFrame, seen: DataFrame) -> DataFrame:
    """D1 'check' half: keep candidates not in the seen set.  Exact on
    (url_hash, url)."""
    return candidates.join(
        seen.select("url_hash", "url"), on=["url_hash", "url"], how="left_anti"
    )


# ---------------------------------------------------------------------------
# D9 — partitioned bloom prefilter
# ---------------------------------------------------------------------------

def _bloom_positions(hashes: np.ndarray, m_bits: int, k: int) -> np.ndarray:
    """k positions per hash by double hashing: pos_i = (h1 + i*h2) mod m.
    Input hashes are already FNV-1a64 (uniform), so no re-hashing pass."""
    h = hashes.astype(np.uint64)
    h1 = h
    h2 = (h >> np.uint64(32)) | (h << np.uint64(32))
    h2 = h2 * np.uint64(0x9E3779B97F4A7C15) | np.uint64(1)
    i = np.arange(k, dtype=np.uint64)[:, None]
    return ((h1[None, :] + i * h2[None, :]) % np.uint64(m_bits)).astype(np.int64)


def bucket_of(col, n_buckets: int):
    """Bucket = url_hash mod n_buckets (non-negative)."""
    return F.pmod(F.col(col) if isinstance(col, str) else col, F.lit(n_buckets)).cast("int")


def _build_one_filter(
    bucket: int, hashes: np.ndarray, bits_per_key: int, k: int,
    min_bits: int, max_bits: int, headroom: int, n_buckets: int,
) -> dict:
    """One bucket's filter row as a plain dict.  ``headroom`` scales the
    bloom's capacity past the current key count so the incremental
    merge path (merge_bloom_index) can OR future rounds' keys in
    without an immediate rebuild.  The row carries ``n_buckets`` — the
    bucket-count the index was built under — so probe and merge can
    REFUSE a mismatched routing instead of silently testing keys
    against the wrong bucket's filter (a mismatch would produce false
    negatives, breaking the exact-dedup guarantee with no error)."""
    import struct

    n = len(hashes)
    m = min(max(int(n * bits_per_key * headroom), min_bits), max_bits)
    m = (m + 63) // 64 * 64
    overflow = n * bits_per_key > max_bits
    if overflow:
        table, stash = cuckoo_build(hashes)
        payload = (
            struct.pack("<QQ", len(table), len(stash))
            + table.tobytes()
            + stash.tobytes()
        )
        return {
            "bucket": bucket, "m_bits": m, "k": k, "overflow": True,
            "bits": payload, "n_keys": n, "n_buckets": n_buckets,
        }
    bits = np.zeros(m // 8, dtype=np.uint8)
    if n:
        pos = _bloom_positions(hashes, m, k).ravel()
        np.bitwise_or.at(bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8))
    return {
        "bucket": bucket, "m_bits": m, "k": k, "overflow": False,
        "bits": bits.tobytes(), "n_keys": n, "n_buckets": n_buckets,
    }


def build_bloom_index(
    seen: DataFrame, n_buckets: int = BLOOM_BUCKETS, bits_per_key: int = 10,
    k: int = 4,
    min_bits: int = 1 << 12, max_bits: int = 1 << 27, headroom: int = 1,
) -> DataFrame:
    """One filter per url_hash bucket, built distributed.  Returns a
    small DataFrame (bucket, m_bits, k, overflow, bits, n_keys).  A
    bucket whose key count would blow past the bloom size cap overflows
    to the CUCKOO tier (overflow=true, bits = serialized cuckoo
    table+stash): same no-false-negative guarantee, so the
    prefilter-only discipline holds in both tiers."""
    keyed = seen.select(bucket_of("url_hash", n_buckets).alias("bucket"), "url_hash")

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        row = _build_one_filter(
            int(pdf["bucket"].iloc[0]),
            pdf["url_hash"].to_numpy(dtype=np.int64),
            bits_per_key, k, min_bits, max_bits, headroom, n_buckets,
        )
        return pd.DataFrame({c: [v] for c, v in row.items()})

    return keyed.groupBy("bucket").applyInPandas(_build, schema=_BLOOM_SCHEMA)


def merge_bloom_index(
    old_index: DataFrame, delta: DataFrame, n_buckets: int = BLOOM_BUCKETS,
    bits_per_key: int = 10, k: int = 4,
    min_bits: int = 1 << 12, max_bits: int = 1 << 27, headroom: int = 2,
) -> DataFrame:
    """Incremental D9 maintenance: OR only the DELTA round's url_hashes
    into the persisted per-bucket filters, instead of rescanning the
    full seen table every round (which at a 10^10-row seen set would be
    the round's dominant scan).  Blooms are OR-mergeable, so this is
    exact; the no-false-negative discipline is preserved because:

      * a bucket with spare capacity gets the delta's positions ORed
        into its existing bit array (same m_bits/k => same positions);
      * a bucket whose total key count would exceed its design load
        (n_keys * bits_per_key > m_bits), or one already in the cuckoo
        overflow tier (batch-built, not insertable), is flagged
        ``rebuild=true`` — the caller must rebuild it from the
        post-append seen table (the exact authority), sized with
        ``headroom`` so rebuilds amortize geometrically;
      * a bucket with no existing row is built fresh from the delta.

    Returns _BLOOM_SCHEMA + rebuild flag; only flagged buckets need the
    seen scan, so steady-state rounds touch O(delta + index) bytes."""
    keyed = delta.select(bucket_of("url_hash", n_buckets).alias("bucket"), "url_hash")

    def _merge(key, old_pdf: pd.DataFrame, d_pdf: pd.DataFrame) -> pd.DataFrame:
        bucket = int(key[0])
        hashes = d_pdf["url_hash"].to_numpy(dtype=np.int64)
        if old_pdf.empty:
            row = _build_one_filter(
                bucket, hashes, bits_per_key, k, min_bits, max_bits,
                headroom, n_buckets,
            )
            row["rebuild"] = False
            return pd.DataFrame({c: [v] for c, v in row.items()})
        old = old_pdf.iloc[0]
        if int(old["n_buckets"]) != n_buckets:
            raise ValueError(
                f"bloom index built with n_buckets={int(old['n_buckets'])} "
                f"but merge called with n_buckets={n_buckets}: a mismatch "
                f"routes keys to the wrong bucket's filter (silent false "
                f"negatives) — rebuild the index or fix the caller"
            )
        out = {
            "bucket": bucket, "m_bits": int(old["m_bits"]),
            "k": int(old["k"]), "overflow": bool(old["overflow"]),
            "bits": bytes(old["bits"]),
            "n_keys": int(old["n_keys"]) + len(hashes),
            "n_buckets": n_buckets,
            "rebuild": False,
        }
        if len(hashes) == 0:
            return pd.DataFrame({c: [v] for c, v in out.items()})
        if bool(old["overflow"]) or out["n_keys"] * bits_per_key > int(old["m_bits"]):
            out["rebuild"] = True
            return pd.DataFrame({c: [v] for c, v in out.items()})
        bits = np.frombuffer(bytes(old["bits"]), dtype=np.uint8).copy()
        m = int(old["m_bits"])
        pos = _bloom_positions(hashes, m, int(old["k"])).ravel()
        np.bitwise_or.at(bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8))
        out["bits"] = bits.tobytes()
        return pd.DataFrame({c: [v] for c, v in out.items()})

    return (
        old_index.withColumn("bucket", F.col("bucket").cast("int"))
        .groupBy("bucket")
        .cogroup(keyed.groupBy("bucket"))
        .applyInPandas(_merge, schema=_BLOOM_MERGE_SCHEMA)
    )


def bloom_prefilter(
    candidates: DataFrame, bloom_index: DataFrame,
    n_buckets: int = BLOOM_BUCKETS,
) -> DataFrame:
    """Tag candidates with `maybe_seen` by cogrouping with the per-bucket
    blooms on the same bucket key (co-partitioned — each task tests its
    bucket's rows against exactly one filter, vectorized in numpy).
    Buckets with no bloom row (empty seen partition) => definitely new."""
    from pyspark.sql import types as T

    cols = [f.name for f in candidates.schema.fields]
    # StructType.add mutates in place — build the output schema from a copy
    out_schema = T.StructType(list(candidates.schema.fields)).add(
        "maybe_seen", "boolean", False
    )
    cand = candidates.withColumn("__bucket", bucket_of("url_hash", n_buckets))
    blooms = bloom_index.withColumnRenamed("bucket", "__bucket")

    def _test(key, cand_pdf: pd.DataFrame, bloom_pdf: pd.DataFrame) -> pd.DataFrame:
        if cand_pdf.empty:
            return pd.DataFrame(columns=cols + ["maybe_seen"])
        if not bloom_pdf.empty and int(bloom_pdf["n_buckets"].iloc[0]) != n_buckets:
            raise ValueError(
                f"bloom index built with n_buckets="
                f"{int(bloom_pdf['n_buckets'].iloc[0])} but probed with "
                f"n_buckets={n_buckets}: mismatched routing would yield "
                f"silent false negatives — fix the caller"
            )
        if bloom_pdf.empty:
            maybe = np.zeros(len(cand_pdf), dtype=bool)
        elif bool(bloom_pdf["overflow"].iloc[0]):
            # cuckoo overflow tier
            import struct

            payload = bytes(bloom_pdf["bits"].iloc[0])
            n_tbl, n_stash = struct.unpack_from("<QQ", payload, 0)
            off = 16
            table = np.frombuffer(
                payload, dtype=np.uint16, count=n_tbl * _CUCKOO_SLOTS, offset=off
            ).reshape(n_tbl, _CUCKOO_SLOTS)
            stash = np.frombuffer(
                payload, dtype=np.uint16, count=n_stash,
                offset=off + table.nbytes,
            )
            hashes = cand_pdf["url_hash"].to_numpy(dtype=np.int64)
            maybe = cuckoo_query(table, stash, hashes)
        else:
            bits = np.frombuffer(bloom_pdf["bits"].iloc[0], dtype=np.uint8)
            m = int(bloom_pdf["m_bits"].iloc[0])
            kk = int(bloom_pdf["k"].iloc[0])
            hashes = cand_pdf["url_hash"].to_numpy(dtype=np.int64)
            pos = _bloom_positions(hashes, m, kk)  # (k, n)
            hit = (bits[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1
            maybe = hit.all(axis=0).astype(bool)
        out = cand_pdf[cols].copy()
        out["maybe_seen"] = maybe
        return out

    return (
        cand.groupBy("__bucket")
        .cogroup(blooms.groupBy("__bucket"))
        .applyInPandas(_test, schema=out_schema)
    )


def dedupe_against_seen(
    candidates: DataFrame,
    seen: DataFrame,
    use_bloom: bool = False,
    n_buckets: int = BLOOM_BUCKETS,
    bloom_index: DataFrame | None = None,
) -> DataFrame:
    """The full D1 check: optional bloom prefilter, then exact anti-join.
    Identical output with use_bloom True or False (prefilter-only
    discipline — SURVEY §7 stage 3).  ``bloom_index``: a PERSISTED
    index (the crawl's incrementally-maintained bloom table) to probe
    instead of rebuilding from the full seen scan; it must be a
    superset of ``seen``'s membership (stale-HIGH is safe — false
    positives fall through to the exact anti-join; stale-LOW would
    break the no-false-negative discipline, which the round-marker
    rollback consistency guarantees against)."""
    if not use_bloom:
        return anti_join_seen(candidates, seen)
    blooms = (
        bloom_index if bloom_index is not None
        else build_bloom_index(seen, n_buckets=n_buckets)
    )
    tagged = bloom_prefilter(candidates, blooms, n_buckets=n_buckets)
    # one anti-join with maybe_seen as a residual condition: rows the
    # bloom cleared can never match, so they skip the probe and survive;
    # no two-branch union, no double compute of the prefilter pipeline
    s = seen.select(
        F.col("url_hash").alias("__sh"), F.col("url").alias("__su")
    )
    return tagged.join(
        s,
        F.col("maybe_seen")
        & (F.col("url_hash") == F.col("__sh"))
        & (F.col("url") == F.col("__su")),
        "left_anti",
    ).drop("maybe_seen")
