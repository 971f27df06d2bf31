"""Seeded input generation for the three workloads.

Every input is a pure function of (workload, seed, size) and is cached on
disk under the benchmark's work directory, keyed by exactly that triple.
Generation runs before the set-up clock starts and is part of no metric.
The program under test only ever sees the files written here (or, for the
live crawl, the origin URL serving them).
"""

from __future__ import annotations

import html
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

_KEEP_ENTRIES = 12  # cached input sets kept per workload


def _cached(work: str, key: str, build) -> str:
    """Directory for ``key`` (``<workload>-...``), built by
    ``build(tmp_dir)`` on a miss and published by rename; the workload's
    oldest entries beyond _KEEP_ENTRIES are dropped."""
    root = os.path.join(work, "inputs")
    out = os.path.join(root, key)
    if os.path.exists(os.path.join(out, "_DONE")):
        os.utime(out)
        return out
    tmp = os.path.join(root, f".tmp-{key}-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    workload = key.split("-", 1)[0]
    entries = sorted(
        (os.path.getmtime(os.path.join(root, d)), d)
        for d in os.listdir(root) if d.split("-", 1)[0] == workload
    )
    for _, d in entries[:-_KEEP_ENTRIES]:
        shutil.rmtree(os.path.join(root, d), ignore_errors=True)
    return out


# ---------------------------------------------------------------------------
# crawl corpora
# ---------------------------------------------------------------------------

def _payloads(meta: pd.DataFrame):
    """Image bytes + phash for every image row, with the generator
    fixtures.attach_payloads uses (seeded by fnv(image_id))."""
    from zeno_spark.functions.images import encode_image, generate_pixels, phash64
    from zeno_spark.functions.urls import fnv1a64

    memo: dict[tuple, tuple[bytes, int]] = {}
    out_bytes, out_phash = [], []
    for image_id, w, h, fmt in zip(meta["image_id"], meta["w"], meta["h"],
                                   meta["fmt"]):
        if image_id is None or fmt is None:
            out_bytes.append(None)
            out_phash.append(None)
            continue
        key = (image_id, fmt, int(w), int(h))
        if key not in memo:
            px = generate_pixels(fnv1a64(image_id) & 0xFFFFFFFF, int(w), int(h))
            memo[key] = (encode_image(px, fmt), phash64(px))
        b, p = memo[key]
        out_bytes.append(b)
        out_phash.append(p)
    return out_bytes, out_phash


def _html_bodies(meta: pd.DataFrame, links: pd.DataFrame) -> list:
    """One <a href>/<img src> tag per links-table edge, plus a comment
    unique to the page so no two bodies share a digest (the shape of the
    origin_html fixture in tests/test_transport.py)."""
    edges: dict[str, list[str]] = {}
    for src, dst, kind in zip(links["src_url"], links["dst_url"], links["kind"]):
        esc = html.escape(dst, quote=True)
        tag = f'<img src="{esc}">' if kind == "asset" else f'<a href="{esc}">go</a>'
        edges.setdefault(src, []).append(tag)
    return [
        (f"<html><!-- {url} --><body>" + "".join(edges.get(url, ()))
         + "</body></html>").encode()
        if ct == "text/html" else None
        for url, ct in zip(meta["url"], meta["content_type"])
    ]


def crawl_corpus(work: str, workload: str, seed: int, n_pages: int,
                 n_hosts: int, img_dims: tuple[int, int],
                 seed_frac: float, html_bodies: bool) -> str:
    """pages/links/seeds parquet for one crawl input.

    ``seed_frac``: share of the 200-status pages (html and images) used as
    seeds, picked by a seeded draw and listed in corpus order.
    ``html_bodies``: store generated html bodies in the pages ``bytes``
    column (the live origin serves them; the table origin does not read
    html bytes)."""
    from zeno_spark import schemas
    from zeno_spark.fixtures import build_metadata

    key = f"{workload}-s{seed}-n{n_pages}-h{n_hosts}"

    def build(d: str) -> None:
        meta, links, _ = build_metadata(n_pages, n_hosts, seed, img_dims)
        b, p = _payloads(meta)
        if html_bodies:
            hb = _html_bodies(meta, links)
            b = [x if x is not None else y for x, y in zip(b, hb)]
        # object dtype: a float column would round int64 phashes > 2^53
        pages = meta.assign(bytes=pd.Series(b, index=meta.index, dtype=object),
                            phash=pd.Series(p, index=meta.index, dtype=object))
        pq.write_table(
            pa.Table.from_pandas(
                pages[[f.name for f in schemas.PAGES.fields]],
                schema=pa.schema([
                    pa.field(f.name, _ARROW[f.dataType.simpleString()],
                             f.nullable)
                    for f in schemas.PAGES.fields
                ]),
                preserve_index=False,
            ),
            os.path.join(d, "pages.parquet"),
        )
        pq.write_table(pa.Table.from_pandas(links, preserve_index=False),
                       os.path.join(d, "links.parquet"))
        rng = np.random.default_rng(seed + 104729)
        ok = meta[meta["status"] == 200]["url"].to_numpy()
        pick = rng.permutation(len(ok))[: int(len(ok) * seed_frac)]
        urls = [str(u) for u in ok[np.sort(pick)]]
        pq.write_table(
            pa.table({"url": pa.array(urls, pa.string()),
                      "line": pa.array(range(len(urls)), pa.int64())}),
            os.path.join(d, "seeds.parquet"),
        )

    return _cached(work, key, build)


_ARROW = {
    "string": pa.string(), "binary": pa.binary(), "int": pa.int32(),
    "bigint": pa.int64(),
}


def load_crawl_meta(d: str):
    """(pages_meta, links, seed_urls) in the oracle's pandas shape."""
    meta = pq.read_table(
        os.path.join(d, "pages.parquet"),
        columns=["url", "host", "image_id", "w", "h", "fmt", "caption",
                 "content_type", "status", "redirect_to"],
    ).to_pandas()
    meta = meta.astype(object).where(meta.notna(), None)
    links = pq.read_table(os.path.join(d, "links.parquet")).to_pandas()
    seeds = pq.read_table(os.path.join(d, "seeds.parquet")).to_pandas()
    return meta, links, list(seeds.sort_values("line")["url"])


# ---------------------------------------------------------------------------
# documents for corpus_select
# ---------------------------------------------------------------------------

_WORDS = (
    "batch part spark line column order small sort fast value scan hash "
    "slow group agg filter query big key window row table stream merge data "
    "vector join customer index page crawl link host seed frame fetch parse"
).split()
_MARKERS = {
    "en": ("the", "a", "is", "and"), "de": ("der", "die", "das", "und"),
    "es": ("el", "los", "las", "y"), "fr": ("le", "les", "et", "ou"),
    "zh": ("de", "shi", "le", "bu"),
}
_LANGS = ("en", "de", "es", "fr", "zh")
_LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)


def documents(work: str, seed: int, n_docs: int) -> str:
    """documents.parquet (doc_id, text, lang, source, n_chars) with the
    sf-testdata column shape: marker-token languages, a technical
    vocabulary, and near-duplicate chains.  A third of the base documents
    start a chain of one to three edits, each one or two tokens away from
    the previous link, so simhash pairs and multi-hop clusters occur while
    the longest chain (and with it the number of connected-components
    iterations) is the same for every seed."""
    key = f"corpus_select-s{seed}-n{n_docs}"

    def build(d: str) -> None:
        rng = np.random.default_rng(seed)
        vocab = np.array(_WORDS + [f"w{i}" for i in range(400)])
        texts: list[str] = []
        langs: list[str] = []
        while len(texts) < n_docs:
            lang = _LANGS[int(rng.choice(len(_LANGS), p=_LANG_P))]
            n = int(rng.integers(6, 90))
            toks = [str(t) for t in rng.choice(vocab, size=n)]
            for _ in range(int(rng.integers(0, 1 + n // 6))):
                toks.insert(int(rng.integers(len(toks) + 1)),
                            str(rng.choice(_MARKERS[lang])))
            chain = int(rng.integers(1, 4)) if rng.random() < 0.33 else 0
            for _ in range(1 + chain):
                texts.append(" ".join(toks))
                langs.append(lang)
                toks = list(toks)
                for _ in range(int(rng.integers(1, 3))):
                    toks[int(rng.integers(len(toks)))] = str(rng.choice(vocab))
        texts, langs = texts[:n_docs], langs[:n_docs]
        pq.write_table(
            pa.table({
                "doc_id": pa.array(range(n_docs), pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(langs, pa.string()),
                "source": pa.array([f"src{i % 10}" for i in range(n_docs)],
                                   pa.string()),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }),
            os.path.join(d, "documents.parquet"),
        )

    return _cached(work, key, build)
