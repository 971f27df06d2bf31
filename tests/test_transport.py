"""Live-fetch transport seam (operators/transport.py).

The reference's captures all flow through one swappable HTTP client
(crawl/crawl.go:101-119); here the analogous seam is the transport
passed to fetch_meta / CrawlJob.  A threaded local origin server plays
"the web", serving the SAME deterministic corpus the pages table holds
(proxy-style absolute-URI requests — which also exercises X4 routing
for real, capture.go:60-64), so the invariant is sharp:

  fetch_meta(sched, pages)  ==  fetch_meta(sched, HttpTransport(proxy))

row for row, and a whole CrawlJob run (ordering, seen set, fetched set,
metrics, revisit marks) is identical under either transport.  The live
transport additionally records every response into .warc.gz as it
streams; the capture is checked against the corpus payload bytes.
"""

from __future__ import annotations

import glob
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest
from pyspark.sql import functions as F

from zeno_spark import fixtures
from zeno_spark.config import CrawlConfig
from zeno_spark.operators import warc as W
from zeno_spark.operators.fetch import fetch_meta
from zeno_spark.operators.transport import HttpTransport, OriginTableTransport
from zeno_spark.plans.crawl import CrawlJob

_X = ("image_id", "w", "h", "fmt", "caption", "phash")


class _OriginHandler(BaseHTTPRequestHandler):
    """Forward-proxy-style origin: looks the absolute request URI up in
    the corpus dict.  429 rows are stateful — first hit 429, later hits
    200 — which is exactly the deterministic 'server recovered on
    retry' semantics the pages-table transport encodes natively."""

    corpus: dict[str, dict] = {}
    hits: dict[str, int] = {}
    lock = threading.Lock()
    protocol_version = "HTTP/1.1"

    def do_GET(self):  # noqa: N802
        row = self.corpus.get(self.path)
        if row is None:
            self.send_response(404)
            self.send_header("Content-Length", "0")
            self.end_headers()
            return
        with self.lock:
            n = self.hits[self.path] = self.hits.get(self.path, 0) + 1
        status = row["status"]
        if status == 429 and n >= 2:
            status = 200  # recovered for the retry attempt
        body = (row["bytes"] or b"") if status == 200 else b""
        self.send_response(status)
        self.send_header("Content-Type", row["content_type"])
        if 300 <= status <= 399 and row["redirect_to"]:
            self.send_header("Location", row["redirect_to"])
        if status == 200:
            for c in _X:
                if row[c] is not None:
                    self.send_header(
                        f"X-Zeno-{c.replace('_', '-').title()}", str(row[c]))
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *args):  # quiet
        pass


@pytest.fixture(scope="module")
def corpus(spark):
    c = fixtures.build_corpus(spark, n_pages=140, n_hosts=8, seed=42)
    c["pages"] = c["pages"].cache()
    c["pages"].count()
    return c


@pytest.fixture(scope="module")
def origin(corpus):
    rows = {
        r["url"]: r.asDict()
        for r in corpus["pages"].collect()
    }

    class Handler(_OriginHandler):
        corpus = rows
        hits = {}

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}", Handler
    srv.shutdown()


def _sched_rows(spark, pages, extra_urls=()):
    """All corpus urls (+ unknowns) shaped as scheduled frontier rows."""
    from zeno_spark.functions import urls as U

    base = pages.select("url").union(
        spark.createDataFrame([(u,) for u in extra_urls], "url string")
    )
    return base.select(
        F.sha1(F.col("url")).alias("id"),
        F.col("url"),
        U.fnv1a64_udf(F.col("url")).alias("url_hash"),
        F.regexp_extract("url", r"^https?://([^/]+)", 1).alias("host"),
        F.lit(None).cast("string").alias("parent_url"),
        F.lit(0).alias("hop"),
        F.lit("seed").alias("type"),
        F.lit(False).alias("bypass_seencheck"),
        F.lit(0).alias("redirect"),
        F.lit(0).alias("retry"),
        F.monotonically_increasing_id().alias("enqueue_seq"),
        F.lit(0).alias("discovered_round"),
        F.lit(0).alias("not_before_round"),
        F.lit(0).alias("priority"),
    )


def _key(rows):
    return {
        r.url: (
            r.status, r.image_id, r.w, r.h, r.fmt, r.caption, r.phash,
            r.content_type, r.redirect_to, r.payload_digest,
        )
        for r in rows
    }


def test_fetch_meta_equivalence(spark, corpus, origin):
    """Row-identical FETCH_META under origin-table vs live-HTTP
    transports, including corpus 404/429/301 rows and unknown urls."""
    url, _h = origin
    sched = _sched_rows(
        spark, corpus["pages"],
        extra_urls=["http://nowhere.example/missing"],
    ).cache()
    sched.count()
    via_table = fetch_meta(sched, corpus["pages"]).collect()
    live = HttpTransport(proxy=url, timeout=15.0, max_retries=1)
    via_http = fetch_meta(sched, None, transport=live).collect()
    a, b = _key(via_table), _key(via_http)
    assert set(a) == set(b)
    diffs = {u: (a[u], b[u]) for u in a if a[u] != b[u]}
    assert not diffs, f"{len(diffs)} divergent rows, e.g. {next(iter(diffs.items()))}"
    sched.unpersist()


def test_proxy_bypass_goes_direct(spark, corpus, origin):
    """X4: a bypassed host skips the proxy — with no direct route to the
    synthetic hosts, those rows surface as CONNECTION failures (sentinel
    status 0, retryable — NOT a permanent 404), everything else still
    resolves via the proxy."""
    url, _h = origin
    pages = corpus["pages"].filter(F.col("status") == 200).limit(20).cache()
    sched = _sched_rows(spark, pages)
    hosts = [r.host for r in pages.select("host").distinct().collect()]
    bypassed = hosts[0]
    live = HttpTransport(proxy=url, bypass=(bypassed,), timeout=3.0,
                         max_retries=0)
    out = fetch_meta(sched, None, transport=live).collect()
    for r in out:
        if r.host == bypassed:
            assert r.status == 0  # no direct route -> transient failure
        else:
            assert r.status in (200, 301, 404, 429)
    pages.unpersist()


def test_connection_failure_is_retried_not_dropped(spark, corpus):
    """ADVICE fix: a connection-level failure (status None from the live
    worker) must route through the backoff/retry path like a 429 — not
    be coalesced to a permanent 404 that silently drops the URL."""
    from zeno_spark.operators.fetch import split_results
    from zeno_spark.operators.schedule import backoff_retry_rows
    from zeno_spark.operators.transport import RESPONSES

    class DownTransport:
        """covers_all transport where every GET fails at the socket."""

        covers_all = True
        deterministic_429 = False

        def responses(self, scheduled, cfg=None):
            out = scheduled
            for f in RESPONSES.fields:
                if f.name not in scheduled.columns:
                    out = out.withColumn(
                        f.name, F.lit(None).cast(f.dataType)
                    )
            return out

    sched = _sched_rows(spark, corpus["pages"].limit(6)).cache()
    n = sched.count()
    results = fetch_meta(sched, None, transport=DownTransport())
    ok, redirects, retryable, dead = split_results(results)
    assert ok.count() == 0 and redirects.count() == 0 and dead.count() == 0
    assert retryable.count() == n  # every row is a retry candidate
    retries = backoff_retry_rows(retryable, 0, CrawlConfig()).collect()
    assert len(retries) == n
    assert all(r.retry == 1 and r.not_before_round >= 1 for r in retries)
    sched.unpersist()


@pytest.fixture(scope="module")
def cfg():
    return CrawlConfig(max_hops=2, per_host_budget=8, max_rounds=10,
                       payload_dedupe_min_size=64)


@pytest.fixture(scope="module")
def table_run(spark, corpus, cfg, tmp_path_factory):
    wh = tmp_path_factory.mktemp("wh_table")
    job = CrawlJob(spark, str(wh), corpus["pages"], corpus["links"], cfg)
    stats = job.run(seeds=corpus["seeds"], max_rounds=cfg.max_rounds)
    return job, stats


@pytest.fixture(scope="module")
def live_run(spark, corpus, cfg, origin, tmp_path_factory):
    url, handler = origin
    handler.hits.clear()  # fresh 429 state for the crawl
    wh = tmp_path_factory.mktemp("wh_live")
    warc_dir = str(tmp_path_factory.mktemp("warc_live"))
    live = HttpTransport(proxy=url, timeout=15.0, max_retries=1,
                         warc_dir=warc_dir)
    job = CrawlJob(spark, str(wh), None, corpus["links"], cfg,
                   transport=live)
    stats = job.run(seeds=corpus["seeds"], max_rounds=cfg.max_rounds)
    return job, stats, warc_dir


def test_live_crawl_equals_table_crawl(table_run, live_run):
    """The whole BSP crawl — schedule, statuses, D8 revisit marks, seen
    set, per-host metrics — is identical when the wire is real."""
    tjob, tstats = table_run
    ljob, lstats, _ = live_run
    assert [s.__dict__ for s in tstats] == [s.__dict__ for s in lstats]

    tf = {
        r.url: (r.round, r.type, r.hop, r.status, r.caption, r.phash,
                r.payload_digest, r.revisit)
        for r in tjob.fetched.read().collect()
    }
    lf = {
        r.url: (r.round, r.type, r.hop, r.status, r.caption, r.phash,
                r.payload_digest, r.revisit)
        for r in ljob.fetched.read().collect()
    }
    assert tf == lf
    tseen = {(r.url, r.type, r.round) for r in tjob.seen.read().collect()}
    lseen = {(r.url, r.type, r.round) for r in ljob.seen.read().collect()}
    assert tseen == lseen
    tm = {tuple(r) for r in tjob.metrics.read().collect()}
    lm = {tuple(r) for r in ljob.metrics.read().collect()}
    assert tm == lm


@pytest.fixture(scope="module")
def origin_html(corpus):
    """Origin whose html pages carry REAL generated bodies — one
    <a href>/<img src> tag per links-table edge — so the live
    transport's in-worker extractors (extract=True) discover exactly
    what the links-table join declares.  429-status html pages have no
    links rows by fixture construction (only 200-status html pages get
    edges), so their recovered retry bodies are empty — consistent."""
    import html as html_mod

    edges: dict[str, list] = {}
    for r in corpus["links"].collect():
        edges.setdefault(r.src_url, []).append((r.dst_url, r.kind))
    rows = {}
    for r in corpus["pages"].collect():
        d = r.asDict()
        if d["content_type"] == "text/html":
            tags = []
            for dst, kind in edges.get(d["url"], []):
                esc = html_mod.escape(dst, quote=True)
                if kind == "asset":
                    tags.append(f'<img src="{esc}">')
                else:
                    tags.append(f'<a href="{esc}">go</a>')
            # unique comment: live html payloads get real (distinct)
            # digests, so D8 never marks spurious html revisits among
            # link-less pages with otherwise identical bodies
            d["bytes"] = (
                f"<html><!-- {d['url']} --><body>"
                + "".join(tags) + "</body></html>"
            ).encode("utf-8")
        rows[d["url"]] = d

    class Handler(_OriginHandler):
        corpus = rows
        hits = {}

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}", Handler
    srv.shutdown()


def test_live_extract_crawl_equals_table_crawl(
    spark, corpus, cfg, origin_html, table_run, tmp_path
):
    """The fully self-contained live crawler — real sockets, real HTML
    parsing in the fetch worker, NO links table — reproduces the
    links-join crawl exactly: same schedule, seen set, fetched set,
    per-host metrics."""
    url, _handler = origin_html
    live = HttpTransport(proxy=url, timeout=15.0, max_retries=1,
                         extract=True)
    job = CrawlJob(spark, str(tmp_path / "wh_ext"), None, None, cfg,
                   transport=live)
    stats = job.run(seeds=corpus["seeds"], max_rounds=cfg.max_rounds)
    tjob, tstats = table_run
    assert [s.__dict__ for s in tstats] == [s.__dict__ for s in stats]

    def key(r):
        # D8 columns compare on image rows only: the live crawl
        # legitimately captures html payloads (and digests them) that
        # the synthetic pages table never stored
        is_img = r.fmt is not None
        return (r.url, r.round, r.type, r.hop, r.status, r.caption,
                r.phash, r.payload_digest if is_img else None,
                r.revisit if is_img else None)

    tf = {key(r) for r in tjob.fetched.read().collect()}
    lf = {key(r) for r in job.fetched.read().collect()}
    assert tf == lf
    tseen = {(r.url, r.type, r.round) for r in tjob.seen.read().collect()}
    lseen = {(r.url, r.type, r.round) for r in job.seen.read().collect()}
    assert tseen == lseen
    # byte-lineage columns are excluded for the same reason the key()
    # above masks D8 columns on html rows: the live crawl captures (and
    # counts) html payload octets the synthetic pages table never
    # stored, so payload_bytes legitimately differs on html-serving
    # hosts.  The counting columns must still match exactly.
    count_cols = [c for c in tjob.metrics.read().columns
                  if c not in ("payload_bytes", "deduped_bytes")]
    tm = {tuple(r) for r in tjob.metrics.read().select(count_cols).collect()}
    lm = {tuple(r) for r in job.metrics.read().select(count_cols).collect()}
    assert tm == lm


def test_live_robots_crawl_equals_table_robots(
    spark, corpus, cfg, tmp_path
):
    """F10 live tier: the crawler fetches /robots.txt itself through the
    transport (cfg.live_robots) and must match a table-side crawl given
    the equivalent pre-built robots table.  Hosts without a robots file
    404 -> allow-all; one host disallows its /img/ tree, another its
    /p/ tree, and a third asks for a 30 s Crawl-delay, which shrinks its
    per-round budget through the scheduler's delays join."""
    import html as html_mod

    from pyspark.sql import Row

    from zeno_spark import schemas as S

    hosts = sorted(
        r.host for r in corpus["pages"].select("host").distinct().collect()
    )
    robots_rules = {hosts[0]: ["/img/"], hosts[1]: ["/p/"]}
    crawl_delays = {hosts[2]: 30.0}

    edges: dict[str, list] = {}
    for r in corpus["links"].collect():
        edges.setdefault(r.src_url, []).append((r.dst_url, r.kind))
    rows = {}
    for r in corpus["pages"].collect():
        d = r.asDict()
        if d["content_type"] == "text/html":
            tags = []
            for dst, kind in edges.get(d["url"], []):
                esc = html_mod.escape(dst, quote=True)
                tags.append(f'<img src="{esc}">' if kind == "asset"
                            else f'<a href="{esc}">go</a>')
            d["bytes"] = (
                f"<html><!-- {d['url']} --><body>"
                + "".join(tags) + "</body></html>"
            ).encode("utf-8")
        rows[d["url"]] = d
    for host in (*robots_rules, *crawl_delays):
        body = ("User-agent: *\n"
                + "".join(f"Disallow: {p}\n"
                          for p in robots_rules.get(host, []))
                + (f"Crawl-delay: {crawl_delays[host]:g}\n"
                   if host in crawl_delays else "")).encode()
        rows[f"http://{host}/robots.txt"] = {
            "url": f"http://{host}/robots.txt", "status": 200,
            "content_type": "text/plain", "bytes": body,
            "redirect_to": None, "image_id": None, "w": None, "h": None,
            "fmt": None, "caption": None, "phash": None,
        }

    class Handler(_OriginHandler):
        corpus = rows
        hits = {}

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        url = f"http://127.0.0.1:{srv.server_address[1]}"
        rcfg = CrawlConfig(**{**cfg.__dict__, "robots": True,
                              "live_robots": True, "max_rounds": 6})
        live = HttpTransport(proxy=url, timeout=15.0, max_retries=1,
                             extract=True)
        ljob = CrawlJob(spark, str(tmp_path / "wh_lr"), None, None, rcfg,
                        transport=live)
        lstats = ljob.run(seeds=corpus["seeds"], max_rounds=rcfg.max_rounds)

        robots_df = spark.createDataFrame(
            [Row(host=h, disallow_prefixes=robots_rules.get(h, []),
                 crawl_delay=crawl_delays.get(h), sitemaps=[])
             for h in hosts],
            schema=S.ROBOTS,
        )
        tcfg = CrawlConfig(**{**cfg.__dict__, "robots": True,
                              "max_rounds": 6})
        tjob = CrawlJob(spark, str(tmp_path / "wh_tr"), corpus["pages"],
                        corpus["links"], tcfg, robots=robots_df)
        tstats = tjob.run(seeds=corpus["seeds"], max_rounds=tcfg.max_rounds)

        assert [s.__dict__ for s in tstats] == [s.__dict__ for s in lstats]
        blocked = {
            r.url
            for r in tjob.fetched.read().collect()
            if any(r.url.startswith(f"http://{h}{p}")
                   for h, ps in robots_rules.items() for p in ps)
        }
        assert not blocked  # the gate actually gated
        # the delay actually shrank its host's budget: floor(60 s / 30 s)
        delayed = [r.scheduled for r in tjob.metrics.read().collect()
                   if r.host == hosts[2]]
        assert delayed and max(delayed) <= 2
        tf = {(r.url, r.round, r.status) for r in tjob.fetched.read().collect()}
        lf = {(r.url, r.round, r.status) for r in ljob.fetched.read().collect()}
        assert tf == lf
        tseen = {(r.url, r.type) for r in tjob.seen.read().collect()}
        lseen = {(r.url, r.type) for r in ljob.seen.read().collect()}
        assert tseen == lseen
    finally:
        srv.shutdown()


def test_robots_sitemap_discovery_e2e(spark, cfg, tmp_path):
    """r4 verdict #5 done-criterion: a host whose robots.txt names a
    sitemap gets its sitemap URLs crawled WITHOUT any page linking
    them.  Covers both an absolute Sitemap value and a relative one
    (resolved against the robots.txt URL), the P8 sitemap extract of
    the fetched sitemap bodies, and the config gate
    (robots_sitemaps=False must change nothing)."""
    import numpy as np

    from zeno_spark.functions.images import encode_png, phash64

    host = "smhost.com"
    _sm2_px = np.arange(4 * 4 * 3, dtype=np.uint8).reshape(4, 4, 3)
    _sm2_png = encode_png(_sm2_px)
    _sm2_phash = phash64(_sm2_px)

    def _page(url, ctype="text/html", body=b"<html><body>x</body></html>",
              **x):
        d = {"url": url, "status": 200, "content_type": ctype,
             "bytes": body, "redirect_to": None, "image_id": None,
             "w": None, "h": None, "fmt": None, "caption": None,
             "phash": None}
        d.update(x)
        return d

    sm1 = (b'<?xml version="1.0"?>'
           b'<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
           b"<url><loc>http://smhost.com/sm/1</loc></url>"
           b"<url><loc>http://smhost.com/sm/2</loc></url></urlset>")
    sm2 = (b'<?xml version="1.0"?>'
           b'<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
           b"<url><loc>http://smhost.com/sm/3</loc></url></urlset>")
    rows = {
        f"http://{host}/": _page(f"http://{host}/"),  # seed, NO links
        f"http://{host}/robots.txt": _page(
            f"http://{host}/robots.txt", ctype="text/plain",
            body=(b"User-agent: *\nDisallow: /priv/\n"
                  b"Sitemap: http://smhost.com/sitemap.xml\n"
                  b"Sitemap: /deep/sitemap2.xml\n"),
        ),
        f"http://{host}/sitemap.xml": _page(
            f"http://{host}/sitemap.xml", ctype="application/xml",
            body=sm1),
        f"http://{host}/deep/sitemap2.xml": _page(
            f"http://{host}/deep/sitemap2.xml", ctype="application/xml",
            body=sm2),
        f"http://{host}/sm/1": _page(f"http://{host}/sm/1"),
        # a REAL decodable payload: the verify worker 422-drops a row
        # whose image bytes fail to decode or whose phash disagrees
        f"http://{host}/sm/2": _page(
            f"http://{host}/sm/2", ctype="image/png", body=_sm2_png,
            image_id="img-sm2", w=4, h=4, fmt="png",
            caption="from sitemap", phash=_sm2_phash),
        f"http://{host}/sm/3": _page(f"http://{host}/sm/3"),
    }

    class Handler(_OriginHandler):
        corpus = rows
        hits = {}

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        url = f"http://127.0.0.1:{srv.server_address[1]}"
        seeds = spark.createDataFrame(
            [(f"http://{host}/", 0)], "url string, line long")

        def _run(wh, **over):
            rcfg = CrawlConfig(**{**cfg.__dict__, "robots": True,
                                  "live_robots": True, "max_rounds": 5,
                                  **over})
            live = HttpTransport(proxy=url, timeout=15.0, max_retries=1,
                                 extract=True)
            job = CrawlJob(spark, wh, None, None, rcfg, transport=live)
            job.run(seeds=seeds, max_rounds=rcfg.max_rounds)
            return job

        job = _run(str(tmp_path / "wh_sm"))
        fetched = {(r.url, r.status)
                   for r in job.fetched.read().collect()}
        # both sitemaps were fetched (the relative value resolved
        # against the robots.txt URL), and every sitemap-listed URL
        # was crawled despite zero inlinks
        for u in ("sitemap.xml", "deep/sitemap2.xml", "sm/1", "sm/2",
                  "sm/3"):
            assert (f"http://{host}/{u}", 200) in fetched, u
        # the image row came through the normal fetch path with its
        # metadata intact
        img = [r for r in job.fetched.read().collect()
               if r.url == f"http://{host}/sm/2"][0]
        assert (img.image_id, img.caption) == ("img-sm2", "from sitemap")
        # exactly-once: the sitemap URL entered seen once, as a seed
        seen = [r for r in job.seen.read().collect()
                if r.url == f"http://{host}/sitemap.xml"]
        assert len(seen) == 1 and seen[0].type == "seed"
        # robots itself was fetched once, not per round
        assert Handler.hits.get(f"http://{host}/robots.txt") == 1

        # config gate: robots_sitemaps=False crawls only the seed
        job_off = _run(str(tmp_path / "wh_sm_off"), robots_sitemaps=False)
        off = {r.url for r in job_off.fetched.read().collect()}
        assert off == {f"http://{host}/"}
    finally:
        srv.shutdown()


def test_live_warc_capture_matches_corpus(spark, corpus, live_run):
    """Streaming WARC capture from the live workers: every 200-image
    response's recorded payload byte-equals the corpus payload."""
    _job, _stats, warc_dir = live_run
    assert glob.glob(f"{warc_dir}/*.warc.gz")
    recorded = {}
    for path in glob.glob(f"{warc_dir}/*.warc.gz"):
        for rec in W.parse_warc_stream(open(path, "rb").read()):
            if rec["type"] != "response":
                continue
            status, hh, body = W.parse_http_block(rec["block"])
            if status == 200 and hh.get("content-type", "").startswith("image/"):
                recorded[rec["headers"]["WARC-Target-URI"]] = body
    assert recorded
    # key on payload presence, not table status: a 429 row that
    # "recovered" on its retry hit serves the same corpus bytes with a
    # live 200, and that capture is as real as any other
    want = {
        r.url: bytes(r.bytes)
        for r in corpus["pages"].filter(F.col("bytes").isNotNull()).collect()
    }
    for url, body in recorded.items():
        assert want.get(url) == body, url


def test_live_warc_requests_paired(spark, corpus, live_run):
    """The live capture records BOTH sides of every exchange
    (crawl/crawl.go:101-119): one request record per response, linked by
    WARC-Concurrent-To, carrying the UA (and Referer when the fetch had
    a parent) that one_get actually sent."""
    _job, _stats, warc_dir = live_run
    n_req = n_resp = 0
    for path in glob.glob(f"{warc_dir}/*.warc.gz"):
        resp_ids = set()
        reqs = []
        for rec in W.parse_warc_stream(open(path, "rb").read()):
            if rec["type"] == "response":
                resp_ids.add(rec["headers"]["WARC-Record-ID"])
            elif rec["type"] == "request":
                reqs.append(rec)
        assert len(reqs) == len(resp_ids)
        for rec in reqs:
            assert rec["headers"]["WARC-Concurrent-To"] in resp_ids
            lines = rec["block"].decode("utf-8").split("\r\n")
            assert lines[0].startswith("GET ")
            assert any(ln.startswith("User-Agent: ") for ln in lines)
        n_req += len(reqs)
        n_resp += len(resp_ids)
    assert n_req == n_resp > 0


def test_resumed_crawl_does_not_refetch_robots(spark, corpus, cfg, tmp_path):
    """The live-robots cache is a catalog table committed under the
    round marker: a RESUMED crawl (new CrawlJob, same warehouse) must
    read the committed rows, not re-fetch robots.txt for hosts already
    covered (VERDICT r02 'what's wrong' #1)."""
    hosts = sorted(
        r.host for r in corpus["pages"].select("host").distinct().collect()
    )
    rows = {r["url"]: r.asDict() for r in corpus["pages"].collect()}
    robots_paths = []
    for host in hosts:
        u = f"http://{host}/robots.txt"
        robots_paths.append(u)
        rows[u] = {
            "url": u, "status": 200, "content_type": "text/plain",
            "bytes": b"User-agent: *\n", "redirect_to": None,
            "image_id": None, "w": None, "h": None, "fmt": None,
            "caption": None, "phash": None,
        }

    class Handler(_OriginHandler):
        corpus = rows
        hits = {}

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        url = f"http://127.0.0.1:{srv.server_address[1]}"
        rcfg = CrawlConfig(**{**cfg.__dict__, "robots": True,
                              "live_robots": True})
        live = HttpTransport(proxy=url, timeout=15.0, max_retries=1)
        wh = str(tmp_path / "wh_resume_robots")
        job1 = CrawlJob(spark, wh, None, corpus["links"], rcfg,
                        transport=live)
        job1.run(seeds=corpus["seeds"], max_rounds=2)
        assert job1.robots_tbl.row_count() > 0  # the table persisted

        def robots_hits():
            return {p: n for p, n in Handler.hits.items()
                    if p.endswith("/robots.txt")}

        before = robots_hits()
        assert before  # the first run did fetch robots
        # fresh driver object on the same warehouse = resume
        job2 = CrawlJob(spark, wh, None, corpus["links"], rcfg,
                        transport=live)
        job2.run(max_rounds=4)
        after = robots_hits()
        refetched = {p: (before[p], after.get(p)) for p in before
                     if after.get(p, 0) != before[p]}
        assert not refetched, f"robots re-fetched on resume: {refetched}"
    finally:
        srv.shutdown()


def test_hostile_and_oversize_responses_do_not_kill_the_round(spark):
    """One bad server must not abort a crawl round: malformed/overflow
    x-zeno headers parse to null instead of crashing the Arrow worker;
    an unbounded body cuts off at max_body_bytes and records the
    permanent OVERSIZE sentinel (dead, not retried); payloads in codecs
    this container cannot decode (real-world JPEG) are CAPTURED
    unverified instead of being rejected as 422."""
    from zeno_spark.operators.transport import STATUS_OVERSIZE

    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"

        def do_GET(self):  # noqa: N802
            if self.path.endswith("/huge"):
                body = b"x" * 5000
                self.send_response(200)
                self.send_header("Content-Type", "text/html")
            elif self.path.endswith("/badheaders"):
                body = b"ok"
                self.send_response(200)
                self.send_header("Content-Type", "text/plain")
                self.send_header("X-Zeno-W", "abc")
                self.send_header("X-Zeno-H", str(2 ** 70))
                self.send_header("X-Zeno-Phash", "notanint")
                self.send_header("X-Zeno-Caption", "still fine")
            elif self.path.endswith("/real.jpg"):
                body = b"\xff\xd8\xff\xe0 not decodable here"
                self.send_response(200)
                self.send_header("Content-Type", "image/jpeg")
                self.send_header("X-Zeno-Caption", "cap")
            else:
                body = b""
                self.send_response(404)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *args):
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        base = f"http://h.example"
        pages = spark.createDataFrame(
            [(f"{base}/huge",), (f"{base}/badheaders",), (f"{base}/real.jpg",)],
            "url string",
        )
        sched = _sched_rows(spark, pages)
        live = HttpTransport(
            proxy=f"http://127.0.0.1:{srv.server_address[1]}",
            timeout=15.0, max_retries=0, max_body_bytes=1024,
        )
        got = {r.url: r for r in fetch_meta(sched, None, transport=live).collect()}
        assert got[f"{base}/huge"].status == STATUS_OVERSIZE
        bad = got[f"{base}/badheaders"]
        assert bad.status == 200
        assert (bad.w, bad.h, bad.phash) == (None, None, None)
        assert bad.caption == "still fine"
        jpg = got[f"{base}/real.jpg"]
        assert jpg.status == 200  # captured, not 422: codec unsupported
        assert jpg.caption == "cap" and jpg.fmt == "jpeg"
    finally:
        srv.shutdown()


def test_transient_robots_failures_are_not_cached(spark):
    """A host whose robots.txt is transiently unreachable (5xx / conn
    failure on both passes) must NOT be cached as allow-all — it stays
    uncovered and is re-fetched later; a definitive 404 still caches
    the allow-all row."""
    from zeno_spark.operators.robots import fetch_robots_live

    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"

        def do_GET(self):  # noqa: N802
            if "down.example" in self.path:
                self.send_response(503)
                body = b""
            elif "ok.example" in self.path:
                self.send_response(200)
                body = b"User-agent: *\nDisallow: /priv/\n"
                self.send_header("Content-Type", "text/plain")
            else:  # gone.example -> definitive 404
                self.send_response(404)
                body = b""
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *args):
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        live = HttpTransport(
            proxy=f"http://127.0.0.1:{srv.server_address[1]}",
            timeout=15.0, max_retries=0,
        )
        hosts = spark.createDataFrame(
            [("down.example",), ("ok.example",), ("gone.example",)],
            "host string",
        )
        rows = {r.host: r for r in fetch_robots_live(hosts, live).collect()}
        assert set(rows) == {"ok.example", "gone.example"}  # no down.example
        assert rows["ok.example"].disallow_prefixes == ["/priv/"]
        assert rows["gone.example"].disallow_prefixes == []
    finally:
        srv.shutdown()
