"""Golden extractor tests (P1-P12, SURVEY §2.6), modeled on the
reference's table-driven extractor tests (extractor/xml_test.go,
json_test.go, link_header_test.go) — fixtures authored fresh, semantics
matched.  Plus the cuckoo overflow tier and robots parsing."""

from __future__ import annotations

import numpy as np
import pytest

from zeno_spark.operators import parse as P
from zeno_spark.operators.dedup import cuckoo_build, cuckoo_query
from zeno_spark.operators.robots import parse_robots_txt

HTML = """
<html><head>
  <base href="http://example.com/dir/">
  <link rel="stylesheet" href="style.css">
  <link rel="alternate" href="feed.xml">
  <meta content="http://example.com/og.png">
  <style>.x { background: url('bg.png'); }</style>
</head><body>
  <a href="page2.html">two</a>
  <a href="http://other.net/abs">abs</a>
  <iframe src="frame.html"></iframe>
  <img src="a.jpg" data-src="lazy.jpg" srcset="small.jpg 1x, big.jpg 2x">
  <video src="v.mp4"></video>
  <source srcset="s1.png 1x">
  <script src="app.js"></script>
  <div style="background-image: url(inline.gif)">text</div>
  Plain text with http://bare.example.org/link inside.
</body></html>
"""


def test_html_outlinks_assets_and_base():
    outlinks, assets, base = P.extract_html(HTML)
    assert base == "http://example.com/dir/"
    assert "page2.html" in outlinks
    assert "http://other.net/abs" in outlinks
    assert "frame.html" in outlinks
    assert "http://bare.example.org/link" in outlinks  # regex text scan
    for a in ("a.jpg", "lazy.jpg", "small.jpg", "big.jpg", "v.mp4",
              "s1.png", "app.js", "bg.png", "inline.gif", "style.css",
              "http://example.com/og.png"):
        assert a in assets, a
    assert "feed.xml" not in assets  # rel=alternate skipped


def test_route_extract_resolves_against_base():
    outlinks, assets = P.route_extract(
        "http://example.com/orig.html", "text/html", HTML
    )
    assert "http://example.com/dir/page2.html" in outlinks  # <base> wins
    assert "http://example.com/dir/a.jpg" in assets


def test_link_header():
    got = P.parse_link_header(
        '<http://a.example/next>; rel="next", <http://a.example/x>;rel=prev, '
        "<http://bare.example>"
    )
    assert got == [
        ("http://a.example/next", "next"),
        ("http://a.example/x", "prev"),
        ("http://bare.example", ""),
    ]


SITEMAP = """<?xml version="1.0"?>
<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
  <url><loc>http://example.com/p1</loc></url>
  <url><loc>http://example.com/p2</loc></url>
</urlset>"""

PLAIN_XML = """<?xml version="1.0"?>
<feed><entry href="http://x.example/attr">http://x.example/text</entry>
<other>not a url</other></feed>"""


def test_xml_sitemap_routing():
    urls, is_sitemap = P.extract_xml(SITEMAP)
    assert is_sitemap and set(urls) == {"http://example.com/p1", "http://example.com/p2"}
    urls2, is_sitemap2 = P.extract_xml(PLAIN_XML)
    assert not is_sitemap2
    assert set(urls2) == {"http://x.example/attr", "http://x.example/text"}


def test_json_recursive_walk():
    body = ('{"a": "http://one.example/x", "b": {"c": ["http://two.example/y",'
            ' 5, {"d": "https://three.example"}]}, "e": "not://a.url"}')
    assert set(P.extract_json(body)) == {
        "http://one.example/x", "http://two.example/y", "https://three.example"
    }
    assert P.extract_json("{broken") == []


def test_m3u8_segments_and_variants():
    body = """#EXTM3U
#EXT-X-STREAM-INF:BANDWIDTH=1280000
low/index.m3u8
#EXT-X-MEDIA:TYPE=AUDIO,URI="audio/a1.m3u8"
seg001.ts
http://cdn.example/seg002.ts"""
    got = P.extract_m3u8(body, "http://v.example/live/master.m3u8")
    assert "http://v.example/live/low/index.m3u8" in got
    assert "http://v.example/live/audio/a1.m3u8" in got
    assert "http://v.example/live/seg001.ts" in got
    assert "http://cdn.example/seg002.ts" in got


S3_XML = """<?xml version="1.0"?>
<ListBucketResult xmlns="http://s3.amazonaws.com/doc/2006-03-01/">
  <IsTruncated>true</IsTruncated>
  <NextContinuationToken>tok123</NextContinuationToken>
  <Contents><Key>data/file1.bin</Key></Contents>
  <Contents><Key>data/file2.bin</Key></Contents>
  <CommonPrefixes><Prefix>logs/</Prefix></CommonPrefixes>
</ListBucketResult>"""


def test_s3_listing():
    assert P.is_s3_listing("AmazonS3")
    assert not P.is_s3_listing("nginx")
    got = P.extract_s3(S3_XML, "http://bucket.s3.example/?list-type=2")
    assert "http://bucket.s3.example/data/file1.bin" in got
    assert "http://bucket.s3.example/?prefix=logs/" in got
    assert "http://bucket.s3.example/?continuation-token=tok123" in got


def test_route_by_content_type():
    o, a = P.route_extract("http://e.com/s.xml", "application/xml", SITEMAP)
    assert "http://example.com/p1" in o and not a  # sitemap -> outlinks
    o2, a2 = P.route_extract("http://e.com/f.xml", "text/xml", PLAIN_XML)
    assert "http://x.example/text" in a2 and not o2  # non-sitemap -> assets
    o3, a3 = P.route_extract(
        "http://e.com/l", "application/vnd.apple.mpegurl", "seg.ts"
    )
    assert a3 == ["http://e.com/seg.ts"]


def test_extract_from_content_spark(spark):
    df = spark.createDataFrame(
        [("http://example.com/orig.html", "text/html", bytearray(HTML.encode()))],
        "url string, content_type string, bytes binary",
    )
    row = P.extract_from_content(df).collect()[0]
    assert "http://example.com/dir/page2.html" in row.outlinks
    assert "http://example.com/dir/a.jpg" in row.assets


# ---------------------------------------------------------------------------
# cuckoo overflow tier
# ---------------------------------------------------------------------------

def test_cuckoo_no_false_negatives():
    rng = np.random.default_rng(3)
    keys = rng.integers(-(2**62), 2**62, size=5000, dtype=np.int64)
    table, stash = cuckoo_build(keys)
    assert cuckoo_query(table, stash, keys).all()  # every inserted key: maybe
    probe = rng.integers(-(2**62), 2**62, size=5000, dtype=np.int64)
    fresh = probe[~np.isin(probe, keys)]
    fp_rate = cuckoo_query(table, stash, fresh).mean()
    assert fp_rate < 0.05, fp_rate  # 16-bit fingerprints, 2 buckets


def test_bloom_overflow_uses_cuckoo_and_preserves_results(spark):
    """Force the overflow tier with a tiny max_bits: dedup output must be
    IDENTICAL to the exact anti-join (prefilter-only discipline across
    both tiers)."""
    from pyspark.sql import functions as F

    from zeno_spark.operators.dedup import (
        anti_join_seen,
        bloom_prefilter,
        build_bloom_index,
    )

    seen = spark.range(2000).select(
        (F.col("id") * 7919).alias("url_hash"),
        F.concat(F.lit("http://h/"), F.col("id")).alias("url"),
    )
    cand = spark.range(1000, 3000).select(
        (F.col("id") * 7919).alias("url_hash"),
        F.concat(F.lit("http://h/"), F.col("id")).alias("url"),
    )
    blooms = build_bloom_index(seen, n_buckets=4, bits_per_key=10, max_bits=64)
    assert blooms.filter(F.col("overflow")).count() == 4  # all overflowed
    tagged = bloom_prefilter(cand, blooms, n_buckets=4)
    # no false negatives: every actually-seen candidate is flagged maybe
    really_seen = cand.join(seen.select("url_hash", "url"), ["url_hash", "url"])
    flagged = tagged.filter(F.col("maybe_seen")).select("url_hash", "url")
    assert really_seen.join(flagged, ["url_hash", "url"], "left_anti").count() == 0
    # end-to-end: prefilter + anti-join == plain anti-join
    maybe = tagged.filter(F.col("maybe_seen")).drop("maybe_seen")
    new = tagged.filter(~F.col("maybe_seen")).drop("maybe_seen").unionByName(
        anti_join_seen(maybe, seen)
    )
    expect = anti_join_seen(cand, seen)
    assert new.count() == expect.count() == 1000


# ---------------------------------------------------------------------------
# robots parsing (F10)
# ---------------------------------------------------------------------------

def test_robots_parser():
    body = """
# comment
User-agent: googlebot
Disallow: /google-only/

User-agent: *
Disallow: /private/
Disallow: /tmp/
Crawl-delay: 2.5

User-agent: other
Disallow: /other/
"""
    prefixes, delay = parse_robots_txt(body)
    assert prefixes == ["/private/", "/tmp/"]
    assert delay == 2.5
    assert parse_robots_txt("User-agent: *\nDisallow:") == ([], None)
    assert parse_robots_txt("") == ([], None)
    # a UTF-8 BOM on the first line must not hide the * group
    assert parse_robots_txt(
        "\ufeffUser-agent: *\nDisallow: /x\n"
    ) == (["/x"], None)


def test_robots_sitemap_lines():
    """Sitemap: directives are GROUP-INDEPENDENT (sitemaps.org
    protocol): collected from anywhere in the file, whatever User-agent
    group surrounds them, in order, first-occurrence deduped."""
    from zeno_spark.operators.robots import parse_robots_sitemaps

    body = """\
Sitemap: https://a.com/sm0.xml
User-agent: other
Disallow: /x/
Sitemap: https://a.com/sm1.xml   # comment stripped

User-agent: *
sitemap: /relative/sm2.xml
Sitemap: https://a.com/sm0.xml
Sitemap:
"""
    assert parse_robots_sitemaps(body) == [
        "https://a.com/sm0.xml",
        "https://a.com/sm1.xml",
        "/relative/sm2.xml",
    ]
    assert parse_robots_sitemaps("") == []
    assert parse_robots_sitemaps(
        "\ufeffSitemap: https://b.com/s.xml\n"
    ) == ["https://b.com/s.xml"]


def test_robots_gate_wildcards(spark):
    """RFC 9309 '*' (any chars) and trailing '$' (end anchor) rules must
    MATCH, not sit inert as literal prefixes — an inert wildcard rule
    crawls exactly the URLs the site disallowed."""
    from zeno_spark import schemas
    from zeno_spark.operators.admission import apply_robots_gate

    cand = spark.createDataFrame(
        [("http://w.com/page?sessionid=9", "w.com"),
         ("http://w.com/page", "w.com"),
         ("http://w.com/private", "w.com"),
         ("http://w.com/private/sub", "w.com"),
         ("http://w.com/a/mid/b", "w.com"),
         ("http://w.com/a/b", "w.com")],
        "url string, host string",
    )
    robots = spark.createDataFrame(
        [("w.com", ["/*?sessionid=", "/private$", "/a/*/b"], None, [])],
        schema=schemas.ROBOTS,
    )
    kept = {r.url for r in apply_robots_gate(cand, robots).collect()}
    assert kept == {
        "http://w.com/page",          # no sessionid
        "http://w.com/private/sub",   # $ anchors: only exact /private
        "http://w.com/a/b",           # no middle segment for /a/*/b
    }


def test_robots_gate_spark(spark):
    from zeno_spark import schemas
    from zeno_spark.operators.admission import apply_robots_gate

    cand = spark.createDataFrame(
        [("http://a.com/private/x", "a.com"), ("http://a.com/ok", "a.com"),
         ("http://b.com/private/x", "b.com")],
        "url string, host string",
    )
    robots = spark.createDataFrame(
        [("a.com", ["/private/"], None, [])], schema=schemas.ROBOTS
    )
    kept = {r.url for r in apply_robots_gate(cand, robots).collect()}
    # a.com/private blocked; unknown host b.com allowed
    assert kept == {"http://a.com/ok", "http://b.com/private/x"}


def test_robots_gate_shuffle_path_and_duplicate_hosts(spark):
    """Duplicate hosts on the rules side (a user-supplied static cache
    overlapping the live-fetched table on a resumed crawl) must apply
    the UNION of both rule sets and must NOT fan frontier rows out
    through the salted left join (double-fetch).  The planner's own
    broadcasting is off here, so the salted shuffle join is the path
    under test; the other gate tests run the broadcast plan."""
    from zeno_spark import schemas
    from zeno_spark.operators.admission import apply_robots_gate

    cand = spark.createDataFrame(
        [("http://a.com/private/x", "a.com"),
         ("http://a.com/ok", "a.com"),
         ("http://a.com/blog/post", "a.com"),
         ("http://b.com/private/x", "b.com"),
         ("http://c.com/q", "c.com")],
        "url string, host string",
    )
    robots = spark.createDataFrame(
        [("a.com", ["/private/"], None, []),
         ("a.com", ["/blog/"], 2.0, []),  # duplicate host: both sets apply
         ("c.com", [], None, [])],
        schema=schemas.ROBOTS,
    )
    expect = {"http://a.com/ok", "http://b.com/private/x", "http://c.com/q"}
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        rows = apply_robots_gate(cand, robots).collect()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert {r.url for r in rows} == expect
    assert len(rows) == len(expect)  # no fan-out


# ---------------------------------------------------------------------------
# inline <script> assets + per-tag disable (assets.go:302-381, cmd/get.go:48)
# ---------------------------------------------------------------------------

_SCRIPT_PAGE = """
<html><body>
<script type="application/json">{"media": {"url": "https://cdn.example.com/v.mp4"}}</script>
<script src="/static/app.js"></script>
<script>var player = {"hls": "https://cdn.example.com/stream.m3u8", "n": 3};</script>
<script>fetch("https://api.example.com/data\\u002ejson")</script>
<div data-item='{"img": "https://cdn.example.com/di.png"}'></div>
<span data-preview="https://cdn.example.com/prev.jpg"></span>
<img src="/i.png">
</body></html>
"""


def test_script_json_body_extracted():
    _, assets, _ = P.extract_html(_SCRIPT_PAGE)
    assert "https://cdn.example.com/v.mp4" in assets


def test_script_variable_assignment_json_extracted():
    _, assets, _ = P.extract_html(_SCRIPT_PAGE)
    assert "https://cdn.example.com/stream.m3u8" in assets


def test_script_regex_scan_unquotes_unicode_escapes():
    _, assets, _ = P.extract_html(_SCRIPT_PAGE)
    assert "https://api.example.com/data.json" in assets


def test_data_item_and_data_preview_harvested():
    _, assets, _ = P.extract_html(_SCRIPT_PAGE)
    assert "https://cdn.example.com/di.png" in assets
    assert "https://cdn.example.com/prev.jpg" in assets


def test_disable_html_tag_prunes_tag_class():
    _, assets, _ = P.extract_html(_SCRIPT_PAGE, frozenset({"script"}))
    assert not any("app.js" in a or "v.mp4" in a or "stream" in a for a in assets)
    assert "/i.png" in assets  # img not disabled
    _, assets2, _ = P.extract_html(_SCRIPT_PAGE, frozenset({"img"}))
    assert "/i.png" not in assets2
    assert "/static/app.js" in assets2


def test_script_brace_balance_stops_at_payload_end():
    out = P.extract_script_assets(
        'window.x = {"a": {"u": "https://x.example/a"}}; trailing("https://y.example/b")'
    )
    assert "https://x.example/a" in out
    assert "https://y.example/b" in out  # regex pass still sees it


def test_relative_link_header_resolved_on_html_path():
    outlinks, _ = P.route_extract(
        "https://h.example/page1", "text/html", "<html><body>hi</body></html>",
        link_header="</page2>; rel=next",
    )
    assert "https://h.example/page2" in outlinks


def test_s3_request_echo_prefix_not_emitted():
    body = """<?xml version="1.0"?>
    <ListBucketResult xmlns="http://s3.amazonaws.com/doc/2006-03-01/">
      <Name>b</Name><Prefix>photos/</Prefix><IsTruncated>false</IsTruncated>
      <Contents><Key>photos/a.jpg</Key></Contents>
      <CommonPrefixes><Prefix>photos/2024/</Prefix></CommonPrefixes>
    </ListBucketResult>"""
    urls = P.extract_s3(body, "https://b.s3.example.com/?prefix=photos/")
    assert "https://b.s3.example.com/photos/a.jpg" in urls
    assert "https://b.s3.example.com/?prefix=photos/2024/" in urls
    # the top-level request-echo <Prefix> must NOT become a drill URL
    assert "https://b.s3.example.com/?prefix=photos/" not in urls
