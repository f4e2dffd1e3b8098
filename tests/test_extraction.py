"""Extraction invariants (BASELINE.json input_hint): the Arrow-UDF text path
must reproduce the stored ``text`` column byte-identically per url, and the
built-in-expression link path (scan, resolution, canonicalization) must
agree with the Python oracle ``extract_links`` / ``canonicalize_url``."""

from __future__ import annotations

import random
import sys
import unicodedata
from collections import Counter

import numpy as np
import pytest
from pyspark.sql import functions as F

from pybiodatafuse_spark.datagen import generate_pages_pdf
from pybiodatafuse_spark.functions.extraction import (
    extract_links,
    extract_text,
    extract_text_udf,
    extract_links_udf,
)
from pybiodatafuse_spark.functions import urlnorm
from pybiodatafuse_spark.functions.ids import vertex_id
from pybiodatafuse_spark.functions.urlnorm import canonicalize_url, canonicalize_url_col
from pybiodatafuse_spark.operators.edges import build_edges, page_links


def test_text_byte_identical_per_url(spark, pages_df):
    mismatches = (
        pages_df.select(
            "url", "text", extract_text_udf(F.col("html")).alias("extracted")
        )
        .where(~F.col("extracted").eqNullSafe(F.col("text")))
        .count()
    )
    assert mismatches == 0


def test_extract_text_strips_script_style_and_collapses_ws():
    html = b"<html><style>p{}</style><script>x</script><p>a\n\n  b</p></html>"
    assert extract_text(html) == "a b"
    assert extract_text(None) is None


def test_extract_links_resolves_and_canonicalizes():
    html = (
        b'<a href="/rel">r</a> <a href="HTTP://Example.COM:80/x#frag">a</a> '
        b"<a href='https://other.example/y'>s</a> <a href=\"#skip\">n</a> "
        b'<a href="mailto:x@y.z">m</a>'
    )
    links = extract_links(html, "https://base.example/dir/page")
    assert links == [
        "https://base.example/rel",
        "http://example.com/x",
        "https://other.example/y",
    ]


def test_canonicalize_col_matches_python(spark):
    urls = [
        "https://Site0.Example/p1",
        "http://example.com:80/a?q=1#frag",
        "https://example.com:443/",
        "https://example.com",
        "ftp://nope.example/x",
        "https://example.com/path?a=1&b=2",
        "  https://pad.example/x  ",
        "not a url",
        "https://example.com#only-frag",
        # each of these once disagreed with canonicalize_url
        "http://a.example/b?",
        "http://a.example/b?#f",
        "https:/a.example/x",
        "https:a.example",
        "http://a.ex\tample/p\na\rth",
        "\x01http://a.example/x",
        "\x00 \x1fhttps://a.example/",
        "http://[::1/x",
        # ports, brackets, NFKC-unsafe hosts, whitespace python strips
        "http://a.example:80",
        "https://a.example:80/x",
        "http://:80/x",
        "http://[::1]:80/x",
        "http://[v1.fe]/x",
        "http://[1.2.3.4]/x",
        "http://a]b/x",
        "http://a.example" + chr(0xFF1A) + "81/x",
        "http://B" + chr(0xDC) + "CHER.example/" + chr(0xDF),
        chr(0x3000) + "http://a.example/x" + chr(0x85) + " ",
        "http://a.example/x #" + chr(0xA0),
        "http://a.example/x" + chr(0x2028),
        "http://a.example:80" + chr(0x2028) + "/x",
        "HTTPS://a.example/?",
        "http://a.example/a;b?c#d",
        "",
        None,
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = [
        r["canon"]
        for r in df.select(canonicalize_url_col(F.col("url")).alias("canon"))
        .collect()
    ]
    expected = [canonicalize_url(u) if u is not None else None for u in urls]
    assert got == expected


def _points(table) -> set[int]:
    out: set[int] = set()
    for p in table:
        out.update(range(p[0], p[1] + 1) if isinstance(p, tuple) else [p])
    return out


def test_urlnorm_character_tables_match_python():
    chars = [chr(c) for c in range(sys.maxunicode + 1)]
    assert _points(urlnorm._WS_POINTS) == {ord(c) for c in chars if c.isspace()}
    unsafe = {
        ord(c) for c in chars[0x80:]
        if any(d in unicodedata.normalize("NFKC", c) for d in "/?#@:")
    }
    assert _points(urlnorm._NFKC_UNSAFE_POINTS) == unsafe


def _hosts(rng: random.Random, n: int) -> list[str]:
    parts = ["0", "1", "ff", "FFFF", "12345", "g", "", "1.2.3.4", "01.2.3.4", "256.1.1.1",
             "%eth0", "%", "::", ":", "v1.x", "V1.x", "v.x", "vff.", "1.2.3"]
    out = ["::", "::1", "1::", "::1.2.3.4", "1:2:3:4:5:6:7:8", "1:2:3:4:5:6:7::",
           "1:2:3:4:5:6:1.2.3.4", "1:2:3:4:5:6:7:1.2.3.4", "::ffff:1.2.3.4%z",
           "1::2::3", ":1::", "1.2.3.4", "v1.fe", "v1.", "::1%a%b", "::1%"]
    while len(out) < n:
        out.append(":".join(rng.choice(parts) for _ in range(rng.randint(1, 9))))
    return out


def test_bracketed_hosts_match_python(spark):
    """urlsplit's IPv6 / IPvFuture check, as the column path ports it."""
    urls = [f"http://[{h}]/p" for h in _hosts(random.Random(7), 400)]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = [r[0] for r in df.select(canonicalize_url_col(F.col("url"))).collect()]
    assert got == [canonicalize_url(u) for u in urls]
    valid = sum(g is not None for g in got)
    assert 20 < valid < len(urls) - 20  # both outcomes are exercised


# --- differential: the Spark link path vs extract_links ----------------------

_BASES = [
    "https://base.example/dir/page",
    "https://base.example/dir/",
    "http://Base.EXAMPLE:80/a/b/c?x=1",
    "https://base.example",
    "http://base.example/dir/page?q=1#frag",
    "https://base.example/a;p/b;q",
    "https://base.example/d/",
    "",
]
# the relative forms and spellings the Spark path must resolve as urljoin does
_HREFS = [
    "../", "./", "a/../../b", "//net/x", "/top/x", "?q", ";p", "", "#frag", "  padded  ",
    "HTTP://Upper.EXAMPLE:80/x", "https://example.com:443/y", "http://example.com:8080/z",
    "https://Base.Example/dir/page", "mailto:x@y.z", "javascript:void(0)",
    "https:/a.example/x", "https:a.example", "http:x", "https:///x", "///x", "//",
    "http://a.example/b?", "http://a.example/b?#f", "http://[::1]/x", "http://[::1/x",
    "http://a\tb.example/", "\x01http://c.example/", "ftp://f.example/",
    "http://B" + chr(0xFC) + "cher.example/Stra" + chr(0xDF) + "e", "/pfad/" + chr(0xFC),
    "../../../../up", "./a/./b/.", "a/..", "..", ".", "x;y/z;w", "/a;", "a;", ";",
    "http://a.example/a;", "https://a.example/a;", "?", "#", " #x", "x #  ",
    "http://a.example" + chr(0xFF1A) + "80/", chr(0xA0) + "http://n.example/",
    "//[v1.x]/p", "//net.example:443/q?", "?a=1&b=2#c", "a/b/../c/./d?e#f",
]
_SEGMENTS = ["a", "B", "..", ".", "", "x;y", "%20", chr(0xE9), "p?q=1", "f#g", " ",
             "Host.EXAMPLE:80", ";"]
_PREFIXES = ["", "/", "//", "../", "./", "?", "#", ";", "http://", "HTTPS://", "ftp://",
             "  ", "\t", "http:", "//Net.EXAMPLE:443/", "\n/"]
_BAD_UTF8 = [b"\xff", b"\xed\xa0\x80", b"\xc3", b"\xf0\x9f\x98", b"\xe0\x80\xaf"]


def _fuzz_href(rng: random.Random) -> bytes:
    if rng.random() < 0.35:
        href = rng.choice(_HREFS)
    else:
        segs = [rng.choice(_SEGMENTS) for _ in range(rng.randint(0, 4))]
        href = rng.choice(_PREFIXES) + "/".join(segs) + rng.choice(["", "", "/", "?x", "#y", " "])
    raw = href.encode("utf-8")
    if rng.random() < 0.1:  # malformed UTF-8 inside the href
        cut = rng.randint(0, len(raw))
        raw = raw[:cut] + rng.choice(_BAD_UTF8) + raw[cut:]
    return raw


def _fuzz_page(rng: random.Random) -> bytes:
    anchors = []
    for _ in range(rng.randint(0, 8)):
        quote = rng.choice([b'"', b"'"])
        tag = rng.choice([b"<a ", b"<A\n", b'<a class="c" ', b"<a\t", b"<abbr ", b"<a title='>' "])
        attr = rng.choice([b"href=", b"HREF =", b"href = ", b"Href=\n", b"data-href="])
        before = rng.choice([b"", b"text ", b"<p>", b"<a>", "é".encode()] + _BAD_UTF8)
        anchors.append(before + tag + attr + quote + _fuzz_href(rng) + quote + b">x</a>")
    return b" ".join(anchors)


@pytest.fixture(scope="module")
def fuzz_pages(spark):
    """A fixed, seeded set of (url, html) pages; the expected links come
    from running extract_links on them."""
    rng = random.Random(20261017)
    rows = [(rng.choice(_BASES + [None]), _fuzz_page(rng)) for _ in range(400)]
    rows.append(("https://base.example/", None))
    return rows, spark.createDataFrame(rows, "url string, html binary").cache()


def test_links_array_form_matches_python_on_fuzz(fuzz_pages):
    rows, df = fuzz_pages
    got = df.select(extract_links_udf("html", "url").alias("links")).collect()
    want = [extract_links(html, url) for url, html in rows]
    assert sum(map(len, want)) > 600  # the set exercises the resolver
    assert [list(r["links"]) for r in got] == want


def test_page_links_match_python_on_fuzz(spark, fuzz_pages):
    """The exploded ingest form, down to the hashed (src, dst) pairs."""
    rows, df = fuzz_pages
    pairs = [
        (canonicalize_url(url), link)
        for url, html in rows
        if url is not None and canonicalize_url(url) is not None
        for link in extract_links(html, url)
    ]
    want = (
        spark.createDataFrame(pairs, "page string, link string")
        .select(vertex_id(F.col("page")).alias("src"), vertex_id(F.col("link")).alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .collect()
    )
    got = page_links(df).collect()
    assert len(want) > 500
    assert Counter(map(tuple, got)) == Counter(map(tuple, want))


def _no_python_udf(plan: str) -> None:
    assert "EvalPython" not in plan and "PythonUDF" not in plan, plan


def test_link_plans_hold_no_python_udf(spark, pages_df, tmp_path):
    from pybiodatafuse_spark.streaming.events import stream_pages, streaming_edges

    edges = build_edges(pages_df)
    edges.count()
    _no_python_udf(edges._jdf.queryExecution().executedPlan().toString())

    src = str(tmp_path / "pages_in")
    pages_df.limit(20).write.parquet(src)
    q = (
        streaming_edges(stream_pages(spark, src)).writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    _no_python_udf(q._jsq.streamingQuery().lastExecution().executedPlan().toString())


def test_links_udf_matches_python(spark, pages_df):
    sample = pages_df.limit(50)
    rows = sample.select(
        "url", "html", extract_links_udf(F.col("html"), F.col("url")).alias("links")
    ).collect()
    for r in rows:
        assert list(r["links"]) == extract_links(bytes(r["html"]), r["url"])


def test_datagen_deterministic_across_partitionings(spark):
    from pybiodatafuse_spark.datagen import generate_pages

    a = generate_pages(spark, 200, partitions=2).orderBy("url").collect()
    b = generate_pages(spark, 200, partitions=7).orderBy("url").collect()
    assert a == b


def test_datagen_matches_local_pdf(spark):
    from pybiodatafuse_spark.datagen import generate_pages

    spark_rows = generate_pages(spark, 100, partitions=4).orderBy("url").collect()
    pdf = generate_pages_pdf(np.arange(100), 100).sort_values("url")
    assert [r["url"] for r in spark_rows] == pdf["url"].tolist()
    assert [r["text"] for r in spark_rows] == pdf["text"].tolist()
    assert [bytes(r["html"]) for r in spark_rows] == pdf["html"].tolist()
