"""Text and link extraction from raw HTML — the engine's "parsing" stage.

Reference analogue: per-source response flattening (e.g. SPARQL-binding
parsing at ``/root/reference/src/pyBiodatafuse/annotators/wikipathways.py:138-152``)
done row-by-row in pandas. Here the pure-Python core (:func:`extract_text` /
:func:`extract_links`) is the definition, and the Spark paths reproduce it:

- text: the Arrow-batched pandas UDF :func:`extract_text_udf` wraps
  :func:`extract_text`, so the "byte-identical extracted text per url"
  invariant (BASELINE.json input_hint) holds by construction.
- links: built-in expressions only, so link extraction runs in the JVM and
  starts no Python worker. :func:`href_scan` is one ``regexp_extract_all``
  over the page (decoded as ``bytes.decode("utf-8", "replace")`` decodes);
  :func:`link_parts` resolves one raw href against the page url
  (:func:`~pybiodatafuse_spark.functions.urlnorm.resolve_url_parts`): plain
  absolute http(s) hrefs in codegen'd expressions, the others through an
  interpreted port of ``urljoin``. ``operators.edges.page_links``
  explodes the scan and resolves each href; :func:`extract_links_udf` is
  the array form (one row per page). ``tests/test_extraction.py`` holds
  both to :func:`extract_links` on a seeded fuzz set.

Scale note: both paths are embarrassingly parallel over page partitions —
no shuffle.
"""

from __future__ import annotations

import re
from urllib.parse import urljoin

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pybiodatafuse_spark.functions.urlnorm import canonicalize_url, resolve_url_parts

# --- pure-Python core (the oracle) -----------------------------------------

_SCRIPT_STYLE_RE = re.compile(
    rb"<(script|style)\b[^>]*>.*?</\1>", re.IGNORECASE | re.DOTALL
)
_TAG_RE = re.compile(rb"<[^>]+>")
_WS_RE = re.compile(r"\s+")
_HREF_RE = re.compile(
    rb"""<a\s[^>]*?href\s*=\s*(?:"([^"]*)"|'([^']*)')""", re.IGNORECASE | re.DOTALL
)


def extract_text(html: bytes | None) -> str | None:
    """Plain text of an HTML page: drop script/style, strip tags, collapse
    whitespace. Deterministic; this exact function defines the ``text``
    column invariant."""
    if html is None:
        return None
    stripped = _SCRIPT_STYLE_RE.sub(b" ", html)
    stripped = _TAG_RE.sub(b" ", stripped)
    text = stripped.decode("utf-8", errors="replace")
    return _WS_RE.sub(" ", text).strip()


def extract_links(html: bytes | None, base_url: str | None) -> list[str]:
    """Canonicalized absolute link targets of a page, document order,
    duplicates preserved (edge weight can aggregate them later)."""
    if html is None:
        return []
    out: list[str] = []
    for m in _HREF_RE.finditer(html):
        raw = (m.group(1) if m.group(1) is not None else m.group(2)).decode(
            "utf-8", errors="replace"
        )
        if not raw or raw.startswith("#"):
            continue
        try:
            absolute = urljoin(base_url, raw) if base_url else raw
        except ValueError:  # urlsplit rejects the netloc (e.g. "http://[::1/x")
            continue
        canon = canonicalize_url(absolute)
        if canon is not None:
            out.append(canon)
    return out


# --- Spark column expressions -----------------------------------------------

# _HREF_RE with the value in one group (2): group 1 is the opening quote, and
# the value is the shortest run up to that quote again
_HREF_SCAN = r"""(?is)<a\s[^>]*?href\s*=\s*(["'])(.*?)\1"""


def href_scan(html: Column) -> Column:
    """array<string> of the raw href values of a binary ``html`` column, in
    document order: the values ``_HREF_RE`` captures, decoded as
    :func:`extract_links` decodes them (``make_valid_utf8`` replaces invalid
    UTF-8 exactly as ``bytes.decode("utf-8", "replace")`` does)."""
    page = F.make_valid_utf8(html.cast("string"))
    return F.regexp_extract_all(page, F.lit(_HREF_SCAN), 2)


def link_parts(href: Column, base_url: Column) -> tuple[Column, Column]:
    """``(direct, joined)`` for one raw href on the page at ``base_url``
    (:func:`~pybiodatafuse_spark.functions.urlnorm.resolve_url_parts`):
    their ``coalesce`` is the canonical link target, null where
    :func:`extract_links` drops the href (empty, ``#...``, not http(s),
    unparseable)."""
    keep = (href != "") & ~href.startswith("#")
    return resolve_url_parts(F.when(keep, href), base_url)


def extract_links_udf(html: Column | str, base_url: Column | str) -> Column:
    """Array form of the link extraction: array<string> per page, equal to
    ``extract_links(html, base_url)`` (``[]`` for null html). A
    ``transform`` over :func:`href_scan` with :func:`link_parts`; ingest uses
    the exploded form (``operators.edges.page_links``), so ``--trace 1``'s
    ``functions.extract_s``, which times this function, is not
    ``build_edges``' own cost."""
    html = F.col(html) if isinstance(html, str) else html
    base_url = F.col(base_url) if isinstance(base_url, str) else base_url
    links = F.transform(href_scan(html), lambda h: F.coalesce(*link_parts(h, base_url)))
    return F.coalesce(
        F.filter(links, lambda u: u.isNotNull()), F.array().cast("array<string>")
    )


# --- Arrow-batched text UDF --------------------------------------------------


@F.pandas_udf(T.StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    return html.map(extract_text)
