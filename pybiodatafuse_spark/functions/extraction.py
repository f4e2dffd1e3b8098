"""Text and link extraction from raw HTML — the engine's "parsing" stage.

Reference analogue: per-source response flattening (e.g. SPARQL-binding
parsing at ``/root/reference/src/pyBiodatafuse/annotators/wikipathways.py:138-152``)
done row-by-row in pandas. Here the extractor is ONE pure-Python core
(:func:`extract_text` / :func:`extract_links`) wrapped in Arrow-batched pandas
UDFs, so the Spark path and the oracle path share a single implementation and
the "byte-identical extracted text per url" invariant holds by construction
(BASELINE.json input_hint).

Scale note: pandas UDFs transfer Arrow batches (no per-row Python serde);
batch size is bounded by ``spark.sql.execution.arrow.maxRecordsPerBatch``.
At 10^12 pages this stage is embarrassingly parallel over page partitions —
no shuffle.
"""

from __future__ import annotations

import re
from urllib.parse import urljoin

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pybiodatafuse_spark.functions.urlnorm import canonicalize_url

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
        absolute = urljoin(base_url or "", raw) if base_url else raw
        canon = canonicalize_url(absolute)
        if canon is not None:
            out.append(canon)
    return out


# --- Arrow-batched Spark UDFs ----------------------------------------------


@F.pandas_udf(T.StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    return html.map(extract_text)


@F.pandas_udf(T.ArrayType(T.StringType()))
def extract_links_udf(html: pd.Series, base_url: pd.Series) -> pd.Series:
    return pd.Series(
        [extract_links(h, u) for h, u in zip(html, base_url)], index=html.index
    )
