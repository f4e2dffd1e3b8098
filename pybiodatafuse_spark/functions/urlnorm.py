"""URL canonicalization and resolution.

The reference's identifier-normalization analogue is curie cleanup
(``/root/reference/src/pyBiodatafuse/utils.py:286-310``) and per-source prefix
rewrites (``annotators/wikipathways.py:183-224``). For a link graph the
identifier is a URL; canonical form decides vertex identity, so it must be one
deterministic function shared by the pure-Python oracle and the Spark paths.

- :func:`canonicalize_url` — pure Python, the definition (tests and oracles
  call it; :func:`~pybiodatafuse_spark.functions.extraction.extract_links`
  applies it to ``urljoin`` results).
- :func:`canonicalize_url_col` and :func:`resolve_url_parts` — the same
  semantics as built-in column expressions (JVM-side, no Python worker):
  ``canonicalize_url(u)`` and ``canonicalize_url(urljoin(base, href))``.
  They port the parts of Python 3.11's ``urlsplit`` / ``urlparse`` /
  ``urljoin`` / ``urlunparse`` that can change a canonical http(s) url:
  ``str.strip`` and urlsplit's C0 / tab / CR / LF cleanup, the first-colon
  scheme rule, ``;params`` on the last segment, the ``ValueError`` netloc
  checks (brackets, IPv6 / IPvFuture hosts, NFKC-unsafe characters), and
  urljoin's dot-segment pass. The unit and differential tests in
  ``tests/test_extraction.py`` hold them to the Python functions.
"""

from __future__ import annotations

from urllib.parse import urlsplit, urlunsplit

from pyspark.sql import Column
from pyspark.sql import functions as F

_DEFAULT_PORTS = {"http": ":80", "https": ":443"}


def canonicalize_url(url: str) -> str | None:
    """Canonical form: lowercase scheme+host, strip default port, drop
    fragment, collapse empty path to "/". Returns None for non-http(s) or
    unparseable urls (those never become vertices)."""
    if not url:
        return None
    try:
        parts = urlsplit(url.strip())
    except ValueError:
        return None
    scheme = parts.scheme.lower()
    if scheme not in ("http", "https"):
        return None
    netloc = parts.netloc.lower()
    default = _DEFAULT_PORTS[scheme]
    if netloc.endswith(default):
        netloc = netloc[: -len(default)]
    if not netloc:
        return None
    path = parts.path or "/"
    return urlunsplit((scheme, netloc, path, parts.query, ""))


# --- column expressions ------------------------------------------------------
# Java regexes, so ``\z`` (not ``$``) anchors the end: ``$`` also matches before
# a final line terminator.


def _java_class(*points: int | tuple[int, int]) -> str:
    """The body of a Java regex character class: code points and inclusive
    ranges, as ``\\x{...}`` escapes."""
    esc = lambda c: f"\\x{{{c:X}}}"  # noqa: E731
    return "".join(esc(p) if isinstance(p, int) else f"{esc(p[0])}-{esc(p[1])}" for p in points)


# str.isspace() (tests/test_extraction.py recomputes it)
_WS_POINTS = ((0x09, 0x0D), (0x1C, 0x20), 0x85, 0xA0, 0x1680, (0x2000, 0x200A),
              0x2028, 0x2029, 0x202F, 0x205F, 0x3000)
# characters whose NFKC form holds one of / ? # @ : -- urlsplit raises on a
# non-ASCII netloc holding one (tests/test_extraction.py recomputes it)
_NFKC_UNSAFE_POINTS = ((0x2047, 0x2049), 0x2100, 0x2101, 0x2105, 0x2106, 0x2A74, 0xFE13,
                       0xFE16, 0xFE55, 0xFE56, 0xFE5F, 0xFE6B, 0xFF03, 0xFF0F, 0xFF1A,
                       0xFF1F, 0xFF20)
_WS = _java_class(*_WS_POINTS)
_NFKC_UNSAFE = _java_class(*_NFKC_UNSAFE_POINTS)
# urlsplit's own cleanup: lstrip C0 controls and space, drop tab / CR / LF
_CLEAN = r"^[\x00-\x20]+|[\t\r\n]"
# canonicalize_url's str.strip() followed by urlsplit's cleanup
_STRIP_CLEAN = rf"^[{_WS}]*[\x00-\x20]*|[{_WS}]+\z|[\t\r\n]"
_SCHEME = r"[A-Za-z][A-Za-z0-9+.\-]*"  # up to the first ':'
# urlsplit: scheme, //netloc, path, ?query, #fragment
_SPLIT = rf"(?s)^(?:({_SCHEME}):)?(?://([^/?#]*))?([^?#]*)(?:\?([^#]*))?(?:#(.*))?"
# urlparse's _splitparams: the first ';' of the last path segment
_PARAMS = r"(?s)^((?:.*/)?[^;/]*)(?:;(.*))?"
# An absolute http(s) url in printable ASCII without ';', '[' or ']', whose
# netloc starts with a real character: canonicalize_url strips nothing from
# it, its netloc cannot make urlsplit raise, and urljoin returns it unchanged
# or re-assembled from its parts (which drops only an empty ';params').
_PLAIN_ABSOLUTE_HTTP = r"^[Hh][Tt][Tt][Pp][Ss]?://(?![/?#])[!-:<-Z\\^-~]+\z"
_USES_RELATIVE = (
    "", "ftp", "http", "gopher", "nntp", "imap", "wais", "file", "https", "shttp", "mms",
    "prospero", "rtsp", "rtsps", "rtspu", "sftp", "svn", "svn+ssh", "ws", "wss",
)


def _bracketed_host_pattern() -> str:
    """What urlsplit's ``_check_bracketed_host`` accepts (the host holds no
    ']'): an IPvFuture literal, or an IPv6 address as
    ``ipaddress.ip_address`` parses it (hextets of 1-4 hex digits, one
    ``::`` standing for at least one hextet, an optional dotted IPv4 tail
    without leading zeros, an optional ``%zone``)."""
    h = "[0-9A-Fa-f]{1,4}"
    octet = "(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9][0-9]|[0-9])"
    v4 = rf"{octet}(?:\.{octet}){{3}}"
    forms = [rf"(?:{h}:){{7}}{h}", rf"(?:{h}:){{6}}{v4}"]
    for hi in range(8):  # hextets before '::'; at most 7 around it in all
        left = rf"(?:{h}:){{{hi - 1}}}{h}" if hi else ""
        room = 7 - hi
        right = [rf"(?:{h}(?::{h}){{0,{room - 1}}})?"] if room else [""]
        if room >= 2:
            right.insert(0, rf"(?:{h}:){{0,{room - 2}}}{v4}")
        forms.append(f"{left}::(?:{'|'.join(right)})")
    return rf"v[a-fA-F0-9]+\.[^\]]+|(?:{'|'.join(forms)})(?:%[^%\]]+)?"


_SUSPECT_NETLOC = rf"[\[\]{_NFKC_UNSAFE}]"
# a netloc urlsplit raises ValueError on: an NFKC-unsafe character, a '['
# or ']' without the other, or a bracketed host (after the first '[', up to
# the next ']' or the end) that _check_bracketed_host rejects
_RAISING_NETLOC = "|".join([
    f"[{_NFKC_UNSAFE}]",
    r"^[^\[]*\][^\[]*\z",
    r"^[^\]]*\[[^\]]*\z",
    rf"^[^\[]*\[(?!(?:{_bracketed_host_pattern()})(?:\]|\z))",
])


def _canonical(u: Column, netloc_ok: Column) -> Column:
    """:func:`canonicalize_url` of ``u``, a url that ``str.strip`` and
    urlsplit's cleanup leave as it is, where ``netloc_ok`` (urlsplit does
    not raise on it). Each part is read outside any CASE branch, so
    codegen's common-subexpression elimination computes it once."""
    # "scheme://netloc" lower-cased, without the scheme's default port
    origin = F.regexp_replace(
        F.lower(F.regexp_extract(u, rf"^({_SCHEME}://[^/?#]*)", 1)),
        r"(?s)^(http://.*):80\z|^(https://.*):443\z",
        "$1$2",
    )
    # path ('/' when empty), then "?query" unless the query is empty
    path = F.regexp_replace(
        F.regexp_extract(u, rf"(?s)^{_SCHEME}://[^/?#]*([^?#]*(?:\?[^#]+)?)", 1), "^(?!/)", "/"
    )
    return F.when(origin.rlike("(?s)^https?://.") & netloc_ok, F.concat(origin, path))


def canonicalize_url_col(url: Column) -> Column:
    """Column-expression :func:`canonicalize_url` (same result on every
    input, null for null)."""
    u = F.regexp_replace(url, _STRIP_CLEAN, "")
    netloc = F.regexp_extract(u, rf"^{_SCHEME}://([^/?#]*)", 1)
    return _canonical(u, ~netloc.rlike(_RAISING_NETLOC))


def _let(value: Column, body) -> Column:
    """``body(value)`` with ``value`` evaluated once, bound to a lambda
    variable: keeps the join branch's expression tree linear in size."""
    return F.element_at(F.transform(F.array(value), body), 1)


def _urlparse(url: Column) -> Column:
    """urlparse as a struct of its six parts (scheme lower-cased, absent
    parts '')."""
    def parts(u: Column) -> Column:
        part = lambda i: F.regexp_extract(u, _SPLIT, i)  # noqa: E731
        return _let(part(3), lambda path: F.struct(
            F.lower(part(1)).alias("scheme"),
            part(2).alias("netloc"),
            F.regexp_extract(path, _PARAMS, 1).alias("path"),
            F.regexp_extract(path, _PARAMS, 2).alias("params"),
            part(4).alias("query"),
            part(5).alias("fragment"),
        ))

    return _let(F.regexp_replace(url, _CLEAN, ""), parts)


def _merge_paths(base_path: Column, path: Column) -> Column:
    """urljoin's path merge for a relative reference: the base directory
    plus ``path`` (``path`` alone when it starts with '/'), empty middle
    segments of a relative merge dropped, then the '.' / '..' stack pass."""
    def base_dir(parts: Column) -> Column:
        return F.when(
            F.element_at(parts, -1) != "", F.slice(parts, 1, F.size(parts) - 1)
        ).otherwise(parts)

    def drop_empty_middle(segs: Column) -> Column:
        n = F.size(segs)
        return F.filter(segs, lambda s, i: (s != "") | (i == 0) | (i == n - 1))

    def resolve(segs: Column) -> Column:
        empty = F.array().cast("array<string>")
        stack = F.aggregate(
            segs,
            empty,
            lambda acc, s: F.when(
                s == "..", F.slice(acc, 1, F.greatest(F.size(acc) - 1, F.lit(0)))
            ).when(s == ".", acc).otherwise(F.concat(acc, F.array(s))),
        )
        # a trailing '.' or '..' leaves the path ending in '/'
        trail = F.when(
            F.element_at(segs, -1).isin(".", ".."), F.array(F.lit(""))
        ).otherwise(empty)
        return F.array_join(F.concat(stack, trail), "/")

    segs = F.when(path.startswith("/"), F.split(path, "/")).otherwise(
        _let(F.concat(_let(F.split(base_path, "/"), base_dir), F.split(path, "/")),
             drop_empty_middle)
    )
    return _let(_let(segs, resolve), lambda p: F.when(p == "", F.lit("/")).otherwise(p))


def _unparse(scheme: Column, netloc: Column, path: Column, params: Column,
             query: Column, fragment: Column) -> Column:
    """urlunparse for a non-empty scheme that uses a netloc."""
    def tail(sep: str, part: Column) -> Column:
        return F.when(part != "", F.concat(F.lit(sep), part)).otherwise(F.lit(""))

    def netloc_path(url: Column) -> Column:
        slash = F.when((url != "") & ~url.startswith("/"), F.lit("/")).otherwise(F.lit(""))
        return F.when(
            (netloc != "") | ~url.startswith("//"), F.concat(F.lit("//"), netloc, slash, url)
        ).otherwise(url)

    return F.concat(
        scheme, F.lit(":"), _let(F.concat(path, tail(";", params)), netloc_path),
        tail("?", query), tail("#", fragment),
    )


def _urljoin(base: Column, href: Column) -> Column:
    """``urljoin(base, href)`` where its result can canonicalize to an
    http(s) url; null where urljoin raises ValueError or resolves to
    another scheme."""
    def join(p: Column) -> Column:
        h, b = p["h"], p["b"]
        scheme = F.when(h["scheme"] != "", h["scheme"]).otherwise(b["scheme"])
        no_url = F.lit(None).cast("string")
        return (
            F.when(h["netloc"].rlike(_RAISING_NETLOC) | b["netloc"].rlike(_RAISING_NETLOC),
                   no_url)
            .when((scheme != b["scheme"]) | ~b["scheme"].isin(*_USES_RELATIVE), href)
            .when(~scheme.isin("http", "https"), no_url)
            .when(h["netloc"] != "", _unparse(scheme, h["netloc"], h["path"], h["params"],
                                              h["query"], h["fragment"]))
            .when((h["path"] == "") & (h["params"] == ""),
                  _unparse(scheme, b["netloc"], b["path"], b["params"],
                           F.when(h["query"] != "", h["query"]).otherwise(b["query"]),
                           h["fragment"]))
            .otherwise(_unparse(scheme, b["netloc"], _merge_paths(b["path"], h["path"]),
                                h["params"], h["query"], h["fragment"]))
        )

    return (
        F.when(base.isNull() | (base == ""), href)
        .when(href == "", base)
        .otherwise(_let(F.struct(_urlparse(href).alias("h"), _urlparse(base).alias("b")), join))
    )


def resolve_url_parts(href: Column, base: Column) -> tuple[Column, Column]:
    """``(direct, joined)``: their ``coalesce`` is the column-expression
    ``canonicalize_url(urljoin(base, href) if base else href)``, null where
    that is None or urljoin raises ValueError. At most one is non-null.

    A plain absolute http(s) href (``_PLAIN_ABSOLUTE_HTTP``) against a base
    urlsplit accepts canonicalizes to the same url whether or not it is
    joined: ``direct`` canonicalizes such an href with codegen'd built-in
    expressions (no cleanup, no netloc check) and is null for the other
    rows. ``joined`` canonicalizes ``urljoin(base, href)`` for the other
    rows, null for these; its lambdas are interpreted."""
    direct = href.rlike(_PLAIN_ABSOLUTE_HTTP) & (
        base.isNull() | ~base.rlike(_SUSPECT_NETLOC)
    )
    return (
        _canonical(F.when(direct, href), F.lit(True)),
        F.when(~direct, _let(_urljoin(base, href), canonicalize_url_col)),
    )
