"""Text-analysis primitives for training-data pipelines.

All column-expression based (JVM-side, codegen'd — no Python in the hot
path). Each has a deliberately simple, SQL-mirrorable definition so the
DuckDB oracle can verify it value-for-value (driver correctness gate).

Reference analogue: the per-row string cleanup family (SURVEY.md §2.7 C1-C2)
done with pandas ``.apply``; here everything is built-in expressions.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# tiny per-language stopword lists for the n-gram/stopword language heuristic
STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "for", "with", "on", "is"],
    "de": ["der", "die", "das", "und", "zu", "mit", "von", "ist", "ein", "nicht"],
    "fr": ["le", "la", "et", "de", "un", "une", "est", "pour", "avec", "dans"],
    "es": ["el", "la", "y", "de", "un", "una", "es", "para", "con", "en"],
}


def tokens(text: Column) -> Column:
    """Whitespace tokenization (empty strings removed)."""
    return F.filter(F.split(text, r"\s+"), lambda t: t != "")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def hash64(s: Column) -> Column:
    """Deterministic 60-bit integer hash of a string via md5 — chosen over
    xxhash64 because the DuckDB oracle can reproduce it exactly."""
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


def stopword_ratio(text: Column, lang: str = "en") -> Column:
    toks = tokens(F.lower(text))
    stops = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stops, t)))
    return F.when(F.size(toks) > 0, n_stop / F.size(toks)).otherwise(F.lit(0.0))


def predict_lang(text: Column) -> Column:
    """Stopword-voting language id: language with the highest stopword hit
    count; ties broken alphabetically; 'und' (undetermined) when no hits.

    Implemented as array_max over (hits, -lang_index, lang) structs — struct
    ordering gives max hits then alphabetically-first lang. (A chained
    when(entry > best, entry).otherwise(best) fold would embed each prior
    entry twice per level: exponential expression-tree growth and repeated
    evaluation of every lang's filter pass.)"""
    toks = tokens(F.lower(text))
    entries = []
    for i, lang in enumerate(sorted(STOPWORDS)):
        stops = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
        hits = F.size(F.filter(toks, lambda t: F.array_contains(stops, t)))
        entries.append(
            F.struct(
                hits.alias("hits"), F.lit(-i).alias("neg_idx"), F.lit(lang).alias("lang")
            )
        )
    best = F.array_max(F.array(*entries))
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))


def quality_score(text: Column) -> Column:
    """Heuristic document quality in [0,1]: rewards mid-length docs, long
    average tokens, and some (but not excessive) stopword density."""
    toks = tokens(text)
    n = F.size(toks)
    avg_len = F.when(
        n > 0, F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t)) / n
    ).otherwise(F.lit(0))
    len_score = F.least(n / F.lit(100.0), F.lit(1.0))
    tok_score = F.least(avg_len / F.lit(6.0), F.lit(1.0))
    stop_score = F.least(stopword_ratio(text) * 4.0, F.lit(1.0))
    return F.round((len_score + tok_score + stop_score) / 3.0, 6)


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of the sorted distinct token set — exact-ish
    content identity robust to token order (a cheap rolling-hash analogue)."""
    return F.md5(F.array_join(F.array_sort(F.array_distinct(tokens(F.lower(text)))), " "))


def simhash16_of_hashes(hashes: Column) -> Column:
    """16-bit SimHash from a per-token hash array. Pass a materialized
    attribute: the 16 per-bit folds each re-evaluate the array child, so an
    inlined tokenize+md5 expression would run 16× per row (same interpreted-
    HOF pitfall as shingles_of_tokens)."""
    out = F.lit(0).cast("long")
    for i in range(16):
        vote = F.aggregate(
            hashes,
            F.lit(0).cast("long"),
            lambda acc, h: acc
            + F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
        )
        out = out + F.when(vote > 0, F.lit(2**i).cast("long")).otherwise(F.lit(0))
    return out


def token_hashes(text: Column) -> Column:
    """hash64 of each lowercased whitespace token (array<long>)."""
    return F.transform(tokens(F.lower(text)), lambda t: hash64(t))


def simhash16(text: Column) -> Column:
    """16-bit SimHash over whitespace tokens with md5-based token hashes.

    bit i of the output is 1 iff sum over tokens of (+1 if bit i of
    hash64(token) else -1) is positive. Convenience form; for bulk jobs
    pre-project :func:`token_hashes` behind a barrier and use
    :func:`simhash16_of_hashes`."""
    return simhash16_of_hashes(token_hashes(text))


def shingles_of_tokens(toks: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from a token array.

    PERF: pass an *attribute* (a materialized column), not an expression —
    higher-order-function lambdas are interpreted (no codegen, no
    subexpression elimination), so every ``element_at`` here re-evaluates its
    array child. With ``toks`` a plain column reference that's an O(1) array
    access; with the full ``split+filter`` expression inlined it tokenizes
    the document once per gram per position (quadratic per doc — measured
    31 s for 5 000 docs before, ~1 s after). See
    :func:`pybiodatafuse_spark.operators.dedup.shingle_rows` for the
    barrier-projection pattern that keeps the attribute materialized."""
    # guard: F.sequence(1, 0) would DESCEND in Spark, so gate on size >= n
    idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, (i + j).cast("int")) for j in range(n)]
        ),
    )
    empty = F.array().cast("array<string>")
    return F.when(F.size(toks) >= n, F.array_distinct(grams)).otherwise(empty)


def shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles (array<string>) straight from text.
    Convenience for small inputs/tests; for bulk jobs pre-tokenize and use
    :func:`shingles_of_tokens` (see its PERF note)."""
    return shingles_of_tokens(tokens(F.lower(text)), n)
