"""Dedup operators: exact groups, MinHash-LSH recall of planted near-dups,
n-gram Jaccard vs brute-force, SimHash determinism."""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from pybiodatafuse_spark.operators.dedup import (
    embedding_near_dup_pairs,
    exact_duplicates,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_docs,
)

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (1, "the quick brown fox jumps over the lazy dog near the river bank tonight"),  # near-dup of 0
    (2, "completely different content about spark shuffle partitions and joins here"),
    (3, "the quick brown fox jumps over the lazy dog near the river bank today"),  # exact dup of 0
    (4, "another unrelated document describing web graph pagerank computation steps"),
    (5, "completely different content about spark shuffle partitions and joins there"),  # near-dup of 2
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string").cache()


def _jaccard(a: str, b: str, n=3) -> float:
    def sh(t):
        toks = t.split()
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    sa, sb = sh(a), sh(b)
    return len(sa & sb) / len(sa | sb)


def test_exact_duplicates(spark, docs):
    out = exact_duplicates(docs).collect()
    assert {(r["doc_id"], r["group_id"], r["group_size"]) for r in out} == {
        (0, 0, 2),
        (3, 0, 2),
    }


def test_ngram_jaccard_matches_bruteforce(spark, docs):
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.4).collect()
    }
    want = {}
    for (ia, ta), (ib, tb) in itertools.combinations(DOCS, 2):
        j = _jaccard(ta, tb)
        if j >= 0.4:
            want[(ia, ib)] = round(j, 6)
    assert got == want
    assert (0, 3) in got and got[(0, 3)] == 1.0  # exact dup
    assert (0, 1) in got  # near dup


def test_minhash_lsh_finds_planted_neardups(spark, docs):
    pairs = {
        (r["doc_a"], r["doc_b"]) for r in minhash_lsh_pairs(docs, k=8, bands=4).collect()
    }
    assert (0, 3) in pairs  # exact dup always collides in every band
    assert (0, 1) in pairs or (2, 5) in pairs  # high-jaccard near-dups collide whp
    assert (0, 4) not in pairs and (2, 4) not in pairs  # unrelated docs don't


def test_minhash_lsh_rejects_uneven_bands(spark, docs):
    """k must split into equal bands; the check is a raise, not an assert
    that ``python -O`` would strip."""
    with pytest.raises(ValueError, match="multiple of bands"):
        minhash_lsh_pairs(docs, k=8, bands=3)


def test_simhash_deterministic_and_separates(spark, docs):
    a = {r["doc_id"]: r["simhash"] for r in simhash_docs(docs).collect()}
    b = {r["doc_id"]: r["simhash"] for r in simhash_docs(docs).collect()}
    assert a == b
    assert a[0] == a[3]  # identical text → identical simhash
    assert 0 <= min(a.values()) and max(a.values()) < 2**16


def test_embedding_near_dups(spark):
    rows = [
        (0, [1.0, 0.0, 0.0], 1),
        (1, [0.99, 0.1, 0.0], 1),   # near-dup of 0
        (2, [0.0, 1.0, 0.0], 1),
        (3, [1.0, 0.0, 0.0], 2),    # same vec as 0 but different block
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    got = {(r["id_a"], r["id_b"]) for r in embedding_near_dup_pairs(df, threshold=0.9).collect()}
    assert got == {(0, 1)}  # blocked by label: (0,3) never compared


def test_near_dup_clusters(spark):
    """LSH pairs → components → canonical per cluster; singletons kept."""
    from pybiodatafuse_spark.operators.dedup import near_dup_clusters

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "the quick brown fox jumps over the lazy dog today"),
            (3, "the quick brown fox jumps over the lazy dog now and then"),
            (4, "completely different text about spark shuffle partitions here"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: (r["cluster_id"], r["is_canonical"])
           for r in near_dup_clusters(docs).collect()}
    assert set(got) == {1, 2, 3, 4}
    # 1, 2, 3 share shingles -> one cluster; default canonical="quality"
    # keeps the HIGHEST-quality doc (3, the longer text), not the lowest id
    assert got[1] == (1, False)
    assert got[2] == (1, False)
    assert got[3] == (1, True)
    # 4 shares no shingles -> its own singleton cluster
    assert got[4] == (4, True)

    # min_id mode: canonical = lowest id (= component id), identical-quality
    # tie-break path of the cheap variant
    got2 = {r["doc_id"]: (r["cluster_id"], r["is_canonical"])
            for r in near_dup_clusters(docs, canonical="min_id").collect()}
    assert got2[1] == (1, True)
    assert got2[2] == (1, False)
    assert got2[3] == (1, False)
    assert got2[4] == (4, True)


def test_contamination_pairs(spark):
    from pybiodatafuse_spark.operators.dedup import contamination_pairs

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "a quick brown fox jumps over a sleeping cat"),
            (3, "completely different words here entirely now yes"),
        ],
        "doc_id long, text string",
    )
    probes = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    rows = {
        r["corpus_id"]: r
        for r in contamination_pairs(docs, probes, n=3, min_shared=1).collect()
    }
    # doc 1 == probe: full overlap (7 distinct trigrams of 9 tokens)
    assert rows[1]["shared_ngrams"] == rows[1]["probe_ngrams"] == 7
    assert rows[1]["overlap"] == 1.0
    # doc 2 shares "quick brown fox", "brown fox jumps", "fox jumps over"
    assert rows[2]["shared_ngrams"] == 3
    assert abs(rows[2]["overlap"] - 3 / 7) < 1e-12
    # doc 3 shares nothing
    assert 3 not in rows
