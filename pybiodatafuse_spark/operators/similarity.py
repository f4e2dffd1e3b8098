"""Similarity search over embedding columns (array<float>).

- :func:`brute_force_topk` — exact cosine top-k: broadcast the (small) query
  set against the corpus, rank per query. The correctness baseline.
- :func:`lsh_buckets` / :func:`lsh_topk` — random-hyperplane (sign) LSH: the
  scale path. Hyperplanes are deterministic (splitmix64-seeded ±1 matrix);
  bucketing is a pure projection, candidates only form within buckets across
  `n_bands` independent bands (multi-probe by union).
- :func:`ivf_assign` / :func:`ivf_topk` — IVF (inverted-file) ANN: partition
  the corpus into centroid cells once (broadcast centroids, map-side argmax —
  one narrow shuffle to group by cell), then each query probes only its
  `nprobe` nearest cells. At 100 TB the cell assignment is the persisted
  index; search touches nprobe/n_centroids of the corpus.

All vector math is built-in (`zip_with` + `aggregate`) — JVM-side, no Python.
The reference's closest analogue is the embedding-distance scoring in
DREAMwalk (`predict_associations.py:87-137`), done driver-side in sklearn.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pybiodatafuse_spark.plans.superstep import _free


def dot_expr(a: Column, b: Column) -> Column:
    # double-cast BEFORE multiplying: float32 products would lose precision
    # (and break bit-parity with the float64 oracle)
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v)
    )


def cosine_expr(a: Column, b: Column) -> Column:
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """(query_id, vec_id, cos, rn) — exact top-k by cosine per query,
    deterministic tie-break on vec_id. Queries are broadcast."""
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(query_vec_col).alias("qv")
    )
    scored = corpus.crossJoin(F.broadcast(q)).select(
        "query_id",
        F.col(id_col).alias("vec_id"),
        F.round(cosine_expr(F.col("qv"), F.col(vec_col)), 6).alias("cos"),
    )
    # exclude self-matches when querying the corpus against itself
    scored = scored.where(F.col("vec_id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return scored.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= k)


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    """Deterministic ±1 hyperplane matrix (n_planes × dim) via splitmix64."""
    idx = np.arange(n_planes * dim, dtype=np.uint64)
    z = (idx + np.uint64(seed)) * np.uint64(0x9E3779B97F4A7C15)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    bits = ((z ^ (z >> np.uint64(31))) & np.uint64(1)).astype(np.int64)
    return (bits.reshape(n_planes, dim) * 2 - 1).astype(np.float64)


def lsh_buckets(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    dim: int,
    bits_per_band: int = 8,
    n_bands: int = 2,
    seed: int = 42,
) -> DataFrame:
    """Adds (band, bucket) rows per input row: one row per band, bucket =
    integer of sign bits under that band's hyperplanes."""
    planes = hyperplanes(dim, bits_per_band * n_bands, seed)
    out = []
    for band in range(n_bands):
        bucket = F.lit(0).cast("long")
        for i in range(bits_per_band):
            p = planes[band * bits_per_band + i]
            plane_col = F.array(*[F.lit(float(x)) for x in p])
            d = dot_expr(plane_col, F.col(vec_col))
            bucket = bucket + F.when(d > 0, F.lit(2**i).cast("long")).otherwise(F.lit(0))
        out.append(df.withColumn("band", F.lit(band)).withColumn("bucket", bucket))
    res = out[0]
    for o in out[1:]:
        res = res.unionByName(o)
    return res


def ivf_centroids(
    corpus: DataFrame, *, n_centroids: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Deterministic centroid set: the ``n_centroids`` corpus vectors with the
    lowest ids. (Production would plug k-means(sample) centroids in here; the
    index/search path below is identical either way, and deterministic seeds
    keep the tests and the DuckDB oracle value-exact.)"""
    return (
        corpus.orderBy(F.asc(id_col))
        .limit(n_centroids)
        .select(F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("cv"))
    )


def ivf_kmeans_centroids(
    corpus: DataFrame,
    *,
    n_centroids: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 5,
    sample_mod: int = 1,
) -> DataFrame:
    """Spherical k-means(sample) centroid trainer — the production IVF index
    builder (``ivf_centroids`` stays as the deterministic oracle mode).

    Deterministic-seeded: the training sample is a hash-mod of ids (not RNG),
    init = the ``n_centroids`` lowest-id sample vectors. Each iteration:
    assign by cosine against broadcast centroids (map-side argmax — no
    shuffle of the sample), then per-cell mean via posexplode + per-dimension
    avg, L2-normalized. Empty cells keep their previous centroid. At 100 TB
    only the SAMPLE (|corpus|/sample_mod rows) is touched per iteration;
    centroids stay O(k·dim) and broadcast."""
    src = corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"))
    if sample_mod > 1:
        src = src.where(F.pmod(F.xxhash64("vec_id"), F.lit(sample_mod)) == 0)
    src = src.persist()
    cents = (
        src.orderBy("vec_id")
        .limit(n_centroids)
        .select(
            (F.row_number().over(Window.orderBy("vec_id")) - 1).alias("centroid_id"),
            F.col("v").alias("cv"),
        )
    )
    for i in range(iters):
        assigned = _nearest_cells(src, cents, "vec_id", "v", 1).select(
            "centroid_id", F.posexplode("v").alias("pos", "val")
        )
        means = (
            assigned.groupBy("centroid_id", "pos")
            .agg(F.avg(F.col("val").cast("double")).alias("m"))
            .groupBy("centroid_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s["m"],
                ).alias("mv")
            )
        )
        norm = F.sqrt(
            F.aggregate("mv", F.lit(0.0), lambda a, x: a + x * x)
        )
        new_cents = means.select(
            "centroid_id",
            F.transform("mv", lambda x: x / norm).alias("cv"),
        )
        # empty cells keep their previous centroid
        kept = (
            cents.withColumnRenamed("cv", "old_cv")
            .join(new_cents, "centroid_id", "left")
            .select(
                "centroid_id", F.coalesce("cv", "old_cv").alias("cv")
            )
            .localCheckpoint(eager=True)
        )
        if i:  # the initial centroids are a plan, not a checkpoint
            _free(cents)
        cents = kept
    src.unpersist()
    return cents


def _nearest_cells(
    df: DataFrame, centroids: DataFrame, id_name: str, vec_name: str, n: int
) -> DataFrame:
    """(id, centroid_id, rn) — the n nearest centroids per row by cosine
    (rounded to 6 so Spark and the SQL oracle agree on argmax), tie-break on
    centroid_id. Centroids are broadcast: the scan is shuffle-free; only the
    per-row top-n window repartitions, keyed by the row id (bounded width)."""
    scored = df.crossJoin(F.broadcast(centroids)).select(
        id_name,
        vec_name,
        "centroid_id",
        F.round(cosine_expr(F.col(vec_name), F.col("cv")), 6).alias("ccos"),
    )
    w = Window.partitionBy(id_name).orderBy(F.desc("ccos"), F.asc("centroid_id"))
    return scored.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= n)


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, embedding, centroid_id): every corpus vector labeled with its
    nearest centroid cell — the IVF index, persisted once and reused."""
    return _nearest_cells(
        corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v")),
        centroids, "vec_id", "v", 1,
    ).select("vec_id", "v", "centroid_id")


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    centroids: DataFrame | None = None,
    index: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k: each query scores only corpus vectors whose IVF cell
    is among the query's `nprobe` nearest cells.

    ``centroids`` (centroid_id, cv): pass ``ivf_kmeans_centroids`` output for
    the trained index; default = deterministic lowest-id centroids (the
    oracle-exact mode).

    ``index`` (vec_id, v, centroid_id): a PREBUILT cell assignment
    (``ivf_assign`` output, e.g. persisted via ``Storage.append`` and read
    back in a later session) — when given, the corpus is never rescanned
    and search cost is only the probed cells. This is the production path:
    build once, persist, search many times.

    Scale shape: index build = one broadcast projection + narrow shuffle;
    search = equi-join on centroid_id (candidates ≈ nprobe/n_centroids of the
    corpus) + per-query top-k window. No cross join over the full corpus."""
    cents = (
        centroids
        if centroids is not None
        else ivf_centroids(corpus, n_centroids=n_centroids, id_col=id_col, vec_col=vec_col)
    )
    if index is None:
        index = ivf_assign(corpus, cents, id_col=id_col, vec_col=vec_col)
    probes = _nearest_cells(
        queries.select(
            F.col(query_id_col).alias("query_id"), F.col(query_vec_col).alias("qv")
        ),
        cents, "query_id", "qv", nprobe,
    ).select("query_id", "qv", "centroid_id")
    scored = (
        index.join(probes, "centroid_id")
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(cosine_expr(F.col("qv"), F.col("v")), 6).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return scored.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= k)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    dim: int,
    bits_per_band: int = 8,
    n_bands: int = 2,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: candidates share an LSH bucket in ≥1 band."""
    cb = lsh_buckets(
        corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v")),
        vec_col="v", dim=dim, bits_per_band=bits_per_band, n_bands=n_bands, seed=seed,
    )
    qb = lsh_buckets(
        queries.select(
            F.col(query_id_col).alias("query_id"), F.col(query_vec_col).alias("qv")
        ),
        vec_col="qv", dim=dim, bits_per_band=bits_per_band, n_bands=n_bands, seed=seed,
    )
    cands = (
        cb.join(qb, ["band", "bucket"])
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", "qv", "v")
        .dropDuplicates(["query_id", "vec_id"])
    )
    scored = cands.select(
        "query_id",
        "vec_id",
        F.round(cosine_expr(F.col("qv"), F.col("v")), 6).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return scored.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= k)
