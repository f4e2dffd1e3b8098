"""Per-vertex and whole-graph structural statistics.

Reference anchor: ``/root/reference/src/pyBiodatafuse/analyzer/summarize.py``
reports graph-level summaries via networkx (density, degree stats); these are
the distributed restatements a crawl-scale link graph needs, plus the
neighbor-overlap link scores (common-neighbors / Jaccard / Adamic-Adar /
resource-allocation) that the reference's link-prediction pipeline
(``algorithms/DREAMwalk``) consumes as classical baselines.

Everything here is built-in DataFrame expressions — one or two shuffles per
operator, no Python in any hot path:

- :func:`clustering_coefficients`: local clustering c(v) = 2·T(v) /
  (deg(v)·(deg(v)−1)) over the undirected simple graph; reuses the
  degree-ordered triangle plan (no extra wedge pass).
- :func:`neighbor_overlap_scores`: for candidate pairs = co-neighbors (pairs
  sharing ≥1 neighbor), common-neighbor count, Jaccard, Adamic-Adar
  (Σ 1/ln deg(w)), resource allocation (Σ 1/deg(w)). Wedge enumeration is
  df-capped (``max_wedge_deg``) so stop-hubs can't go quadratic — the same
  guard as operators/dedup.py's shingle-df cap.
- :func:`graph_scalars`: one-row summary — vertices, edges, density,
  reciprocity (fraction of directed edges whose reverse exists) and degree
  assortativity (Pearson r of (out-deg(src), in-deg(dst)) over edges —
  the Newman'02 directed variant).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pybiodatafuse_spark.operators.edges import vertex_ids
from pybiodatafuse_spark.plans.triangles import triangles


def _undirected(edges: DataFrame) -> DataFrame:
    """Distinct undirected edge set as (a < b) pairs."""
    return (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .dropDuplicates(["a", "b"])
    )


def _udegrees(und: DataFrame) -> DataFrame:
    return (
        und.select(F.col("a").alias("id"))
        .unionByName(und.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("deg"))
    )


def clustering_coefficients(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
) -> DataFrame:
    """(id, deg, triangles, coeff) over the undirected simple graph; vertices
    with deg < 2 have coeff 0.0.

    By default the vertex set is derived from the undirected non-self edge
    set; pass ``vertices`` (one ``id`` column — e.g. the full crawl page
    table) to also report isolated and self-loop-only vertices with
    ``deg=0, triangles=0, coeff=0.0``, matching the reference's networkx
    summarize path which reports every node
    (``/root/reference/src/pyBiodatafuse/analyzer/summarize.py:60-80``)."""
    und = _undirected(edges)
    _, per_vertex = triangles(
        spark, und.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    )
    deg = _udegrees(und)
    if vertices is not None:
        deg = (
            vertices.select("id")
            .dropDuplicates(["id"])
            .join(deg, "id", "left")
            .select("id", F.coalesce("deg", F.lit(0)).cast("long").alias("deg"))
        )
    return (
        deg.join(per_vertex, "id", "left")
        .select(
            "id",
            "deg",
            F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"),
            F.when(
                F.col("deg") < 2, F.lit(0.0)
            ).otherwise(
                2.0 * F.coalesce("triangles", F.lit(0)) / (F.col("deg") * (F.col("deg") - 1))
            ).alias("coeff"),
        )
    )


def neighbor_overlap_scores(
    spark: SparkSession,
    edges: DataFrame,
    *,
    max_wedge_deg: int | None = None,
) -> DataFrame:
    """(a, b, common, jaccard, adamic_adar, resource_alloc) for every
    unordered pair with ≥1 common undirected neighbor. ``max_wedge_deg``
    drops wedge centers above the given degree (hub cap — documented
    approximation, exact when None)."""
    und = _undirected(edges)
    deg = _udegrees(und)
    # neighbor lists centered on the wedge middle w: (w, x) for both ends
    half = und.select(F.col("a").alias("w"), F.col("b").alias("x")).unionByName(
        und.select(F.col("b").alias("w"), F.col("a").alias("x"))
    )
    centered = half.join(deg.withColumnRenamed("id", "w"), "w")
    if max_wedge_deg is not None:
        centered = centered.where(F.col("deg") <= max_wedge_deg)
    lo = centered.select("w", F.col("x").alias("a"), "deg")
    hi = centered.select("w", F.col("x").alias("b"), "deg")
    wedges = lo.join(hi, ["w", "deg"]).where(F.col("a") < F.col("b"))
    scores = wedges.groupBy("a", "b").agg(
        F.count(F.lit(1)).alias("common"),
        F.sum(1.0 / F.log("deg")).alias("adamic_adar"),
        F.sum(1.0 / F.col("deg")).alias("resource_alloc"),
    )
    da = deg.select(F.col("id").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("id").alias("b"), F.col("deg").alias("deg_b"))
    return (
        scores.join(da, "a")
        .join(db, "b")
        .select(
            "a",
            "b",
            "common",
            (
                F.col("common")
                / (F.col("deg_a") + F.col("deg_b") - F.col("common"))
            ).alias("jaccard"),
            "adamic_adar",
            "resource_alloc",
        )
    )


def graph_scalars(spark: SparkSession, edges: DataFrame) -> DataFrame:
    """One row: (n_vertices, n_edges, density, reciprocity, assortativity).

    - density over the directed simple graph: E / (V·(V−1));
    - reciprocity: |{(u,v) ∈ E : (v,u) ∈ E}| / |E|;
    - assortativity: Pearson correlation of (out-deg(src), in-deg(dst))
      across directed edges (0.0 when degenerate/constant).
    """
    e = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
        .persist()
    )
    n_edges = e.count()
    verts = vertex_ids(e)
    outd = e.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("od"))
    ind = e.groupBy(F.col("dst").alias("id")).agg(F.count(F.lit(1)).alias("idg"))
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    recip = e.join(rev, ["src", "dst"], "left_semi").count()
    per_edge = (
        e.join(outd.withColumnRenamed("id", "src"), "src")
        .join(ind.withColumnRenamed("id", "dst"), "dst")
        .select(F.col("od").cast("double"), F.col("idg").cast("double"))
    )
    stats = per_edge.agg(F.corr("od", "idg").alias("r")).first()
    n_verts = verts.count()
    e.unpersist()
    density = (
        float(n_edges) / (n_verts * (n_verts - 1)) if n_verts > 1 else 0.0
    )
    r = stats["r"]
    return spark.createDataFrame(
        [
            (
                int(n_verts),
                int(n_edges),
                float(density),
                float(recip) / n_edges if n_edges else 0.0,
                float(r) if r is not None else 0.0,
            )
        ],
        "n_vertices long, n_edges long, density double, reciprocity double, assortativity double",
    )


def modularity(spark: SparkSession, edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Newman modularity of a vertex partition over the undirected simple
    graph: ``Q = Σ_c [ e_c/m − (d_c/2m)² ]`` with e_c = intra-community edge
    count, d_c = total community degree, m = |E|. ``labels``: (id, label).

    One row ``(n_communities, modularity)``. Two shuffles (label join +
    per-community aggregate); the label relation is O(V) and the per-label
    rollup is partial-aggregated."""
    und = _undirected(edges).persist()
    m = und.count()
    if m == 0:
        und.unpersist()
        return spark.createDataFrame(
            [(0, 0.0)], "n_communities long, modularity double"
        )
    la = labels.select(F.col("id").alias("a"), F.col("label").alias("la"))
    lb = labels.select(F.col("id").alias("b"), F.col("label").alias("lb"))
    intra = (
        und.join(la, "a")
        .join(lb, "b")
        .where(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("label"))
        .agg(F.count(F.lit(1)).alias("e_c"))
    )
    d_c = (
        _udegrees(und)
        .join(labels, "id")
        .groupBy("label")
        .agg(F.sum("deg").alias("d_c"))
    )
    per = d_c.join(intra, "label", "left").select(
        "label",
        (
            F.coalesce("e_c", F.lit(0)) / F.lit(float(m))
            - (F.col("d_c") / F.lit(2.0 * m)) * (F.col("d_c") / F.lit(2.0 * m))
        ).alias("q_c"),
    )
    row = per.agg(
        F.count(F.lit(1)).alias("nc"), F.sum("q_c").alias("q")
    ).first()
    und.unpersist()
    return spark.createDataFrame(
        [(int(row["nc"]), float(row["q"]))],
        "n_communities long, modularity double",
    )
