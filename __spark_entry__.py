"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry exercises one operator family from SURVEY.md §2,
implemented by pybiodatafuse_spark; ``oracle_sql()`` gives the DuckDB
equivalent. Column names/types are aligned on both sides (the driver's
value-hash compare sorts columns by name).

Parity conventions (Spark ⇄ DuckDB):
- money aggregates go through DECIMAL casts on both sides (exact, order-
  independent), emitted as double;
- string hashing is md5-based (``functions.text.hash64`` = first 15 md5 hex
  digits as int; DuckDB mirrors it with a list_reduce hex parse);
- float expressions are written so both engines run the identical sequence
  of IEEE double ops (left-fold dot products), then rounded;
- counts/sizes cast to BIGINT on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_GRAPH_MOD = 211  # derived-graph vertex space: orders keys mod 211

# per-(session, sf_dir) materialized small tables shared across gate queries:
# ~30 of the 67 gates start from the same derived edge relation, and the
# iterative ones re-derive it inside every superstep lineage — one eager
# localCheckpoint (a few thousand rows) removes the repeated parquet scan +
# dedup shuffle from every downstream job in the driver's correctness run.
_SHARED: dict[tuple[str, str, str], DataFrame] = {}


def _shared(spark: SparkSession, sf_dir: str, key: str, build) -> DataFrame:
    app = spark.sparkContext.applicationId
    # evict entries from stopped sessions: their checkpointed blocks are gone
    # with the old executors, and keying by applicationId would otherwise
    # retain one generation of DataFrames per session for the process lifetime
    for stale in [k for k in _SHARED if k[0] != app]:
        _SHARED.pop(stale, None)
    ck = (app, sf_dir, key)
    df = _SHARED.get(ck)
    if df is None:
        df = build().localCheckpoint(eager=True)
        _SHARED[ck] = df
    return df


def _derived_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic edge table both engines can derive: orders keys mod 211.
    (The pages→links extraction path is exercised in tests/bench; the driver
    gate needs an edge table DuckDB can reproduce exactly.)"""

    def build() -> DataFrame:
        o = _t(spark, sf_dir, "orders")
        return (
            o.select(
                (F.col("o_custkey") % _GRAPH_MOD).alias("src"),
                (F.col("o_orderkey") % _GRAPH_MOD).alias("dst"),
            )
            .where(F.col("src") != F.col("dst"))
            .dropDuplicates(["src", "dst"])
            .withColumn("weight", F.lit(1.0))
            .withColumn("etype", F.lit(1).cast("int"))
        )

    return _shared(spark, sf_dir, "derived_edges", build)


_EDGES_SQL = f"""
  SELECT DISTINCT (o_custkey % {_GRAPH_MOD})::BIGINT AS src,
                  (o_orderkey % {_GRAPH_MOD})::BIGINT AS dst
  FROM orders WHERE (o_custkey % {_GRAPH_MOD}) <> (o_orderkey % {_GRAPH_MOD})
"""

_VERTS_SQL = "SELECT src AS id FROM edges_d UNION SELECT dst FROM edges_d"

# DuckDB mirror of functions.text.hash64 (first 15 md5 hex digits as bigint)
def _h64_sql(expr: str) -> str:
    return (
        "list_reduce(list_transform(string_split_regex(substr(md5(" + expr + "),1,15), ''),"
        " c -> strpos('0123456789abcdef', c)::BIGINT - 1), (a,b) -> a*16+b)"
    )


_TOKS_SQL = "list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')"


def _shingles_sql(toks: str = "tk") -> str:
    return (
        f"CASE WHEN len({toks}) >= 3 THEN "
        f"list_distinct(list_transform(range(1, len({toks})-1), "
        f"i -> {toks}[i] || ' ' || {toks}[i+1] || ' ' || {toks}[i+2])) "
        f"ELSE [] END"
    )


# ---------------------------------------------------------------------------
# relational operator family (SURVEY.md §2.2-2.7)
# ---------------------------------------------------------------------------


def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A4 aggregations (TPC-H Q1 shape), decimal-exact money math."""
    li = _t(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - dec("l_discount")))
            .cast("double")
            .alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
            F.countDistinct("l_orderkey").alias("n_orders"),
        )
    )


def q02_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F11: isin filter + projection (reference get_identifier_of_interest)."""
    c = _t(spark, sf_dir, "customer")
    return c.where(F.col("c_nationkey").isin(1, 2, 3)).select(
        "c_custkey", "c_nationkey", "c_mktsegment"
    )


def q03_regex_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7/F8: regex identifier classification (reference match_input_datasource)."""
    p = _t(spark, sf_dir, "part")
    return (
        p.select(
            F.when(F.col("p_name").rlike("^[a-f]"), F.lit("head_af"))
            .when(F.col("p_name").rlike("ing$"), F.lit("tail_ing"))
            .otherwise(F.lit("other"))
            .alias("cls")
        )
        .groupBy("cls")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q04_collapse_nest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1+A1+A2: the reference collapse_data_sources — left-join + group-
    collect, nested list rendered as a deterministic sorted join string."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(
            F.array_join(
                F.array_sort(F.collect_list(F.col("o_orderkey").cast("string"))), ","
            ).alias("order_keys"),
            F.count(F.col("o_orderkey")).alias("n_orders"),
        )
    )


def q05_outer_combine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: combine_sources full-outer accumulation of two 'annotators'."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    a = o.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    b = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("total_qty"))
    )
    return a.join(b, "k", "full_outer").select(
        "k",
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        F.coalesce("total_qty", F.lit(0.0)).alias("total_qty"),
    )


def q06_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6: left-semi (customers having orders), counted per nation."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o.select(F.col("o_custkey").alias("c_custkey")), "c_custkey", "left_semi")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q07_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U4/J11: left-anti (customers with no orders)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o.select(F.col("o_custkey").alias("c_custkey")), "c_custkey", "left_anti")
        .select("c_custkey", "c_nationkey")
    )


def q08_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: global top-k with deterministic tie-break (TakeOrdered)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_custkey"))
        .limit(20)
    )


def q09_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: per-group top-3 via row_number window."""
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        c.withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= 3)
        .select("c_nationkey", "c_custkey", "c_acctbal", "rn")
    )


def q10_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1/U3: union + distinct across two id sources."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    big = c.where(F.col("c_acctbal") > 9000).select(F.col("c_custkey").alias("id"))
    urgent = o.where(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("id")
    )
    return big.union(urgent).distinct()


def q11_value_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: histogram (reference node/edge type value_counts)."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("count"))


def q12_dedup_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: dropDuplicates-then-count per group."""
    e = _t(spark, sf_dir, "events")
    return (
        e.dropDuplicates(["user_id", "event_type"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def q13_hash_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4: deterministic content hashing (md5 + 60-bit int form)."""
    from pybiodatafuse_spark.functions.text import hash64

    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.md5(F.col("c_name")).alias("name_md5"),
        hash64(F.col("c_name")).alias("name_h64"),
    )


def q14_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5/C3: JSON field extraction + numeric cast + coalesce."""
    e = _t(spark, sf_dir, "events")
    return (
        e.select(
            F.coalesce(
                F.get_json_object(F.col("props"), "$.k").cast("long"), F.lit(-1)
            ).alias("k")
        )
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q15_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G12 pattern: explode + project + re-aggregate (top-30 tokens)."""
    from pybiodatafuse_spark.functions.text import tokens

    d = _t(spark, sf_dir, "documents")
    return (
        d.select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(30)
    )


# ---------------------------------------------------------------------------
# graph family (north rule G4/G14) on the derived edge table
# ---------------------------------------------------------------------------


def q16_degree_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13/G6: degree distribution."""
    e = _derived_edges(spark, sf_dir)
    return (
        e.groupBy("src")
        .agg(F.count(F.lit(1)).alias("deg"))
        .groupBy("deg")
        .agg(F.count(F.lit(1)).alias("n_vertices"))
    )


def q17_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G14 triangle counting: degree-ordered orientation + self-joins."""
    from pybiodatafuse_spark.plans.triangles import triangles

    e = _derived_edges(spark, sf_dir)
    total, _ = triangles(spark, e)
    return spark.createDataFrame([(int(total),)], "n_triangles long")


def q18_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G4: connected components (min-label flooding)."""
    from pybiodatafuse_spark.plans.components import components

    e = _derived_edges(spark, sf_dir)
    return components(spark, e).select("id", "component")


def q19_pagerank5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G14 PageRank, 5 fixed supersteps (SQL-unrollable for the oracle)."""
    from pybiodatafuse_spark.plans.pagerank import pagerank

    e = _derived_edges(spark, sf_dir)
    res = pagerank(spark, e, tol=None, max_iter=5, hub_threshold=50, num_salts=4)
    return res.state.select("id", F.round(F.col("rank"), 6).alias("rank_r6"))


def q20_label_propagation3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G14 LPA, 3 fixed supersteps."""
    from pybiodatafuse_spark.plans.labelprop import label_propagation

    e = _derived_edges(spark, sf_dir)
    return label_propagation(spark, e, max_iter=3).select("id", "label")


# ---------------------------------------------------------------------------
# training-data pipeline: text analysis / dedup / similarity
# ---------------------------------------------------------------------------


def q21_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + char stats per document."""
    from pybiodatafuse_spark.functions.text import tokens

    d = _t(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    total_len = F.aggregate(toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t))
    return d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.col("n_chars").cast("long").alias("n_chars"),
        F.round(total_len / F.size(toks), 6).alias("avg_token_len"),
    )


def q22_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality scoring."""
    from pybiodatafuse_spark.functions.text import quality_score

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", quality_score(F.col("text")).alias("quality"))


def q23_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-voting language id, confusion counts vs the labeled lang."""
    from pybiodatafuse_spark.functions.text import predict_lang

    d = _t(spark, sf_dir, "documents")
    return (
        d.select("lang", predict_lang(F.col("text")).alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q24_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: content hash + duplicate-group size per doc."""
    d = _t(spark, sf_dir, "documents")
    h = d.select("doc_id", F.md5(F.col("text")).alias("content_hash"))
    g = h.groupBy("content_hash").agg(F.count(F.lit(1)).alias("group_size"))
    return h.join(g, "content_hash").select("doc_id", "content_hash", "group_size")


def q25_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidate pairs (k=8 sigs, 4 bands of 2)."""
    from pybiodatafuse_spark.operators.dedup import minhash_lsh_pairs

    d = _t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(d, k=8, bands=4, n=3).select(
        "doc_a", "doc_b", "n_bands"
    )


def q26_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document."""
    from pybiodatafuse_spark.operators.dedup import simhash_docs

    d = _t(spark, sf_dir, "documents")
    return simhash_docs(d).select("doc_id", "simhash")


def q27_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram Jaccard near-dup pairs (3-gram shingles, threshold 0.5)."""
    from pybiodatafuse_spark.operators.dedup import ngram_jaccard_pairs

    d = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(d, n=3, threshold=0.5, max_shingle_df=100).select(
        "doc_a", "doc_b", "jaccard"
    )


def q28_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbors for the first 10 vectors."""
    from pybiodatafuse_spark.operators.similarity import brute_force_topk

    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    res = brute_force_topk(e, q, k=5)
    return res.select("query_id", "vec_id", "cos", F.col("rn").cast("long").alias("rn"))


def q29_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs within label blocks (cos ≥ 0.3)."""
    from pybiodatafuse_spark.operators.dedup import embedding_near_dup_pairs

    e = _t(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(e, threshold=0.3).select("id_a", "id_b", "cos")


def q30_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation (batch shape of the streaming job)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
    )


def q31_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: 30-min-gap sessions via lag + running sum windows."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / 1_000_000)
    gap = epoch - F.lag(epoch, 1).over(w)
    sess = F.sum(
        F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    ).over(w)
    return (
        e.withColumn("session_id", sess.cast("long"))
        .groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


def q32_lsh_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-5 (scale path; no SQL oracle — the
    hyperplane constants are impractical to inline in SQL)."""
    from pybiodatafuse_spark.operators.similarity import lsh_topk

    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    res = lsh_topk(e, q, k=5, dim=64, bits_per_band=4, n_bands=4)
    return res.select("query_id", "vec_id", "cos", F.col("rn").cast("long").alias("rn"))


def q33_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: binary payloads → mapInPandas feature extraction
    (deterministic fake decoder; no SQL oracle — Arrow UDF pipeline)."""
    from pybiodatafuse_spark.operators.multimodal import extract_features, synth_media

    media = synth_media(spark, 64)
    feats = extract_features(media, decode_fn="fake")
    return feats.select(
        "media_id",
        "n_bytes",
        F.round(F.element_at("features", 1).cast("double"), 4).alias("f0"),
    )


def q34_hierarchy_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8: transitive closure via checkpointed path-doubling self-joins,
    on a synthetic part-key tree (child k → parent floor(k/5), k > 0)."""
    from pybiodatafuse_spark.operators.hierarchy import transitive_closure

    p = _t(spark, sf_dir, "part")
    h = p.where(F.col("p_partkey") > 0).select(
        F.col("p_partkey").alias("child"),
        F.floor(F.col("p_partkey") / 5).cast("long").alias("parent"),
    )
    return transitive_closure(h, max_depth=16).select("node", "ancestor")


def q35_existence_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J10: existence-labelled pairs (cross join × edge left-join)."""
    from pybiodatafuse_spark.operators.hierarchy import label_pairs_by_edge

    e = _derived_edges(spark, sf_dir)
    nodes = e.select(F.col("src").alias("id")).distinct().where(F.col("id") < 20)
    pairs = nodes.select(F.col("id").alias("a")).crossJoin(
        nodes.select(F.col("id").alias("b"))
    ).where(F.col("a") != F.col("b"))
    return label_pairs_by_edge(pairs, e).select("a", "b", "label")


def q36_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G7: deterministic hash-seeded weighted random walks (rows-only check:
    the CDF-inversion loop is not SQL-expressible; exactness is covered by
    tests/test_walks.py against a pure-Python oracle)."""
    from pybiodatafuse_spark.plans.walks import random_walks

    e = _derived_edges(spark, sf_dir)
    starts = e.select(F.col("src").alias("id")).distinct().where(F.col("id") < 50)
    walks = random_walks(spark, e, starts, num_walks=2, walk_length=6)
    return walks.select(
        "walk_id", "start", F.size("path").cast("long").alias("path_len"),
        F.element_at("path", -1).alias("last")
    )


def q37_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5: hash-mod sampling — reproducible negative-sampling primitive."""
    from pybiodatafuse_spark.operators.hierarchy import deterministic_sample

    o = _t(spark, sf_dir, "orders")
    return deterministic_sample(o, "o_orderkey", mod=10, keep=0).select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )


def q39_ic_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G11: Jiang–Conrath similarity over the part-key tree (nodes < 400)."""
    from pybiodatafuse_spark.operators.ic_similarity import jiang_conrath_similarity

    p = _t(spark, sf_dir, "part")
    h = p.where((F.col("p_partkey") > 0) & (F.col("p_partkey") < 400)).select(
        F.col("p_partkey").alias("child"),
        F.floor(F.col("p_partkey") / 5).cast("long").alias("parent"),
    )
    sim = jiang_conrath_similarity(h)
    return sim.select("a", "b", F.round("sim", 6).alias("sim")).where(
        F.col("sim") >= 0.25
    )


def q40_pagerank5_hubfree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G14 PageRank, 5 fixed supersteps at the default ``hub_threshold``
    (1000): above the derived graph's out-degrees (at most 210 over 211
    ids), so this gates the unsalted hub-free join that bench.py and
    perfbench run, where q19 gates the salted one. Same SQL oracle as q19."""
    from pybiodatafuse_spark.plans.pagerank import pagerank

    e = _derived_edges(spark, sf_dir)
    res = pagerank(spark, e, tol=None, max_iter=5)
    return res.state.select("id", F.round(F.col("rank"), 6).alias("rank_r6"))


def q41_ivf_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN scale path: 16 deterministic centroid cells, nprobe=4 —
    value-exact oracle (cell assignment + probe + top-k all in SQL)."""
    from pybiodatafuse_spark.operators.similarity import ivf_topk

    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    res = ivf_topk(e, q, k=5, n_centroids=16, nprobe=4)
    return res.select("query_id", "vec_id", "cos", F.col("rn").cast("long").alias("rn"))


def q42_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G10: link-prediction candidate scoring — anti-join known pairs,
    ensemble-averaged sigmoid(cosine) scores, top-5 per source (the
    DREAMwalk find_candidates pipeline shape)."""
    from pybiodatafuse_spark.operators.linkpred import find_candidates

    e = _t(spark, sf_dir, "embeddings")
    sources = e.where(F.col("vec_id") < 10).select("vec_id")
    targets = e.where((F.col("vec_id") >= 100) & (F.col("vec_id") < 150)).select("vec_id")
    # deterministic stand-in for the reference's known-association file
    known = (
        sources.select(F.col("vec_id").alias("src"))
        .crossJoin(targets.select(F.col("vec_id").alias("dst")))
        .where((F.col("src") + F.col("dst")) % 7 == 0)
    )
    res = find_candidates(e, sources, targets, known, k=5, n_models=3)
    return res.select("src", "dst", "avg_prob", F.col("rn").cast("long").alias("rn"))


def q43_skipgram_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G9: skip-gram (SGNS) node embeddings over random walks — distributed
    per-partition training + parameter averaging. No SQL oracle (iterative
    SGD); determinism + community-recovery exactness in tests/test_embeddings."""
    from pybiodatafuse_spark.plans.embeddings import skipgram_embeddings
    from pybiodatafuse_spark.plans.walks import random_walks

    e = _derived_edges(spark, sf_dir).where((F.col("src") < 40) & (F.col("dst") < 40))
    starts = e.select(F.col("src").alias("id")).distinct()
    walks = random_walks(spark, e, starts, num_walks=2, walk_length=6)
    emb = skipgram_embeddings(spark, walks, dim=8, epochs=1, partitions=8)
    return emb.select(
        "id", F.round(F.element_at("vector", 1), 6).alias("v0"),
        F.lit(8).alias("dim"),
    )


def q44_biased_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G7 first-order semantics: edge-type-biased walks with static-list
    teleport (p=q=1 DREAMwalk traversal; the full second-order p/q + weighted
    sim-teleport path is gated separately as q48)."""
    from pybiodatafuse_spark.plans.walks import biased_random_walks

    e = _derived_edges(spark, sf_dir).where((F.col("src") < 30) & (F.col("dst") < 30))
    e = e.withColumn("etype", (F.col("dst") % 2).cast("int"))
    starts = e.select(F.col("src").alias("id")).distinct()
    M = [[0.7, 0.3], [0.2, 0.8]]
    res = biased_random_walks(
        spark, e, starts, M, num_walks=2, walk_length=6,
        teleport=0.1, teleport_targets=list(range(10)),
    )
    return res.select("walk_id", "start", F.size("path").cast("long").alias("path_len"))


def q48_node2vec_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G7 FULL DREAMwalk traversal: edge-type transition bias + node2vec
    p/q second-order weighting (reference generate_embeddings.py:210-227)
    + weighted similarity-graph teleport with stale edge type (:234-263).
    Oracle: independent sequential reimplementation (oracle_py.q48_expected)
    inlined as SQL VALUES — the q43 pattern."""
    from pybiodatafuse_spark.plans.walks import biased_random_walks

    e = (
        _derived_edges(spark, sf_dir)
        .where((F.col("src") < 40) & (F.col("dst") < 40))
        .select(
            "src",
            "dst",
            (F.lit(1.0) + (F.col("src") + F.col("dst")) % 3).alias("weight"),
            (F.col("dst") % 2).cast("int").alias("etype"),
        )
    )
    sim = e.where((F.col("src") + F.col("dst")) % 4 == 0).select(
        "src", "dst", (F.lit(1.0) + F.col("dst") % 2).alias("weight")
    )
    starts = e.select(F.col("src").alias("id")).distinct()
    M = [[0.6, 0.4], [0.3, 0.7]]
    res = biased_random_walks(
        spark, e, starts, M, num_walks=2, walk_length=6,
        p=0.25, q=4.0, teleport=0.2, sim_edges=sim,
    )
    return res.select(
        "walk_id",
        "start",
        F.size("path").cast("long").alias("path_len"),
        F.element_at("path", -1).alias("last"),
    )


def _node2vec_walks_sql() -> str:
    """q48 oracle: sequential-oracle rows inlined as VALUES (q43 pattern)."""
    import oracle_py

    rows = ", ".join(
        f"({w}, {s}, {n}, {l})"
        for w, s, n, l in oracle_py.q48_expected("/root/testdata/sf0.01")
    )
    return f"""
SELECT wid::BIGINT AS walk_id, s::BIGINT AS start,
       n::BIGINT AS path_len, l::BIGINT AS last
FROM (VALUES {rows}) AS t(wid, s, n, l)
"""


def q38_rdf_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K6: N-Triples projection of the derived graph."""
    from pybiodatafuse_spark.sinks.rdf import edge_triples

    e = _derived_edges(spark, sf_dir).where(F.col("src") < 30)
    return edge_triples(e).select("triple")


def q46_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite dedup pipeline stage: MinHash+LSH pair graph → connected
    components → QUALITY-argmax canonical doc per near-dup cluster (keep
    the best doc, not the lowest id — the operator a real training-data
    pipeline runs end-to-end)."""
    from pybiodatafuse_spark.operators.dedup import near_dup_clusters

    d = _t(spark, sf_dir, "documents")
    c = near_dup_clusters(d, k=8, bands=4, n=3)
    return c.select(
        "doc_id", "cluster_id", F.col("is_canonical").cast("int").alias("is_canonical")
    )


def q47_prediction_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G10 evaluation (reference predict_associations.return_scores):
    distributed accuracy / ROC-AUC / average-precision / F1 over a
    deterministic scored pair set (sigmoid(cos), label = known-pair rule)."""
    from pybiodatafuse_spark.operators.linkpred import evaluate_predictions
    from pybiodatafuse_spark.operators.similarity import cosine_expr

    e = _t(spark, sf_dir, "embeddings")
    srcs = e.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("src"), F.col("embedding").alias("sv")
    )
    dsts = e.where((F.col("vec_id") >= 100) & (F.col("vec_id") < 150)).select(
        F.col("vec_id").alias("dst"), F.col("embedding").alias("dv")
    )
    scored = srcs.crossJoin(dsts).select(
        (1.0 / (1.0 + F.exp(-cosine_expr(F.col("sv"), F.col("dv"))))).alias("score"),
        ((F.col("src") + F.col("dst")) % 7 == 0).cast("int").alias("label"),
    )
    m = evaluate_predictions(scored)
    return spark.createDataFrame(
        [tuple(round(m[k], 6) for k in ("accuracy", "roc_auc", "avg_precision", "f1"))],
        "accuracy double, roc_auc double, avg_precision double, f1 double",
    )


def _metrics_sql() -> str:
    """q47 oracle: the same metrics in the per-distinct-score grouped form
    the engine uses — Mann–Whitney U from (pos, tied-neg) prefix counts for
    AUC, sklearn threshold-step AP (tie-correct and deterministic: no
    per-row rank windows on either side)."""
    cos = _cos_sql("s.sv", "t.dv")
    return f"""
WITH s AS (SELECT vec_id AS src, embedding AS sv FROM embeddings WHERE vec_id < 10),
t AS (SELECT vec_id AS dst, embedding AS dv FROM embeddings WHERE vec_id >= 100 AND vec_id < 150),
sc AS (
  SELECT 1.0/(1.0 + exp(-({cos}))) AS sco,
         CASE WHEN (s.src + t.dst) % 7 = 0 THEN 1.0 ELSE 0.0 END AS y
  FROM s CROSS JOIN t
),
g AS (
  SELECT sco, sum(y) AS pos_s, count(*)::DOUBLE AS cnt_s
  FROM sc GROUP BY sco
),
c AS (
  SELECT sco, pos_s, cnt_s,
         coalesce(sum(pos_s) OVER (ORDER BY sco ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pos_below,
         coalesce(sum(cnt_s) OVER (ORDER BY sco ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cnt_below
  FROM g
),
tot AS (SELECT sum(cnt_s) AS n, sum(pos_s) AS npos FROM g),
agg AS (
  SELECT sum(pos_s * ((cnt_below - pos_below) + 0.5 * (cnt_s - pos_s))) AS u,
         sum(pos_s * (tot.npos - pos_below) / (tot.n - cnt_below)) AS ap_sum,
         sum(CASE WHEN sco >= 0.5 THEN pos_s ELSE 0 END) AS tp,
         sum(CASE WHEN sco >= 0.5 THEN cnt_s - pos_s ELSE 0 END) AS fp,
         sum(CASE WHEN sco < 0.5 THEN pos_s ELSE 0 END) AS fn,
         max(tot.n) AS n, max(tot.npos) AS npos
  FROM c CROSS JOIN tot
)
SELECT round((tp + (n - npos - fp)) / n, 6) AS accuracy,
       round(u / (npos * (n - npos)), 6) AS roc_auc,
       round(ap_sum / npos, 6) AS avg_precision,
       round(CASE WHEN tp = 0 THEN 0.0 ELSE
         2.0 * (tp/(tp+fp)::DOUBLE) * (tp/(tp+fn)::DOUBLE)
         / ((tp/(tp+fp)::DOUBLE) + (tp/(tp+fn)::DOUBLE)) END, 6) AS f1
FROM agg
"""


def q45_rdf_full_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K6 full parity: typed node triples + escaped label literals + edge
    triples + metadata/provenance triples (reference graph/rdf/rdf.py
    generate_rdf + graph/rdf/metadata.py add_metadata), fixed created
    timestamp for determinism."""
    from pybiodatafuse_spark.sinks.rdf import generate_rdf

    e = _derived_edges(spark, sf_dir).where((F.col("src") < 30) & (F.col("dst") < 30))
    v = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
        .select(
            "id",
            F.concat(F.lit("node "), F.col("id").cast("string")).alias("label"),
            F.when(F.col("id") % 2 == 0, F.lit("even")).otherwise(F.lit("odd")).alias("type"),
        )
    )
    return generate_rdf(
        spark, v, e, attrs={"label": "string"},
        title="derived graph", author="bdf", datasources=["orders"],
        created="2026-01-01T00:00:00Z",
    ).select("triple")


def q49_shacl_shapes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K6 tail — frequency-mined SHACL node shapes (the reference's shexer
    all-classes shape mining, graph/rdf/rdf.py:1164-1189): per node type a
    sh:NodeShape with sh:targetClass, a datatype property constraint per
    vertex attribute, and a nodeKind IRI constraint for the edge predicate,
    with sh:minCount 1 exactly when the property covers every instance.
    ONE groupBy over the vertex table + a semi-join degree probe — O(#types)
    output; same deterministic graph as q45."""
    from pybiodatafuse_spark.sinks.rdf import shacl_shapes

    e = _derived_edges(spark, sf_dir).where((F.col("src") < 30) & (F.col("dst") < 30))
    v = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
        .select(
            "id",
            F.concat(F.lit("node "), F.col("id").cast("string")).alias("label"),
            F.when(F.col("id") % 2 == 0, F.lit("even")).otherwise(F.lit("odd")).alias("type"),
        )
    )
    return shacl_shapes(v, e, attrs={"label": "string"}).select("triple")


def q72_shex_shapes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K6 tail, part 2 — ShEx schema export (the reference's shexer-backed
    ``Graph.shex``, graph/rdf/rdf.py:1135-1163): the SAME frequency-mined
    shape data as q49, serialized as ShExC shape declarations — per node
    type one (shape, shex) row, constraint accepted at threshold 0.001,
    cardinality `+` exactly on total coverage (the sh:minCount 1 rule),
    else `*`. Same deterministic graph as q45/q49; serialization is a pure
    column projection."""
    from pybiodatafuse_spark.sinks.rdf import shex_shapes

    e = _derived_edges(spark, sf_dir).where((F.col("src") < 30) & (F.col("dst") < 30))
    v = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
        .select(
            "id",
            F.concat(F.lit("node "), F.col("id").cast("string")).alias("label"),
            F.when(F.col("id") % 2 == 0, F.lit("even")).otherwise(F.lit("odd")).alias("type"),
        )
    )
    return shex_shapes(v, e, attrs={"label": "string"}).select("shape", "shex")


def _shex_sql() -> str:
    """q72 oracle: the same mining + ShExC serialization in plain SQL
    (concat_ws skips the NULL of a rejected constraint, exactly as
    array_join does Spark-side)."""
    rdfs_label = "http://www.w3.org/2000/01/rdf-schema#label"
    xsd_s = "http://www.w3.org/2001/XMLSchema#string"
    return f"""
WITH edges_d AS (SELECT * FROM ({_EDGES_SQL}) WHERE src < 30 AND dst < 30),
verts AS (
  SELECT id, 'node ' || id AS label,
         CASE WHEN id % 2 = 0 THEN 'even' ELSE 'odd' END AS typ
  FROM ({_VERTS_SQL})
),
agg AS (
  SELECT typ, count(*)::DOUBLE AS n, count(label)::DOUBLE AS c_label,
         sum(CASE WHEN EXISTS (SELECT 1 FROM edges_d e WHERE e.src = v.id)
             THEN 1 ELSE 0 END)::DOUBLE AS c_out
  FROM verts v GROUP BY typ
)
SELECT 'urn:bdf:shape:' || typ AS shape,
       '<urn:bdf:shape:' || typ || '> {{' || chr(10) ||
       concat_ws(' ;' || chr(10),
         CASE WHEN c_label / n >= 0.001
              THEN '  <{rdfs_label}> <{xsd_s}> '
                   || (CASE WHEN c_label = n THEN '+' ELSE '*' END) END,
         CASE WHEN c_out / n >= 0.001
              THEN '  <urn:bdf:pred:links_to> IRI '
                   || (CASE WHEN c_out = n THEN '+' ELSE '*' END) END
       ) || chr(10) || '}}' AS shex
FROM agg
"""


def _shacl_sql() -> str:
    """q49 oracle: the same frequency mining in plain SQL — per-type counts,
    property acceptance at threshold 0.001, minCount when coverage is total."""
    sh = "http://www.w3.org/ns/shacl#"
    rdf_type = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    rdfs_label = "http://www.w3.org/2000/01/rdf-schema#label"
    xsd_s = "http://www.w3.org/2001/XMLSchema#string"
    return f"""
WITH edges_d AS (SELECT * FROM ({_EDGES_SQL}) WHERE src < 30 AND dst < 30),
verts AS (
  SELECT id, 'node ' || id AS label,
         CASE WHEN id % 2 = 0 THEN 'even' ELSE 'odd' END AS typ
  FROM ({_VERTS_SQL})
),
agg AS (
  SELECT typ, count(*)::DOUBLE AS n, count(label)::DOUBLE AS c_label,
         sum(CASE WHEN EXISTS (SELECT 1 FROM edges_d e WHERE e.src = v.id)
             THEN 1 ELSE 0 END)::DOUBLE AS c_out
  FROM verts v GROUP BY typ
)
SELECT triple FROM (
  SELECT '<urn:bdf:shape:' || typ || '> <{rdf_type}> <{sh}NodeShape> .' AS triple FROM agg
  UNION ALL
  SELECT '<urn:bdf:shape:' || typ || '> <{sh}targetClass> <urn:bdf:type:' || typ || '> .' FROM agg
  UNION ALL
  SELECT '<urn:bdf:shape:' || typ || '> <{sh}property> <urn:bdf:shape:' || typ || ':prop:label> .'
  FROM agg WHERE c_label / n >= 0.001
  UNION ALL
  SELECT '<urn:bdf:shape:' || typ || ':prop:label> <{sh}path> <{rdfs_label}> .'
  FROM agg WHERE c_label / n >= 0.001
  UNION ALL
  SELECT '<urn:bdf:shape:' || typ || ':prop:label> <{sh}datatype> <{xsd_s}> .'
  FROM agg WHERE c_label / n >= 0.001
  UNION ALL
  SELECT '<urn:bdf:shape:' || typ || ':prop:label> <{sh}minCount> 1 .'
  FROM agg WHERE c_label / n >= 0.001 AND c_label = n
  UNION ALL
  SELECT '<urn:bdf:shape:' || typ || '> <{sh}property> <urn:bdf:shape:' || typ || ':prop:links_to> .'
  FROM agg WHERE c_out / n >= 0.001
  UNION ALL
  SELECT '<urn:bdf:shape:' || typ || ':prop:links_to> <{sh}path> <urn:bdf:pred:links_to> .'
  FROM agg WHERE c_out / n >= 0.001
  UNION ALL
  SELECT '<urn:bdf:shape:' || typ || ':prop:links_to> <{sh}nodeKind> <{sh}IRI> .'
  FROM agg WHERE c_out / n >= 0.001
  UNION ALL
  SELECT '<urn:bdf:shape:' || typ || ':prop:links_to> <{sh}minCount> 1 .'
  FROM agg WHERE c_out / n >= 0.001 AND c_out = n
)
"""


# ---------------------------------------------------------------------------
# SQL oracle generators for the unrolled iterative queries
# ---------------------------------------------------------------------------


def _pagerank5_sql() -> str:
    d = 0.85
    parts = [
        f"WITH edges_d AS ({_EDGES_SQL}),",
        f"verts AS ({_VERTS_SQL}),",
        "outd AS (SELECT src AS id, count(*) AS od FROM edges_d GROUP BY 1),",
        "nv AS (SELECT count(*)::DOUBLE AS n FROM verts),",
        "r0 AS (SELECT id, 1.0/(SELECT n FROM nv) AS r FROM verts),",
    ]
    for k in range(5):
        parts.append(
            f"d{k} AS (SELECT coalesce(sum(r.r), 0) AS m FROM r{k} r "
            f"LEFT JOIN outd o ON r.id = o.id WHERE o.id IS NULL),"
        )
        parts.append(
            f"c{k} AS (SELECT e.dst AS id, sum(r.r / o.od) AS c FROM edges_d e "
            f"JOIN r{k} r ON e.src = r.id JOIN outd o ON e.src = o.id GROUP BY 1),"
        )
        parts.append(
            f"r{k + 1} AS (SELECT v.id, (1 - {d})/(SELECT n FROM nv) + "
            f"{d} * ((SELECT m FROM d{k})/(SELECT n FROM nv) + coalesce(c.c, 0)) AS r "
            f"FROM verts v LEFT JOIN c{k} c ON v.id = c.id),"
        )
    parts[-1] = parts[-1].rstrip(",")
    parts.append("SELECT id, round(r, 6) AS rank_r6 FROM r5")
    return "\n".join(parts)


def _lpa3_sql() -> str:
    parts = [
        f"WITH edges_d AS ({_EDGES_SQL}),",
        f"verts AS ({_VERTS_SQL}),",
        "sym AS (SELECT src AS u, dst AS v FROM edges_d UNION "
        "SELECT dst, src FROM edges_d),",
        "l0 AS (SELECT id, id AS lab FROM verts),",
    ]
    for k in range(3):
        parts.append(
            f"cnt{k} AS (SELECT s.v AS id, l.lab, count(*) AS c FROM sym s "
            f"JOIN l{k} l ON s.u = l.id GROUP BY 1, 2),"
        )
        parts.append(
            f"win{k} AS (SELECT id, lab, row_number() OVER "
            f"(PARTITION BY id ORDER BY c DESC, lab ASC) AS rn FROM cnt{k}),"
        )
        parts.append(
            f"l{k + 1} AS (SELECT l.id, coalesce(w.lab, l.lab) AS lab FROM l{k} l "
            f"LEFT JOIN win{k} w ON l.id = w.id AND w.rn = 1),"
        )
    parts[-1] = parts[-1].rstrip(",")
    parts.append("SELECT id, lab AS label FROM l3")
    return "\n".join(parts)


def _components_sql() -> str:
    return f"""
WITH RECURSIVE edges_d AS ({_EDGES_SQL}),
verts AS ({_VERTS_SQL}),
sym AS (SELECT src AS u, dst AS v FROM edges_d UNION SELECT dst, src FROM edges_d),
reach(id, comp) AS (
  SELECT id, id FROM verts
  UNION
  SELECT s.v, r.comp FROM reach r JOIN sym s ON s.u = r.id
)
SELECT id, min(comp) AS component FROM reach GROUP BY id
"""


def _triangles_sql() -> str:
    return f"""
WITH edges_d AS ({_EDGES_SQL}),
sym AS (SELECT src, dst FROM edges_d UNION SELECT dst, src FROM edges_d),
deg AS (SELECT src AS id, count(*) AS d FROM sym GROUP BY 1),
half AS (SELECT src, dst FROM sym WHERE src < dst),
oriented AS (
  SELECT CASE WHEN (ds.d < dd.d) OR (ds.d = dd.d AND h.src < h.dst) THEN h.src ELSE h.dst END AS u,
         CASE WHEN (ds.d < dd.d) OR (ds.d = dd.d AND h.src < h.dst) THEN h.dst ELSE h.src END AS v,
         CASE WHEN (ds.d < dd.d) OR (ds.d = dd.d AND h.src < h.dst) THEN dd.d ELSE ds.d END AS dv
  FROM half h JOIN deg ds ON h.src = ds.id JOIN deg dd ON h.dst = dd.id
),
wedges AS (
  SELECT e1.u, e1.v AS v1, e2.v AS v2
  FROM oriented e1 JOIN oriented e2 ON e1.u = e2.u
  WHERE (e1.dv < e2.dv) OR (e1.dv = e2.dv AND e1.v < e2.v)
)
SELECT count(*)::BIGINT AS n_triangles
FROM wedges w JOIN oriented e ON w.v1 = e.u AND w.v2 = e.v
"""


_STOP = {
    "en": ["the", "a", "and", "of", "to", "in", "for", "with", "on", "is"],
    "de": ["der", "die", "das", "und", "zu", "mit", "von", "ist", "ein", "nicht"],
    "fr": ["le", "la", "et", "de", "un", "une", "est", "pour", "avec", "dans"],
    "es": ["el", "la", "y", "de", "un", "una", "es", "para", "con", "en"],
}


def _stoplist_sql(lang: str) -> str:
    return "[" + ", ".join(f"'{w}'" for w in _STOP[lang]) + "]"


def _langid_sql() -> str:
    hits = ",\n".join(
        f"len(list_filter(tk, t -> list_contains({_stoplist_sql(l)}, t))) AS h_{l}"
        for l in sorted(_STOP)
    )
    first_max = (
        "CASE WHEN h_de = mx THEN 'de' WHEN h_en = mx THEN 'en' "
        "WHEN h_es = mx THEN 'es' ELSE 'fr' END"
    )
    return f"""
WITH toks AS (SELECT doc_id, lang, {_TOKS_SQL} AS tk FROM documents),
hits AS (SELECT doc_id, lang, {hits} FROM toks),
pred AS (
  SELECT lang,
         CASE WHEN mx > 0 THEN {first_max} ELSE 'und' END AS predicted
  FROM (SELECT *, greatest(h_de, h_en, h_es, h_fr) AS mx FROM hits)
)
SELECT lang, predicted, count(*)::BIGINT AS n FROM pred GROUP BY 1, 2
"""


def _quality_sql() -> str:
    en = _stoplist_sql("en")
    return f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS tk FROM documents),
m AS (
  SELECT doc_id,
         len(tk) AS n,
         CASE WHEN len(tk) > 0 THEN
           list_reduce(list_transform(tk, t -> len(t)::BIGINT), (a,b) -> a+b) / len(tk)
         ELSE 0 END AS avg_len,
         CASE WHEN len(tk) > 0 THEN
           len(list_filter(tk, t -> list_contains({en}, t))) / len(tk)
         ELSE 0.0 END AS stop_ratio
  FROM toks
)
SELECT doc_id,
       round((least(n / 100.0, 1.0) + least(avg_len / 6.0, 1.0) +
              least(stop_ratio * 4.0, 1.0)) / 3.0, 6) AS quality
FROM m
"""


def _simhash_sql() -> str:
    return f"""
WITH toks AS (SELECT doc_id, unnest({_TOKS_SQL}) AS t FROM documents),
h AS (SELECT doc_id, {_h64_sql('t')} AS hv FROM toks),
bits AS (
  SELECT doc_id, b.bit, sum(CASE WHEN (hv >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS vote
  FROM h CROSS JOIN (SELECT unnest(range(16)) AS bit) b GROUP BY 1, 2
)
SELECT doc_id, sum(CASE WHEN vote > 0 THEN (1::BIGINT << bit) ELSE 0 END)::BIGINT AS simhash
FROM bits GROUP BY doc_id
"""


def _minhash_sql() -> str:
    return f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS tk FROM documents),
sh AS (SELECT doc_id AS doc, unnest({_shingles_sql("tk")}) AS s FROM toks),
hashes AS (
  SELECT doc, j, {_h64_sql("s || '#' || j::VARCHAR")} AS hv
  FROM sh CROSS JOIN (SELECT unnest(range(8)) AS j) seeds
),
sig AS (SELECT doc, j, min(hv) AS mh FROM hashes GROUP BY 1, 2),
bands AS (
  SELECT doc, (j // 2) AS band, string_agg(mh::VARCHAR, '_' ORDER BY j) AS bucket
  FROM sig GROUP BY 1, 2
)
SELECT a.doc AS doc_a, b.doc AS doc_b, count(*)::BIGINT AS n_bands
FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.doc < b.doc
GROUP BY 1, 2
"""


def _jaccard_sql() -> str:
    return f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS tk FROM documents),
sh AS (SELECT doc_id AS doc, unnest({_shingles_sql("tk")}) AS s FROM toks),
sizes AS (SELECT doc, count(*) AS sz FROM sh GROUP BY 1),
df_ok AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 100),
blocked AS (SELECT sh.doc, sh.s FROM sh JOIN df_ok USING (s)),
inter AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS i
  FROM blocked a JOIN blocked b ON a.s = b.s AND a.doc < b.doc
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, jaccard FROM (
  SELECT doc_a, doc_b, round(i / (sa.sz + sb.sz - i), 6) AS jaccard
  FROM inter
  JOIN sizes sa ON doc_a = sa.doc
  JOIN sizes sb ON doc_b = sb.doc
) WHERE jaccard >= 0.5
"""


_DOT = (
    "list_reduce(list_transform(range(1, 65), i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE), "
    "(x, y) -> x + y)"
)


def _cos_sql(a: str, b: str) -> str:
    return (
        f"{_DOT.format(a=a, b=b)} / "
        f"(sqrt({_DOT.format(a=a, b=a)}) * sqrt({_DOT.format(a=b, b=b)}))"
    )


def _knn_sql() -> str:
    return f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 10),
s AS (
  SELECT q.qid AS query_id, e.vec_id, round({_cos_sql('q.qv', 'e.embedding')}, 6) AS cos
  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.qid
),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rn FROM s)
SELECT query_id, vec_id, cos, rn FROM r WHERE rn <= 5
"""


def _ivf_sql() -> str:
    """IVF ANN oracle: centroids = 16 lowest-id vectors; assign = argmax
    rounded cosine (tie-break centroid_id); probes = top-4 cells per query;
    search only within probed cells. Mirrors operators/similarity.ivf_topk."""
    return f"""
WITH cents AS (
  SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings ORDER BY vec_id LIMIT 16
),
assign AS (
  SELECT vec_id, v, centroid_id FROM (
    SELECT e.vec_id, e.embedding AS v, c.centroid_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY round({_cos_sql('e.embedding', 'c.cv')}, 6) DESC, c.centroid_id ASC
           ) AS crn
    FROM embeddings e CROSS JOIN cents c
  ) WHERE crn = 1
),
probes AS (
  SELECT query_id, qv, centroid_id FROM (
    SELECT q.vec_id AS query_id, q.embedding AS qv, c.centroid_id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY round({_cos_sql('q.embedding', 'c.cv')}, 6) DESC, c.centroid_id ASC
           ) AS crn
    FROM (SELECT * FROM embeddings WHERE vec_id < 10) q CROSS JOIN cents c
  ) WHERE crn <= 4
),
s AS (
  SELECT p.query_id, a.vec_id, round({_cos_sql('p.qv', 'a.v')}, 6) AS cos
  FROM assign a JOIN probes p USING (centroid_id)
  WHERE a.vec_id <> p.query_id
),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rn FROM s)
SELECT query_id, vec_id, cos, rn FROM r WHERE rn <= 5
"""


def _linkpred_sql() -> str:
    """G10 oracle: anti-join of known pairs, 3-model sigmoid(cos + 0.1m)
    ensemble average, top-5 per source. Mirrors operators/linkpred."""
    cos = _cos_sql("s.ev_s", "t.ev_t")
    sig = "1.0/(1.0+exp(-({c} + {off}::DOUBLE)))"
    avg = "(" + " + ".join(
        sig.format(c=cos, off=off) for off in ("0.0", "0.1", "0.2")
    ) + ")/3.0"
    return f"""
WITH s AS (SELECT vec_id AS src, embedding AS ev_s FROM embeddings WHERE vec_id < 10),
t AS (SELECT vec_id AS dst, embedding AS ev_t FROM embeddings WHERE vec_id >= 100 AND vec_id < 150),
sc AS (
  SELECT s.src, t.dst, round({avg}, 6) AS avg_prob
  FROM s CROSS JOIN t
  WHERE s.src <> t.dst AND (s.src + t.dst) % 7 <> 0
),
r AS (SELECT *, row_number() OVER (PARTITION BY src ORDER BY avg_prob DESC, dst ASC) AS rn FROM sc)
SELECT src, dst, avg_prob, rn FROM r WHERE rn <= 5
"""


def _neardup_clusters_sql() -> str:
    """q46 oracle: MinHash+LSH pair graph (same banding as q25) → recursive
    connected components → min-id cluster labels + QUALITY-argmax canonical
    (highest quality_score in the cluster, tie-break lowest doc id)."""
    en = _stoplist_sql("en")
    return f"""
WITH RECURSIVE toks AS (SELECT doc_id, {_TOKS_SQL} AS tk FROM documents),
sh AS (SELECT doc_id AS doc, unnest({_shingles_sql("tk")}) AS s FROM toks),
hashes AS (
  SELECT doc, j, {_h64_sql("s || '#' || j::VARCHAR")} AS hv
  FROM sh CROSS JOIN (SELECT unnest(range(8)) AS j) seeds
),
sig AS (SELECT doc, j, min(hv) AS mh FROM hashes GROUP BY 1, 2),
bands AS (
  SELECT doc, (j // 2) AS band, string_agg(mh::VARCHAR, '_' ORDER BY j) AS bucket
  FROM sig GROUP BY 1, 2
),
pairs AS (
  SELECT DISTINCT a.doc AS u, b.doc AS v
  FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.doc < b.doc
),
sym AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
docs_all AS (SELECT DISTINCT doc_id AS id FROM documents),
reach(id, comp) AS (
  SELECT id, id FROM docs_all
  UNION
  SELECT s.v, r.comp FROM reach r JOIN sym s ON s.u = r.id
),
clusters AS (SELECT id AS doc_id, min(comp) AS cluster_id FROM reach GROUP BY id),
qm AS (
  SELECT doc_id,
         len(tk) AS n,
         CASE WHEN len(tk) > 0 THEN
           list_reduce(list_transform(tk, t -> len(t)::BIGINT), (a,b) -> a+b) / len(tk)
         ELSE 0 END AS avg_len,
         CASE WHEN len(tk) > 0 THEN
           len(list_filter(tk, t -> list_contains({en}, t))) / len(tk)
         ELSE 0.0 END AS stop_ratio
  FROM toks
),
qual AS (
  SELECT doc_id,
         round((least(n / 100.0, 1.0) + least(avg_len / 6.0, 1.0) +
                least(stop_ratio * 4.0, 1.0)) / 3.0, 6) AS q
  FROM qm
),
ranked AS (
  SELECT c.doc_id, c.cluster_id,
         row_number() OVER (PARTITION BY c.cluster_id
                            ORDER BY qual.q DESC, c.doc_id ASC) AS rn
  FROM clusters c JOIN qual ON c.doc_id = qual.doc_id
)
SELECT doc_id, cluster_id, (rn = 1)::INT AS is_canonical FROM ranked
"""


def _lsh_sql() -> str:
    """q32 oracle: the 16 deterministic ±1 hyperplanes (splitmix64, seed 42 —
    operators/similarity.hyperplanes) inlined as SQL literals; bucketing,
    banded candidate join, and cosine top-k all in DuckDB."""
    from pybiodatafuse_spark.operators.similarity import hyperplanes

    planes = hyperplanes(64, 16, seed=42)  # bits_per_band=4 × n_bands=4
    rows = []
    for p_idx in range(16):
        band, bit = p_idx // 4, p_idx % 4
        vals = ", ".join("1.0" if v > 0 else "-1.0" for v in planes[p_idx])
        rows.append(f"({band}, {bit}, [{vals}])")
    values = ",\n".join(rows)
    dot = (
        "list_reduce(list_transform(range(1, 65), "
        "i -> pl.p[i] * e.embedding[i]::DOUBLE), (x, y) -> x + y)"
    )
    return f"""
WITH planes AS (SELECT * FROM (VALUES {values}) AS t(band, bit, p)),
cb AS (
  SELECT e.vec_id, pl.band,
         sum(CASE WHEN {dot} > 0 THEN (1::BIGINT << pl.bit) ELSE 0 END) AS bucket
  FROM embeddings e CROSS JOIN planes pl GROUP BY 1, 2
),
qb AS (SELECT vec_id AS query_id, band, bucket FROM cb WHERE vec_id < 10),
cands AS (
  SELECT DISTINCT q.query_id, c.vec_id
  FROM cb c JOIN qb q ON c.band = q.band AND c.bucket = q.bucket
  WHERE c.vec_id <> q.query_id
),
s AS (
  SELECT cd.query_id, cd.vec_id,
         round({_cos_sql('a.embedding', 'b.embedding')}, 6) AS cos
  FROM cands cd
  JOIN embeddings a ON a.vec_id = cd.query_id
  JOIN embeddings b ON b.vec_id = cd.vec_id
),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rn FROM s)
SELECT query_id, vec_id, cos, rn FROM r WHERE rn <= 5
"""


def _multimodal_sql() -> str:
    """q33 oracle: synth_media payloads are bytes((i*7+j)%251 for j<n_bytes)
    with n_bytes = 64 + (i%5)*32 (divisible by 8), so feature chunk 0 is the
    exact integer mean of the first n_bytes/8 bytes, stored float32."""
    return """
WITH m AS (SELECT unnest(range(64)) AS media_id),
p AS (SELECT media_id, (64 + (media_id % 5) * 32)::BIGINT AS n_bytes FROM m),
f AS (
  SELECT media_id::BIGINT AS media_id, n_bytes,
         round((
           (list_reduce(list_transform(range((n_bytes // 8)::INT),
                                       j -> (media_id * 7 + j) % 251),
                        (a, b) -> a + b))::DOUBLE / (n_bytes // 8)
         )::FLOAT::DOUBLE, 4) AS f0
  FROM p
)
SELECT media_id, n_bytes, f0 FROM f
"""


_H_SPACE = "1152921504606846976.0"  # 2^60, the hash64 → u01 divisor


def _walks_sql() -> str:
    """q36 oracle: the 6-step hash-seeded walk loop unrolled as CTEs — the
    CDF inversion (uniform weights ⇒ cdf_i = i/deg) and md5-hash u are
    bit-identical to plans/walks.random_walks."""
    parts = [
        f"WITH edges_d AS ({_EDGES_SQL}),",
        "adj AS (SELECT src, list(dst ORDER BY dst) AS dsts, count(*)::BIGINT AS deg"
        " FROM edges_d GROUP BY src),",
        "starts AS (SELECT DISTINCT src AS id FROM edges_d WHERE src < 50),",
        "s0 AS (SELECT (id*2 + w.w)::BIGINT AS walk_id, id AS start, id AS cur,"
        " 1::BIGINT AS plen, FALSE AS done"
        " FROM starts CROSS JOIN (SELECT unnest(range(2)) AS w) w),",
    ]
    for k in range(1, 7):
        h = _h64_sql(f"s.walk_id::VARCHAR || '#{k}'")
        u = f"(({h}) / {_H_SPACE})"
        idx = (
            "(len(list_filter(list_transform(range(1, (a.deg + 1)::INT), "
            f"i -> i::DOUBLE / a.deg::DOUBLE), c -> c < {u})) + 1)::INT"
        )
        parts.append(
            f"s{k} AS (SELECT s.walk_id, s.start, "
            f"CASE WHEN s.done OR a.src IS NULL THEN s.cur ELSE a.dsts[{idx}] END AS cur, "
            f"CASE WHEN s.done OR a.src IS NULL THEN s.plen ELSE s.plen + 1 END AS plen, "
            f"(s.done OR a.src IS NULL) AS done "
            f"FROM s{k - 1} s LEFT JOIN adj a ON s.cur = a.src),"
        )
    parts[-1] = parts[-1].rstrip(",")
    parts.append("SELECT walk_id, start, plen AS path_len, cur AS last FROM s6")
    return "\n".join(parts)


def _biased_walks_sql() -> str:
    """q44 oracle: the edge-type-biased teleporting walk (DREAMwalk traversal,
    plans/walks.biased_random_walks) unrolled — per-step biased CDF from the
    2×2 matrix, teleport via u_tp, identical float op order."""
    mflat = "([0.7, 0.3, 0.2, 0.8]::DOUBLE[])"
    parts = [
        f"WITH edges_d AS ({_EDGES_SQL}),",
        "e AS (SELECT src, dst, (dst % 2)::INT AS et FROM edges_d"
        " WHERE src < 30 AND dst < 30),",
        "adj AS (SELECT src, list(dst ORDER BY dst) AS dsts,"
        " list(et ORDER BY dst) AS ets FROM e GROUP BY src),",
        "starts AS (SELECT DISTINCT src AS id FROM e),",
        "s0 AS (SELECT (id*2 + w.w)::BIGINT AS walk_id, id AS start, id AS cur,"
        " -1 AS pet, 1::BIGINT AS plen, FALSE AS done"
        " FROM starts CROSS JOIN (SELECT unnest(range(2)) AS w) w),",
    ]
    bw = (
        "list_transform(t.ets, x -> CASE WHEN t.pet < 0 THEN 1.0::DOUBLE "
        f"ELSE 1.0 * {mflat}[(t.pet * 2 + x + 1)::INT] END)"
    )
    total = f"list_reduce({bw}, (x, y) -> x + y)"
    for k in range(1, 7):
        h = _h64_sql(f"t.walk_id::VARCHAR || '#{k}'")
        u = f"(({h}) / {_H_SPACE})"
        h_tp = _h64_sql(f"t.walk_id::VARCHAR || '#{k}#tp'")
        u_tp = f"(({h_tp}) / {_H_SPACE})"
        is_tp = f"({u_tp} < 0.1::DOUBLE)"
        tp_next = f"floor({u_tp} / 0.1::DOUBLE * 10)::BIGINT"
        stuck = f"(t.asrc IS NULL OR {total} <= 0.0)"
        idx = (
            f"(len(list_filter(list_transform(range(1, (len(t.dsts) + 1)::INT), "
            f"j -> list_reduce(list_slice({bw}, 1, j), (x, y) -> x + y) / {total}), "
            f"c -> c < {u})) + 1)::INT"
        )
        parts.append(
            f"s{k} AS (SELECT t.walk_id, t.start, "
            f"CASE WHEN t.done THEN t.cur WHEN {is_tp} THEN {tp_next} "
            f"WHEN {stuck} THEN t.cur ELSE t.dsts[{idx}] END AS cur, "
            f"CASE WHEN t.done THEN t.pet WHEN {is_tp} THEN -1 "
            f"WHEN {stuck} THEN t.pet ELSE t.ets[{idx}] END AS pet, "
            f"CASE WHEN t.done OR (NOT {is_tp} AND {stuck}) THEN t.plen "
            f"ELSE t.plen + 1 END AS plen, "
            f"CASE WHEN t.done THEN TRUE WHEN {is_tp} THEN FALSE "
            f"ELSE {stuck} END AS done "
            f"FROM (SELECT s.*, a.src AS asrc, a.dsts, a.ets "
            f"FROM s{k - 1} s LEFT JOIN adj a ON s.cur = a.src) t),"
        )
    parts[-1] = parts[-1].rstrip(",")
    parts.append("SELECT walk_id, start, plen AS path_len FROM s6")
    return "\n".join(parts)


def _skipgram_sql() -> str:
    """q43 oracle: expected (id, v0) from the independent sequential
    pure-Python implementation in oracle_py (walks + per-walk SGNS + sorted
    delta averaging), inlined as VALUES; DuckDB does the final rounding so
    the round() semantics match the other oracles."""
    import oracle_py

    rows = ", ".join(
        f"({i}, {v!r})" for i, v in oracle_py.q43_expected("/root/testdata/sf0.01")
    )
    return f"""
SELECT id::BIGINT AS id, round(v0raw, 6) AS v0, 8::INTEGER AS dim
FROM (VALUES {rows}) AS t(id, v0raw)
"""


def _neardup_sql() -> str:
    return f"""
WITH e AS (SELECT vec_id, label, embedding FROM embeddings)
SELECT id_a, id_b, cos FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round({_cos_sql('a.embedding', 'b.embedding')}, 6) AS cos
  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
) WHERE cos >= 0.3
"""


# ---------------------------------------------------------------------------
# round 3 additions: HITS / k-core / host rollup / personalized PageRank
# ---------------------------------------------------------------------------


def q50_hits3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G14 family: HITS hubs/authorities, 3 fixed iterations (SQL-unrollable;
    plans/hits.py — semi-normalized power iteration, final exact L2)."""
    from pybiodatafuse_spark.plans.hits import hits

    e = _derived_edges(spark, sf_dir)
    res = hits(spark, e, tol=None, max_iter=3)
    return res.select(
        "id",
        F.round("auth", 6).alias("auth_r6"),
        F.round("hub", 6).alias("hub_r6"),
    )


def _hits3_sql() -> str:
    parts = [
        f"WITH edges_d AS ({_EDGES_SQL}),",
        f"verts AS ({_VERTS_SQL}),",
        "s0 AS (SELECT id, 1.0::DOUBLE AS a, 1.0::DOUBLE AS h FROM verts),",
    ]
    for k in range(1, 4):
        p = k - 1
        parts.append(
            f"n{k} AS (SELECT sqrt(sum(a*a)) AS an, sqrt(sum(h*h)) AS hn "
            f"FROM s{p}),"
        )
        parts.append(
            f"ar{k} AS (SELECT e.dst AS id, "
            f"sum(s.h/(SELECT hn FROM n{k})) AS raw "
            f"FROM edges_d e JOIN s{p} s ON e.src = s.id GROUP BY 1),"
        )
        parts.append(
            f"a{k} AS (SELECT v.id, "
            f"coalesce(ar.raw, 0)/(SELECT an FROM n{k}) AS a "
            f"FROM verts v LEFT JOIN ar{k} ar ON v.id = ar.id),"
        )
        parts.append(
            f"h{k} AS (SELECT v.id, coalesce(hr.s, 0) AS h FROM verts v "
            f"LEFT JOIN (SELECT e.src AS id, sum(a.a) AS s FROM edges_d e "
            f"JOIN a{k} a ON e.dst = a.id GROUP BY 1) hr ON v.id = hr.id),"
        )
        parts.append(
            f"s{k} AS (SELECT a.id, a.a, h.h FROM a{k} a "
            f"JOIN h{k} h ON a.id = h.id),"
        )
    parts.append("fn AS (SELECT sqrt(sum(a*a)) AS an, sqrt(sum(h*h)) AS hn FROM s3)")
    parts.append(
        "SELECT id, round(a/(SELECT an FROM fn), 6) AS auth_r6, "
        "round(h/(SELECT hn FROM fn), 6) AS hub_r6 FROM s3"
    )
    return "\n".join(parts)


def q51_kcore3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G14 family: 3-core membership + in-core degree (plans/kcore.py —
    frontier-driven peeling; fixed-round SQL unroll agrees at/after the
    fixpoint because post-fixpoint rounds are identity)."""
    from pybiodatafuse_spark.plans.kcore import k_core

    e = _derived_edges(spark, sf_dir)
    return k_core(spark, e, k=3, max_rounds=8).select("id", "core_deg")


def _kcore3_sql() -> str:
    parts = [
        f"WITH edges_d AS ({_EDGES_SQL}),",
        "sym AS (SELECT src, dst FROM edges_d UNION "
        "SELECT dst, src FROM edges_d),",
        "d0 AS (SELECT src AS id, count(*)::BIGINT AS deg FROM sym GROUP BY 1),",
    ]
    for r in range(1, 9):
        p = r - 1
        parts.append(f"f{r} AS (SELECT id FROM d{p} WHERE deg < 3),")
        parts.append(
            f"dec{r} AS (SELECT s.dst AS id, count(*)::BIGINT AS c FROM sym s "
            f"JOIN f{r} f ON s.src = f.id GROUP BY 1),"
        )
        parts.append(
            f"d{r} AS (SELECT d.id, d.deg - coalesce(c.c, 0) AS deg "
            f"FROM d{p} d LEFT JOIN dec{r} c ON d.id = c.id WHERE d.deg >= 3),"
        )
    parts[-1] = parts[-1].rstrip(",")
    parts.append("SELECT id, deg AS core_deg FROM d8 WHERE deg >= 3")
    return "\n".join(parts)


def q52_host_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-graph rollup (operators/hostgraph.py): deterministic page URLs
    synthesized over the derived vertex space, host extracted by the shared
    regexp, page edges collapsed to (src_host, dst_host) with summed weight
    and distinct-source-page counts."""
    from pybiodatafuse_spark.operators.hostgraph import host_graph

    e = _derived_edges(spark, sf_dir)

    def url(c: str):
        return F.concat(
            F.lit("http://host-"),
            (F.col(c) % 13).cast("string"),
            F.lit(".example/p/"),
            F.col(c).cast("string"),
        )

    verts = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .dropDuplicates(["id"])
        .withColumn("url", url("id"))
    )
    hg = host_graph(e, verts)
    return hg.select(
        "src_host",
        "dst_host",
        F.col("weight").cast("double").alias("weight"),
        F.col("n_src_pages").cast("long").alias("n_src_pages"),
    )


def _host_rollup_sql() -> str:
    from pybiodatafuse_spark.operators.hostgraph import _HOST_RE

    return f"""
WITH edges_d AS ({_EDGES_SQL}),
verts AS ({_VERTS_SQL}),
v AS (
  SELECT id, host FROM (
    SELECT id, NULLIF(lower(regexp_extract(
      'http://host-' || (id % 13)::VARCHAR || '.example/p/' || id::VARCHAR,
      '{_HOST_RE}', 1)), '') AS host
    FROM verts
  ) WHERE host IS NOT NULL
)
SELECT vs.host AS src_host, vd.host AS dst_host,
       sum(1.0::DOUBLE)::DOUBLE AS weight,
       count(DISTINCT e.src)::BIGINT AS n_src_pages
FROM edges_d e
JOIN v vs ON e.src = vs.id
JOIN v vd ON e.dst = vd.id
GROUP BY 1, 2
"""


def q53_ppr5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank, 5 fixed supersteps: teleport + dangling mass
    restricted to the seed set (ids ≡ 0 mod 7) — plans/pagerank.py
    ``reset=`` path."""
    from pybiodatafuse_spark.plans.pagerank import pagerank

    e = _derived_edges(spark, sf_dir)
    seeds = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .dropDuplicates(["id"])
        .where(F.col("id") % 7 == 0)
    )
    res = pagerank(
        spark, e, tol=None, max_iter=5, hub_threshold=50, num_salts=4, reset=seeds
    )
    return res.state.select("id", F.round(F.col("rank"), 6).alias("rank_r6"))


def _ppr5_sql() -> str:
    d = 0.85
    parts = [
        f"WITH edges_d AS ({_EDGES_SQL}),",
        f"verts AS ({_VERTS_SQL}),",
        "outd AS (SELECT src AS id, count(*) AS od FROM edges_d GROUP BY 1),",
        "seeds AS (SELECT id FROM verts WHERE id % 7 = 0),",
        "nsd AS (SELECT count(*)::DOUBLE AS ns FROM seeds),",
        "r0 AS (SELECT v.id, CASE WHEN s.id IS NOT NULL "
        "THEN 1.0/(SELECT ns FROM nsd) ELSE 0.0 END AS r "
        "FROM verts v LEFT JOIN seeds s ON v.id = s.id),",
    ]
    for k in range(5):
        parts.append(
            f"d{k} AS (SELECT coalesce(sum(r.r), 0) AS m FROM r{k} r "
            f"LEFT JOIN outd o ON r.id = o.id WHERE o.id IS NULL),"
        )
        parts.append(
            f"c{k} AS (SELECT e.dst AS id, sum(r.r / o.od) AS c FROM edges_d e "
            f"JOIN r{k} r ON e.src = r.id JOIN outd o ON e.src = o.id GROUP BY 1),"
        )
        parts.append(
            f"r{k + 1} AS (SELECT v.id, CASE WHEN s.id IS NOT NULL THEN "
            f"(1 - {d})/(SELECT ns FROM nsd) + "
            f"{d} * (SELECT m FROM d{k}) / (SELECT ns FROM nsd) "
            f"ELSE 0.0 END + {d} * coalesce(c.c, 0) AS r "
            f"FROM verts v LEFT JOIN seeds s ON v.id = s.id "
            f"LEFT JOIN c{k} c ON v.id = c.id),"
        )
    parts[-1] = parts[-1].rstrip(",")
    parts.append("SELECT id, round(r, 6) AS rank_r6 FROM r5")
    return "\n".join(parts)


def _sparse_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparsified derived edge table for the directed-reachability gates:
    the full mod-211 graph is one giant SCC (trivial decomposition), so keep
    a deterministic ~9% subset that yields CORE/OUT/OTHER structure."""
    return _shared(
        spark,
        sf_dir,
        "sparse_edges",
        lambda: _derived_edges(spark, sf_dir).where(
            (F.col("src") * 31 + F.col("dst")) % 11 == 0
        ),
    )


def _sparse_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCC labels of the sparsified graph, computed once per session — both
    q54 (the SCC gate itself) and q60 (bow-tie, which classifies around the
    giant SCC) consume it."""
    from pybiodatafuse_spark.plans.scc import strongly_connected_components

    return _shared(
        spark,
        sf_dir,
        "sparse_scc",
        lambda: strongly_connected_components(
            spark, _sparse_edges(spark, sf_dir)
        ).select("id", "scc"),
    )


_SPARSE_EDGES_SQL = (
    f"SELECT * FROM (\n{_EDGES_SQL}\n) WHERE (src*31 + dst) % 11 = 0"
)


def q54_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly connected components (FW-BW-Trim coloring, plans/scc.py) —
    scc = min vertex id in the component; oracle = recursive-CTE mutual
    reachability. Runs on the sparsified edge subset so the SCC structure is
    non-trivial (giant core + singletons); the labeling is shared with the
    q60 bow-tie gate via the per-session cache."""
    return _sparse_scc(spark, sf_dir)


def q55_bfs_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop distances from seed set (ids ≡ 0 mod 7) along
    edge direction; reached vertices only."""
    from pybiodatafuse_spark.plans.bfs import bfs_distances

    e = _derived_edges(spark, sf_dir)
    seeds = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .dropDuplicates(["id"])
        .where(F.col("id") % 7 == 0)
    )
    return bfs_distances(spark, e, seeds).select("id", "dist")


def q56_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex local clustering coefficient over the undirected simple
    graph (reuses the degree-ordered triangle plan)."""
    from pybiodatafuse_spark.operators.graphstats import clustering_coefficients

    e = _derived_edges(spark, sf_dir)
    return clustering_coefficients(spark, e).select(
        "id", "deg", "triangles", F.round("coeff", 6).alias("coeff_r6")
    )


def _neighborhood3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-hop closure sizes, computed once per session — consumed by
    q57 (the exact gate) and q68 (the ANF accuracy gate)."""
    from pybiodatafuse_spark.plans.bfs import neighborhood_sizes

    return _shared(
        spark,
        sf_dir,
        "neighborhood3",
        lambda: neighborhood_sizes(
            spark, _derived_edges(spark, sf_dir), hops=3
        ).select("id", "n_within"),
    )


def q57_neighborhood3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-hop neighborhood function N(v,3) (self included). The HLL
    scale path (plans/bfs.anf_hll) is accuracy-tested against this exact
    operator in tests/test_scc_bfs_stats.py and gated against it in q68."""
    return _neighborhood3(spark, sf_dir)


def q58_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighbor-overlap link scores: common neighbors / Jaccard /
    Adamic-Adar / resource-allocation for co-neighbor pairs."""
    from pybiodatafuse_spark.operators.graphstats import neighbor_overlap_scores

    e = _derived_edges(spark, sf_dir)
    return neighbor_overlap_scores(spark, e).select(
        "a",
        "b",
        "common",
        F.round("jaccard", 6).alias("jaccard_r6"),
        F.round("adamic_adar", 6).alias("adamic_adar_r6"),
        F.round("resource_alloc", 6).alias("resource_alloc_r6"),
    )


def q59_graph_scalars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row structural summary: density, reciprocity, degree
    assortativity (Pearson r of (out-deg(src), in-deg(dst)) across edges)."""
    from pybiodatafuse_spark.operators.graphstats import graph_scalars

    e = _derived_edges(spark, sf_dir)
    return graph_scalars(spark, e).select(
        "n_vertices",
        "n_edges",
        F.round("density", 6).alias("density_r6"),
        F.round("reciprocity", 6).alias("reciprocity_r6"),
        F.round("assortativity", 6).alias("assortativity_r6"),
    )


def q60_bowtie(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bow-tie decomposition (Broder WWW'00): per-class vertex counts with
    CORE = largest SCC (ties → min scc id), IN/OUT by reachability."""
    from pybiodatafuse_spark.plans.scc import bowtie_decomposition

    e = _sparse_edges(spark, sf_dir)
    return (
        bowtie_decomposition(spark, e, scc=_sparse_scc(spark, sf_dir))
        .groupBy("cls")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q61_harmonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled harmonic centrality from seed sources (ids ≡ 0 mod 7) via one
    labeled multi-origin BFS."""
    from pybiodatafuse_spark.plans.bfs import harmonic_centrality

    e = _derived_edges(spark, sf_dir)
    seeds = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .dropDuplicates(["id"])
        .where(F.col("id") % 7 == 0)
    )
    return harmonic_centrality(spark, e, seeds).select(
        "id", F.round("harmonic", 6).alias("harmonic_r6")
    )


def q62_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: corpus documents sharing ≥2 distinct word
    3-grams with a probe subset (doc_id ≡ 0 mod 50), with per-probe overlap
    fraction. One shingle equi-join — never corpus × probes."""
    from pybiodatafuse_spark.operators.dedup import contamination_pairs

    d = _t(spark, sf_dir, "documents")
    probes = d.where(F.col("doc_id") % 50 == 0)
    return contamination_pairs(d, probes, n=3, min_shared=2).select(
        "corpus_id",
        "probe_id",
        "shared_ngrams",
        "probe_ngrams",
        F.round("overlap", 6).alias("overlap_r6"),
    )


def q63_token_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix length statistics: exact interpolated token-count
    percentiles (p50/p90/p99) per language."""
    from pybiodatafuse_spark.functions.text import tokens

    d = _t(spark, sf_dir, "documents")
    nt = d.select("lang", F.size(tokens(F.col("text"))).cast("double").alias("nt"))
    return nt.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.percentile("nt", F.lit(0.5)), 6).alias("p50_r6"),
        F.round(F.percentile("nt", F.lit(0.9)), 6).alias("p90_r6"),
        F.round(F.percentile("nt", F.lit(0.99)), 6).alias("p99_r6"),
    )


def q64_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the 3-superstep LPA partition (operator
    composition: labelprop → graphstats.modularity)."""
    from pybiodatafuse_spark.operators.graphstats import modularity
    from pybiodatafuse_spark.plans.labelprop import label_propagation

    e = _derived_edges(spark, sf_dir)
    labels = label_propagation(spark, e, max_iter=3).select("id", "label")
    return modularity(spark, e, labels).select(
        "n_communities", F.round("modularity", 6).alias("modularity_r6")
    )


def _modularity_sql() -> str:
    parts = [
        f"WITH edges_d AS ({_EDGES_SQL}),",
        f"verts AS ({_VERTS_SQL}),",
        "sym AS (SELECT src AS u, dst AS v FROM edges_d UNION "
        "SELECT dst, src FROM edges_d),",
        "l0 AS (SELECT id, id AS lab FROM verts),",
    ]
    for k in range(3):
        parts.append(
            f"cnt{k} AS (SELECT s.v AS id, l.lab, count(*) AS c FROM sym s "
            f"JOIN l{k} l ON s.u = l.id GROUP BY 1, 2),"
        )
        parts.append(
            f"win{k} AS (SELECT id, lab, row_number() OVER "
            f"(PARTITION BY id ORDER BY c DESC, lab ASC) AS rn FROM cnt{k}),"
        )
        parts.append(
            f"l{k + 1} AS (SELECT l.id, coalesce(w.lab, l.lab) AS lab FROM l{k} l "
            f"LEFT JOIN win{k} w ON l.id = w.id AND w.rn = 1),"
        )
    parts.append(
        "ud AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b "
        "FROM edges_d WHERE src <> dst),"
    )
    parts.append("m AS (SELECT count(*)::DOUBLE AS m FROM ud),")
    parts.append(
        "udeg AS (SELECT id, count(*) AS deg FROM ("
        "SELECT a AS id FROM ud UNION ALL SELECT b FROM ud) GROUP BY id),"
    )
    parts.append(
        "intra AS (SELECT la.lab AS lab, count(*) AS e_c FROM ud "
        "JOIN l3 la ON ud.a = la.id JOIN l3 lb ON ud.b = lb.id "
        "WHERE la.lab = lb.lab GROUP BY 1),"
    )
    parts.append(
        "dc AS (SELECT l.lab AS lab, sum(d.deg)::DOUBLE AS d_c FROM udeg d "
        "JOIN l3 l ON d.id = l.id GROUP BY 1),"
    )
    parts.append(
        "per AS (SELECT dc.lab, coalesce(i.e_c, 0) / (SELECT m FROM m) "
        "- (dc.d_c / (2 * (SELECT m FROM m))) ^ 2 AS q_c "
        "FROM dc LEFT JOIN intra i ON dc.lab = i.lab)"
    )
    parts.append(
        "SELECT count(*)::BIGINT AS n_communities, "
        "round(sum(q_c), 6) AS modularity_r6 FROM per"
    )
    return "\n".join(parts)


def q65_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join through two broadcastable dims (region,
    nation) — the multi-dim star-join pattern Catalyst should plan as
    broadcast joins around one fact shuffle. Decimal-exact money math."""
    cu = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    su = _t(spark, sf_dir, "supplier")
    na = _t(spark, sf_dir, "nation")
    re = _t(spark, sf_dir, "region")
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    return (
        cu.join(o, cu["c_custkey"] == o["o_custkey"])
        .join(li, o["o_orderkey"] == li["l_orderkey"])
        .join(
            su,
            (li["l_suppkey"] == su["s_suppkey"])
            & (cu["c_nationkey"] == su["s_nationkey"]),
        )
        .join(F.broadcast(na), su["s_nationkey"] == na["n_nationkey"])
        .join(F.broadcast(re), na["n_regionkey"] == re["r_regionkey"])
        .where(F.col("r_name").isin("ASIA", "EUROPE"))
        .groupBy("r_name", "n_name")
        .agg(
            F.sum(
                dec("l_extendedprice")
                * (F.lit(1).cast("decimal(18,2)") - dec("l_discount"))
            )
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q66_edge_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot edge diff: yesterday = edges with (src*31+dst)%11==0 removed,
    today = full derived edges — added/removed per edge (feeds warm-start
    incremental PageRank)."""
    from pybiodatafuse_spark.operators.edges import edge_delta

    today = _derived_edges(spark, sf_dir)
    yesterday = today.where((F.col("src") * 31 + F.col("dst")) % 11 != 0)
    extra = today.where((F.col("src") * 7 + F.col("dst")) % 13 == 0).select(
        (F.col("src") + 1000).alias("src"), (F.col("dst") + 1000).alias("dst")
    )
    return edge_delta(
        yesterday.select("src", "dst").unionByName(extra),
        today.select("src", "dst"),
    )


def q67_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic quality-weighted Bernoulli sample (training-mix
    upsampling): keep probability ∝ n_chars at a 0.3 corpus budget."""
    from pybiodatafuse_spark.operators.hierarchy import weighted_sample

    d = _t(spark, sf_dir, "documents")
    return weighted_sample(d, "doc_id", "n_chars", fraction=0.3).select(
        "doc_id", "lang", F.col("n_chars").cast("long").alias("n_chars")
    )


def q68_anf_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANF (HLL sketch flooding, plans/bfs.anf_hll) gated against the EXACT
    neighborhood function: one row ``(n_vertices, n_violations)`` where a
    violation is a vertex whose 3-hop HLL estimate deviates from the exact
    N(v,3) by more than max(4, 20% relative). The sketch fold is
    deterministic for a given input (register-max is order-independent), so
    the violation count is stable; the oracle computes n_vertices from the
    recursive closure and asserts the violation count is ZERO — a real
    accuracy gate on the sketch path, which is what runs at 10^12 pages."""
    from pybiodatafuse_spark.plans.bfs import anf_hll

    e = _derived_edges(spark, sf_dir)
    exact = _neighborhood3(spark, sf_dir)
    est = anf_hll(spark, e, hops=3, lgk=11)
    bad = (
        F.abs(F.col("n_est") - F.col("n_within"))
        > F.greatest(F.lit(4.0), 0.2 * F.col("n_within"))
    ).cast("long")
    return (
        exact.join(est, "id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vertices"),
            F.sum(bad).cast("long").alias("n_violations"),
        )
    )


def _anf_accuracy_sql() -> str:
    return (
        f"WITH RECURSIVE edges_d AS ({_EDGES_SQL}),\n"
        f"verts AS ({_VERTS_SQL}),\n"
        "r(a, b, d) AS (\n"
        "  SELECT id, id, 0 FROM verts\n"
        "  UNION\n"
        "  SELECT r.a, e.dst, r.d + 1 FROM r JOIN edges_d e ON r.b = e.src\n"
        "  WHERE r.d < 3\n"
        ")\n"
        "SELECT count(DISTINCT a)::BIGINT AS n_vertices, 0::BIGINT AS n_violations FROM r"
    )


def q69_attribute_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analyzer-explorer literature shape (reference literature.py:40-47):
    distinct typed-entity ids split into deterministic 25-id query batches,
    each batch's members joined into one string — computed with
    repartitionByRange + partition-local row_number + driver offset merge,
    never a single-partition window."""
    from pybiodatafuse_spark.operators.explorer import attribute_batches

    c = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    return attribute_batches(c, "c_custkey", batch_size=25)


def _attribute_batches_sql() -> str:
    return """
WITH ids AS (SELECT DISTINCT c_custkey::VARCHAR AS id FROM customer
             WHERE c_mktsegment = 'BUILDING'),
rk AS (SELECT id, row_number() OVER (ORDER BY id) - 1 AS rk FROM ids)
SELECT (rk // 25)::BIGINT AS batch, count(*)::BIGINT AS n_ids,
       string_agg(id, ',' ORDER BY id) AS ids
FROM rk GROUP BY 1
"""


def q70_patent_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analyzer-explorer patent shape (reference patent.py:27-47 + :71):
    per-(entity, patent-office) distinct-patent counts over US/EP/WO/Others
    with separator normalization applied before the distinct (the
    reference's documented WO-03078408-A1 == WO03078408A1 dedup). Patent
    codes are derived deterministically from lineitem so both engines see
    identical raw inputs, including dashed/undashed variants of the SAME
    patent."""
    from pybiodatafuse_spark.operators.explorer import patent_summary

    li = _t(spark, sf_dir, "lineitem")
    office = (
        F.when(F.col("l_suppkey") % 5 == 0, F.lit("US"))
        .when(F.col("l_suppkey") % 5 == 1, F.lit("EP"))
        .when(F.col("l_suppkey") % 5 == 2, F.lit("WO"))
        .when(F.col("l_suppkey") % 5 == 3, F.lit("JP"))
        .otherwise(F.lit("DE"))
    )
    dashed = F.col("l_linenumber") % 2 == 0
    raw = F.concat(
        office,
        F.when(dashed, F.lit("-")).otherwise(F.lit("")),
        (F.col("l_orderkey") % 997).cast("string"),
        F.when(dashed, F.lit("-A1")).otherwise(F.lit("A1")),
    )
    base = li.select(
        (F.col("l_partkey") % 50).cast("string").alias("entity"),
        raw.alias("patent_raw"),
    )
    return patent_summary(base, "entity", "patent_raw")


def _patent_summary_sql() -> str:
    return """
WITH base AS (
  SELECT (l_partkey % 50)::VARCHAR AS entity,
         CASE l_suppkey % 5 WHEN 0 THEN 'US' WHEN 1 THEN 'EP' WHEN 2 THEN 'WO'
              WHEN 3 THEN 'JP' ELSE 'DE' END
         || CASE WHEN l_linenumber % 2 = 0 THEN '-' ELSE '' END
         || (l_orderkey % 997)::VARCHAR
         || CASE WHEN l_linenumber % 2 = 0 THEN '-A1' ELSE 'A1' END AS patent_raw
  FROM lineitem),
d AS (SELECT DISTINCT entity,
        CASE WHEN substr(regexp_replace(upper(patent_raw), '[-/ ]', '', 'g'), 1, 2)
                  IN ('US','EP','WO')
             THEN substr(regexp_replace(upper(patent_raw), '[-/ ]', '', 'g'), 1, 2)
             ELSE 'Others' END AS office,
        regexp_replace(upper(patent_raw), '[-/ ]', '', 'g') AS patent
      FROM base)
SELECT entity, office, count(*)::BIGINT AS n_patents FROM d GROUP BY 1, 2
"""


def q71_diameter_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Double-BFS-sweep directed diameter lower bound (plans/bfs.py
    diameter_lower_bound, Magnien/Latapy/Habib): BFS from the min-id vertex,
    re-BFS from the farthest reached vertex (ties → min id), report the max
    eccentricity seen. Runs on the sparsified subset (non-trivial
    reachability structure)."""
    from pybiodatafuse_spark.plans.bfs import diameter_lower_bound

    e = _sparse_edges(spark, sf_dir)
    lb = diameter_lower_bound(spark, e)
    return spark.createDataFrame([(int(lb),)], "diameter_lb long")


def _diameter_bound_sql() -> str:
    return (
        f"WITH RECURSIVE edges_d AS ({_SPARSE_EDGES_SQL}),\n"
        f"verts AS ({_SPARSE_VERTS_SQL}),\n"
        "b1(id, d) AS (\n"
        "  SELECT min(id), 0 FROM verts\n"
        "  UNION\n"
        "  SELECT e.dst, b1.d + 1 FROM b1 JOIN edges_d e ON b1.id = e.src\n"
        "  WHERE b1.d < 300\n"
        "),\n"
        "m1 AS (SELECT id, min(d) AS d FROM b1 GROUP BY id),\n"
        "far AS (SELECT id, d FROM m1 ORDER BY d DESC, id ASC LIMIT 1),\n"
        "b2(id, d) AS (\n"
        "  SELECT id, 0 FROM far\n"
        "  UNION\n"
        "  SELECT e.dst, b2.d + 1 FROM b2 JOIN edges_d e ON b2.id = e.src\n"
        "  WHERE b2.d < 300\n"
        "),\n"
        "m2 AS (SELECT id, min(d) AS d FROM b2 GROUP BY id)\n"
        "SELECT greatest((SELECT d FROM far), (SELECT max(d) FROM m2))::BIGINT"
        " AS diameter_lb"
    )


def _weighted_sample_sql() -> str:
    h = _h64_sql("doc_id::VARCHAR")
    return f"""
WITH m AS (SELECT avg(n_chars) AS mw FROM documents)
SELECT doc_id, lang, n_chars::BIGINT AS n_chars
FROM documents, m
WHERE (({h}) % 1000000) / 1000000.0
      < least(1.0, 0.3 * n_chars / mw)
"""


def _edge_delta_sql() -> str:
    return f"""
WITH today AS ({_EDGES_SQL}),
extra AS (SELECT src + 1000 AS src, dst + 1000 AS dst FROM today
          WHERE (src*7 + dst) % 13 = 0),
yesterday AS (
  SELECT src, dst FROM today WHERE (src*31 + dst) % 11 <> 0
  UNION ALL SELECT src, dst FROM extra
)
SELECT t.src, t.dst, 'added' AS change
FROM today t LEFT JOIN yesterday y ON t.src = y.src AND t.dst = y.dst
WHERE y.src IS NULL
UNION ALL
SELECT y.src, y.dst, 'removed' AS change
FROM yesterday y LEFT JOIN today t ON t.src = y.src AND t.dst = y.dst
WHERE t.src IS NULL
"""


def _regional_revenue_sql() -> str:
    return """
SELECT r_name, n_name,
       sum(l_extendedprice::DECIMAL(18,2)
           * (1::DECIMAL(18,2) - l_discount::DECIMAL(18,2)))::DOUBLE AS revenue,
       count(*)::BIGINT AS n_items
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name IN ('ASIA', 'EUROPE')
GROUP BY r_name, n_name
"""


def _contamination_sql() -> str:
    return f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS tk FROM documents),
sh AS (SELECT doc_id AS doc, unnest({_shingles_sql("tk")}) AS s FROM toks),
ps AS (SELECT doc AS probe, s FROM sh WHERE doc % 50 = 0),
psz AS (SELECT probe, count(*) AS probe_ngrams FROM ps GROUP BY probe),
shared AS (
  SELECT c.doc AS corpus_id, p.probe AS probe_id, count(*) AS shared_ngrams
  FROM sh c JOIN ps p ON c.s = p.s
  GROUP BY 1, 2 HAVING count(*) >= 2
)
SELECT s.corpus_id, s.probe_id, s.shared_ngrams::BIGINT AS shared_ngrams,
       z.probe_ngrams::BIGINT AS probe_ngrams,
       round(s.shared_ngrams / z.probe_ngrams::DOUBLE, 6) AS overlap_r6
FROM shared s JOIN psz z ON s.probe_id = z.probe
"""


def _token_percentiles_sql() -> str:
    return f"""
WITH toks AS (SELECT lang, len({_TOKS_SQL})::DOUBLE AS nt FROM documents)
SELECT lang, count(*)::BIGINT AS n_docs,
       round(quantile_cont(nt, 0.5), 6) AS p50_r6,
       round(quantile_cont(nt, 0.9), 6) AS p90_r6,
       round(quantile_cont(nt, 0.99), 6) AS p99_r6
FROM toks GROUP BY lang
"""


_REACH_SQL = """reach(a, b) AS (
    SELECT src, dst FROM edges_d
    UNION
    SELECT r.a, e.dst FROM reach r JOIN edges_d e ON r.b = e.src
)"""

_SCC_SQL = """mutual AS (
    SELECT r1.a AS v, r1.b AS u FROM reach r1
    JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
),
scc_t AS (
    SELECT v.id, least(v.id, coalesce(min(m.u), v.id)) AS scc
    FROM verts v LEFT JOIN mutual m ON v.id = m.v
    GROUP BY v.id
)"""


# explicit-DISTINCT vertex set: under WITH RECURSIVE DuckDB does not dedup
# the plain UNION form of _VERTS_SQL
_SPARSE_VERTS_SQL = (
    "SELECT DISTINCT id FROM ("
    "SELECT src AS id FROM edges_d UNION ALL SELECT dst FROM edges_d)"
)


def _scc_sql() -> str:
    return (
        f"WITH RECURSIVE edges_d AS ({_SPARSE_EDGES_SQL}),\n"
        f"verts AS ({_SPARSE_VERTS_SQL}),\n{_REACH_SQL},\n{_SCC_SQL}\n"
        "SELECT id, scc FROM scc_t"
    )


def _bfs_sql() -> str:
    return (
        f"WITH RECURSIVE edges_d AS ({_EDGES_SQL}),\n"
        f"verts AS ({_VERTS_SQL}),\n"
        "seeds AS (SELECT id FROM verts WHERE id % 7 = 0),\n"
        "walk(id, d) AS (\n"
        "  SELECT id, 0::BIGINT FROM seeds\n"
        "  UNION\n"
        "  SELECT e.dst, w.d + 1 FROM walk w JOIN edges_d e ON w.id = e.src\n"
        "  WHERE w.d < 300\n"
        ")\n"
        "SELECT id, min(d)::BIGINT AS dist FROM walk GROUP BY id"
    )


_UND_SQL = """ud AS (
    SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
    FROM edges_d WHERE src <> dst
),
nb AS (SELECT a AS c, b AS l FROM ud UNION ALL SELECT b, a FROM ud),
udeg AS (SELECT c AS v, count(*) AS deg FROM nb GROUP BY c)"""


def _clustering_sql() -> str:
    return f"""WITH edges_d AS ({_EDGES_SQL}),
{_UND_SQL},
tri AS (
    SELECT e1.a AS x, e1.b AS y, e2.b AS z
    FROM ud e1 JOIN ud e2 ON e1.b = e2.a
    JOIN ud e3 ON e3.a = e1.a AND e3.b = e2.b
),
tv AS (
    SELECT x AS v FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri
),
tc AS (SELECT v, count(*) AS t FROM tv GROUP BY v)
SELECT d.v AS id, d.deg::BIGINT AS deg, coalesce(tc.t, 0)::BIGINT AS triangles,
       round(CASE WHEN d.deg < 2 THEN 0.0
             ELSE 2.0 * coalesce(tc.t, 0) / (d.deg * (d.deg - 1.0)) END, 6) AS coeff_r6
FROM udeg d LEFT JOIN tc ON d.v = tc.v"""


def _neighborhood3_sql() -> str:
    return (
        f"WITH RECURSIVE edges_d AS ({_EDGES_SQL}),\n"
        f"verts AS ({_VERTS_SQL}),\n"
        "r(a, b, d) AS (\n"
        "  SELECT id, id, 0 FROM verts\n"
        "  UNION\n"
        "  SELECT r.a, e.dst, r.d + 1 FROM r JOIN edges_d e ON r.b = e.src\n"
        "  WHERE r.d < 3\n"
        ")\n"
        "SELECT a AS id, count(DISTINCT b)::BIGINT AS n_within FROM r GROUP BY a"
    )


def _adamic_adar_sql() -> str:
    return f"""WITH edges_d AS ({_EDGES_SQL}),
{_UND_SQL},
wed AS (
    SELECT l1.l AS a, l2.l AS b, d.deg AS deg
    FROM nb l1 JOIN nb l2 ON l1.c = l2.c AND l1.l < l2.l
    JOIN udeg d ON d.v = l1.c
),
sc AS (
    SELECT a, b, count(*)::BIGINT AS common,
           sum(1.0 / ln(deg)) AS aa, sum(1.0 / deg) AS ra
    FROM wed GROUP BY a, b
)
SELECT sc.a, sc.b, sc.common,
       round(sc.common / (da.deg + db.deg - sc.common), 6) AS jaccard_r6,
       round(sc.aa, 6) AS adamic_adar_r6,
       round(sc.ra, 6) AS resource_alloc_r6
FROM sc JOIN udeg da ON da.v = sc.a JOIN udeg db ON db.v = sc.b"""


def _harmonic_sql() -> str:
    return (
        f"WITH RECURSIVE edges_d AS ({_EDGES_SQL}),\n"
        f"verts AS ({_VERTS_SQL}),\n"
        "seeds AS (SELECT DISTINCT id FROM verts WHERE id % 7 = 0),\n"
        "walk(s, id, d) AS (\n"
        "  SELECT id, id, 0::BIGINT FROM seeds\n"
        "  UNION\n"
        "  SELECT w.s, e.dst, w.d + 1 FROM walk w JOIN edges_d e ON w.id = e.src\n"
        "  WHERE w.d < 300\n"
        "),\n"
        "md AS (SELECT s, id, min(d) AS d FROM walk GROUP BY s, id)\n"
        "SELECT id, round(sum(1.0 / d), 6) AS harmonic_r6 FROM md WHERE d > 0 GROUP BY id"
    )


def _graph_scalars_sql() -> str:
    return f"""WITH edges_d AS ({_EDGES_SQL}),
verts AS ({_VERTS_SQL}),
nv AS (SELECT count(*)::BIGINT AS n FROM verts),
ne AS (SELECT count(*)::BIGINT AS n FROM edges_d),
outd AS (SELECT src AS id, count(*) AS od FROM edges_d GROUP BY 1),
ind AS (SELECT dst AS id, count(*) AS idg FROM edges_d GROUP BY 1),
recip AS (
    SELECT count(*)::DOUBLE AS r FROM edges_d e
    WHERE EXISTS (SELECT 1 FROM edges_d x WHERE x.src = e.dst AND x.dst = e.src)
),
pe AS (
    SELECT o.od::DOUBLE AS od, i.idg::DOUBLE AS idg
    FROM edges_d e JOIN outd o ON e.src = o.id JOIN ind i ON e.dst = i.id
)
SELECT (SELECT n FROM nv) AS n_vertices,
       (SELECT n FROM ne) AS n_edges,
       round((SELECT n FROM ne)::DOUBLE / ((SELECT n FROM nv) * ((SELECT n FROM nv) - 1)), 6) AS density_r6,
       round((SELECT r FROM recip) / (SELECT n FROM ne), 6) AS reciprocity_r6,
       round(COALESCE((SELECT corr(od, idg) FROM pe), 0.0), 6) AS assortativity_r6"""


def _bowtie_sql() -> str:
    return (
        f"WITH RECURSIVE edges_d AS ({_SPARSE_EDGES_SQL}),\n"
        f"verts AS ({_SPARSE_VERTS_SQL}),\n{_REACH_SQL},\n{_SCC_SQL},\n"
        "core_pick AS (\n"
        "  SELECT scc FROM scc_t GROUP BY scc ORDER BY count(*) DESC, scc ASC LIMIT 1\n"
        "),\n"
        "core AS (SELECT id FROM scc_t WHERE scc = (SELECT scc FROM core_pick)),\n"
        "cls_t AS (\n"
        # DISTINCT: under WITH RECURSIVE DuckDB does not dedup the plain
        # UNION in the verts CTE (observed 2x|E| rows), so dedup here
        "  SELECT DISTINCT v.id,\n"
        "    CASE WHEN v.id IN (SELECT id FROM core) THEN 'CORE'\n"
        "         WHEN EXISTS (SELECT 1 FROM reach r JOIN core c ON r.b = c.id WHERE r.a = v.id) THEN 'IN'\n"
        "         WHEN EXISTS (SELECT 1 FROM reach r JOIN core c ON r.a = c.id WHERE r.b = v.id) THEN 'OUT'\n"
        "         ELSE 'OTHER' END AS cls\n"
        "  FROM verts v\n"
        ")\n"
        "SELECT cls, count(*)::BIGINT AS n FROM cls_t GROUP BY cls"
    )


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full link-graph pipeline at sf0.001 — derived edge table →
    converged PageRank (d=0.85, L1 tol 1e-6) → top-20 pages by rank."""
    from pybiodatafuse_spark.plans.pagerank import pagerank, top_ranks

    sf_dir = "/root/testdata/sf0.001"
    e = _derived_edges(spark, sf_dir)
    res = pagerank(spark, e, tol=1e-6, max_iter=60, hub_threshold=50, num_salts=4)
    return top_ranks(res, 20)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # ROTATION POLICY: the driver's correctness run records rows for
        # only the FIRST 50 registry entries (run order = insertion order);
        # the registry has 72. Each round the gates with the STALEST driver
        # row rotate to the front. Round 6: q29 and q51–q71 lead (their last
        # recorded rows are r4; CORRECTNESS_r05 recorded q30–q50, q72 and
        # q01–q28, all green), then q40, whose PageRank path changed this
        # round, then the r5 rows in their r5 order; q07–q28 take the back.
        "q29_embedding_neardup": q29_embedding_neardup,
        "q51_kcore3": q51_kcore3,
        "q52_host_rollup": q52_host_rollup,
        "q53_ppr5": q53_ppr5,
        "q54_scc": q54_scc,
        "q55_bfs_seeds": q55_bfs_seeds,
        "q56_clustering": q56_clustering,
        "q57_neighborhood3": q57_neighborhood3,
        "q58_adamic_adar": q58_adamic_adar,
        "q59_graph_scalars": q59_graph_scalars,
        "q60_bowtie": q60_bowtie,
        "q61_harmonic": q61_harmonic,
        "q62_contamination": q62_contamination,
        "q63_token_percentiles": q63_token_percentiles,
        "q64_modularity": q64_modularity,
        "q65_regional_revenue": q65_regional_revenue,
        "q66_edge_delta": q66_edge_delta,
        "q67_weighted_sample": q67_weighted_sample,
        "q68_anf_accuracy": q68_anf_accuracy,
        "q69_attribute_batches": q69_attribute_batches,
        "q70_patent_summary": q70_patent_summary,
        "q71_diameter_bound": q71_diameter_bound,
        "q40_pagerank5_hubfree": q40_pagerank5_hubfree,
        "q30_events_hourly": q30_events_hourly,
        "q31_sessionize": q31_sessionize,
        "q32_lsh_knn": q32_lsh_knn,
        "q33_multimodal_features": q33_multimodal_features,
        "q34_hierarchy_closure": q34_hierarchy_closure,
        "q35_existence_pairs": q35_existence_pairs,
        "q36_random_walks": q36_random_walks,
        "q37_deterministic_sample": q37_deterministic_sample,
        "q38_rdf_triples": q38_rdf_triples,
        "q39_ic_similarity": q39_ic_similarity,
        "q41_ivf_knn": q41_ivf_knn,
        "q42_link_prediction": q42_link_prediction,
        "q43_skipgram_embeddings": q43_skipgram_embeddings,
        "q44_biased_walks": q44_biased_walks,
        "q48_node2vec_walks": q48_node2vec_walks,
        "q45_rdf_full_graph": q45_rdf_full_graph,
        "q46_near_dup_clusters": q46_near_dup_clusters,
        "q47_prediction_metrics": q47_prediction_metrics,
        "q49_shacl_shapes": q49_shacl_shapes,
        "q50_hits3": q50_hits3,
        "q72_shex_shapes": q72_shex_shapes,
        "q01_pricing_summary": q01_pricing_summary,
        "q02_filter_project": q02_filter_project,
        "q03_regex_classify": q03_regex_classify,
        "q04_collapse_nest": q04_collapse_nest,
        "q05_outer_combine": q05_outer_combine,
        "q06_semi_join": q06_semi_join,
        "q07_anti_join": q07_anti_join,
        "q08_topk": q08_topk,
        "q09_window_rank": q09_window_rank,
        "q10_union_distinct": q10_union_distinct,
        "q11_value_counts": q11_value_counts,
        "q12_dedup_count": q12_dedup_count,
        "q13_hash_ids": q13_hash_ids,
        "q14_json_extract": q14_json_extract,
        "q15_explode_tokens": q15_explode_tokens,
        "q16_degree_hist": q16_degree_hist,
        "q17_triangles": q17_triangles,
        "q18_components": q18_components,
        "q19_pagerank5": q19_pagerank5,
        "q20_label_propagation3": q20_label_propagation3,
        "q21_text_stats": q21_text_stats,
        "q22_quality_score": q22_quality_score,
        "q23_lang_id": q23_lang_id,
        "q24_dedup_exact": q24_dedup_exact,
        "q25_minhash_lsh": q25_minhash_lsh,
        "q26_simhash": q26_simhash,
        "q27_ngram_jaccard": q27_ngram_jaccard,
        "q28_knn_bruteforce": q28_knn_bruteforce,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "q01_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   sum(l_quantity::DECIMAL(18,2))::DOUBLE AS sum_qty,
                   sum(l_extendedprice::DECIMAL(18,2))::DOUBLE AS sum_base_price,
                   sum(l_extendedprice::DECIMAL(18,2) * (1::DECIMAL(18,2) - l_discount::DECIMAL(18,2)))::DOUBLE AS sum_disc_price,
                   count(*)::BIGINT AS count_order,
                   count(DISTINCT l_orderkey)::BIGINT AS n_orders
            FROM lineitem GROUP BY l_returnflag, l_linestatus
        """,
        "q02_filter_project": """
            SELECT c_custkey, c_nationkey, c_mktsegment FROM customer
            WHERE c_nationkey IN (1, 2, 3)
        """,
        "q03_regex_classify": """
            SELECT CASE WHEN regexp_matches(p_name, '^[a-f]') THEN 'head_af'
                        WHEN regexp_matches(p_name, 'ing$') THEN 'tail_ing'
                        ELSE 'other' END AS cls,
                   count(*)::BIGINT AS n
            FROM part GROUP BY 1
        """,
        "q04_collapse_nest": """
            SELECT c_custkey,
                   coalesce(string_agg(o_orderkey::VARCHAR, ',' ORDER BY o_orderkey::VARCHAR), '') AS order_keys,
                   count(o_orderkey)::BIGINT AS n_orders
            FROM customer LEFT JOIN orders ON c_custkey = o_custkey
            GROUP BY c_custkey
        """,
        "q05_outer_combine": """
            WITH a AS (SELECT o_custkey AS k, count(*)::BIGINT AS n_orders FROM orders GROUP BY 1),
                 b AS (SELECT o_custkey AS k, sum(l_quantity::DECIMAL(18,2))::DOUBLE AS total_qty
                       FROM orders JOIN lineitem ON o_orderkey = l_orderkey GROUP BY 1)
            SELECT coalesce(a.k, b.k) AS k,
                   coalesce(n_orders, 0) AS n_orders,
                   coalesce(total_qty, 0.0) AS total_qty
            FROM a FULL OUTER JOIN b ON a.k = b.k
        """,
        "q06_semi_join": """
            SELECT c_nationkey, count(*)::BIGINT AS n FROM customer
            WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
            GROUP BY 1
        """,
        "q07_anti_join": """
            SELECT c_custkey, c_nationkey FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        """,
        "q08_topk": """
            SELECT o_custkey, sum(o_totalprice::DECIMAL(18,2))::DOUBLE AS revenue
            FROM orders GROUP BY 1
            ORDER BY revenue DESC, o_custkey ASC LIMIT 20
        """,
        "q09_window_rank": """
            SELECT c_nationkey, c_custkey, c_acctbal, rn FROM (
              SELECT c_nationkey, c_custkey, c_acctbal,
                     row_number() OVER (PARTITION BY c_nationkey
                                        ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
              FROM customer) WHERE rn <= 3
        """,
        "q10_union_distinct": """
            SELECT DISTINCT id FROM (
              SELECT c_custkey AS id FROM customer WHERE c_acctbal > 9000
              UNION ALL
              SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
        """,
        "q11_value_counts": """
            SELECT o_orderstatus, count(*)::BIGINT AS count FROM orders GROUP BY 1
        """,
        "q12_dedup_count": """
            SELECT event_type, count(*)::BIGINT AS n_users FROM (
              SELECT DISTINCT user_id, event_type FROM events) GROUP BY 1
        """,
        "q13_hash_ids": f"""
            SELECT c_custkey, md5(c_name) AS name_md5,
                   {_h64_sql('c_name')} AS name_h64
            FROM customer
        """,
        "q14_json_extract": """
            SELECT coalesce(json_extract_string(props, '$.k')::BIGINT, -1) AS k,
                   count(*)::BIGINT AS n
            FROM events GROUP BY 1
        """,
        "q15_explode_tokens": f"""
            SELECT t AS token, count(*)::BIGINT AS n FROM (
              SELECT unnest({_TOKS_SQL}) AS t FROM documents)
            GROUP BY 1 ORDER BY n DESC, token ASC LIMIT 30
        """,
        "q16_degree_hist": f"""
            WITH edges_d AS ({_EDGES_SQL}),
            d AS (SELECT src, count(*)::BIGINT AS deg FROM edges_d GROUP BY 1)
            SELECT deg, count(*)::BIGINT AS n_vertices FROM d GROUP BY 1
        """,
        "q17_triangles": _triangles_sql(),
        "q18_components": _components_sql(),
        "q19_pagerank5": _pagerank5_sql(),
        "q40_pagerank5_hubfree": _pagerank5_sql(),
        "q20_label_propagation3": _lpa3_sql(),
        "q21_text_stats": f"""
            WITH toks AS (SELECT doc_id, n_chars, {_TOKS_SQL} AS tk FROM documents)
            SELECT doc_id, len(tk)::BIGINT AS n_tokens, n_chars::BIGINT AS n_chars,
                   round(list_reduce(list_transform(tk, t -> len(t)::BIGINT), (a,b) -> a+b) / len(tk), 6) AS avg_token_len
            FROM toks
        """,
        "q22_quality_score": _quality_sql(),
        "q23_lang_id": _langid_sql(),
        "q24_dedup_exact": """
            WITH h AS (SELECT doc_id, md5(text) AS content_hash FROM documents),
            g AS (SELECT content_hash, count(*)::BIGINT AS group_size FROM h GROUP BY 1)
            SELECT doc_id, h.content_hash, group_size FROM h JOIN g USING (content_hash)
        """,
        "q25_minhash_lsh": _minhash_sql(),
        "q26_simhash": _simhash_sql(),
        "q27_ngram_jaccard": _jaccard_sql(),
        "q28_knn_bruteforce": _knn_sql(),
        "q41_ivf_knn": _ivf_sql(),
        "q42_link_prediction": _linkpred_sql(),
        "q29_embedding_neardup": _neardup_sql(),
        "q30_events_hourly": """
            SELECT date_trunc('hour', ts) AS hour, event_type,
                   count(*)::BIGINT AS n,
                   sum(value::DECIMAL(18,2))::DOUBLE AS total_value
            FROM events GROUP BY 1, 2
        """,
        "q31_sessionize": """
            WITH g AS (
              SELECT user_id, ts, event_id,
                     CASE WHEN floor(epoch(ts))::BIGINT - lag(floor(epoch(ts))::BIGINT) OVER w IS NULL
                               OR floor(epoch(ts))::BIGINT - lag(floor(epoch(ts))::BIGINT) OVER w > 1800
                          THEN 1 ELSE 0 END AS new_sess
              FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            s AS (SELECT user_id,
                         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS session_id
                  FROM g)
            SELECT user_id, session_id, count(*)::BIGINT AS n_events
            FROM s GROUP BY 1, 2
        """,
        "q34_hierarchy_closure": """
            WITH RECURSIVE h AS (
              SELECT p_partkey AS child, (p_partkey - p_partkey % 5) / 5 AS parent
              FROM part WHERE p_partkey > 0
            ),
            closure(node, ancestor) AS (
              SELECT child, parent FROM h
              UNION
              SELECT c.node, h.parent FROM closure c JOIN h ON c.ancestor = h.child
            )
            SELECT node::BIGINT AS node, ancestor::BIGINT AS ancestor FROM closure
        """,
        "q35_existence_pairs": f"""
            WITH edges_d AS ({_EDGES_SQL}),
            nodes AS (SELECT DISTINCT src AS id FROM edges_d WHERE src < 20)
            SELECT a.id AS a, b.id AS b,
                   CASE WHEN e.src IS NOT NULL THEN 1 ELSE 0 END AS label
            FROM nodes a JOIN nodes b ON a.id <> b.id
            LEFT JOIN (SELECT DISTINCT src, dst FROM edges_d) e
              ON e.src = a.id AND e.dst = b.id
        """,
        "q37_deterministic_sample": f"""
            SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
            WHERE {_h64_sql("o_orderkey::VARCHAR")} % 10 = 0
        """,
        "q38_rdf_triples": f"""
            WITH edges_d AS ({_EDGES_SQL})
            SELECT '<urn:bdf:node:' || src::VARCHAR ||
                   '> <urn:bdf:pred:links_to> <urn:bdf:node:' || dst::VARCHAR ||
                   '> .' AS triple
            FROM edges_d WHERE src < 30
        """,
        "q39_ic_similarity": """
            WITH RECURSIVE h AS (
              SELECT p_partkey::BIGINT AS child, ((p_partkey - p_partkey % 5) / 5)::BIGINT AS parent
              FROM part WHERE p_partkey > 0 AND p_partkey < 400
            ),
            closure(node, ancestor) AS (
              SELECT child, parent FROM h
              UNION
              SELECT c.node, h.parent FROM closure c JOIN h ON c.ancestor = h.child
            ),
            -- NB: plain UNION dedup misbehaves downstream of a recursive CTE
            -- in DuckDB 1.0 (self-pairs duplicated); force DISTINCT.
            nodes AS (SELECT DISTINCT node FROM (
                SELECT child AS node FROM h UNION ALL SELECT parent FROM h) t),
            anc AS (SELECT DISTINCT node, ancestor FROM (
                SELECT node, ancestor FROM closure
                UNION ALL SELECT node, node FROM nodes) t),
            nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
            ic AS (SELECT ancestor AS term, -ln(count(*) / (SELECT n FROM nn)) AS ic
                   FROM anc GROUP BY 1),
            mica AS (
              SELECT a.node AS a, b.node AS b, max(ic.ic) AS ic_mica
              FROM anc a JOIN anc b ON a.ancestor = b.ancestor AND a.node < b.node
              JOIN ic ON ic.term = a.ancestor
              GROUP BY 1, 2
            )
            SELECT a, b, sim FROM (
              SELECT m.a, m.b,
                     round(1.0 / (1.0 + ia.ic + ib.ic - 2 * m.ic_mica), 6) AS sim
              FROM mica m JOIN ic ia ON ia.term = m.a JOIN ic ib ON ib.term = m.b
            ) WHERE sim >= 0.25
        """,
        "q46_near_dup_clusters": _neardup_clusters_sql(),
        "q47_prediction_metrics": _metrics_sql(),
        "q45_rdf_full_graph": f"""
            WITH edges_d AS ({_EDGES_SQL}),
            e AS (SELECT src, dst FROM edges_d WHERE src < 30 AND dst < 30),
            v AS (SELECT DISTINCT id FROM (SELECT src AS id FROM e UNION ALL SELECT dst FROM e) t)
            SELECT triple FROM (
              SELECT '<urn:bdf:node:' || id ||
                     '> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <urn:bdf:type:' ||
                     CASE WHEN id % 2 = 0 THEN 'even' ELSE 'odd' END || '> .' AS triple FROM v
              UNION ALL
              SELECT '<urn:bdf:node:' || id ||
                     '> <http://www.w3.org/2000/01/rdf-schema#label> "node ' || id ||
                     '"^^<http://www.w3.org/2001/XMLSchema#string> .' FROM v
              UNION ALL
              SELECT '<urn:bdf:node:' || src || '> <urn:bdf:pred:links_to> <urn:bdf:node:' ||
                     dst || '> .' FROM e
              UNION ALL
              SELECT * FROM (VALUES
                ('<urn:bdf:graph> <http://purl.org/dc/terms/created> "2026-01-01T00:00:00Z"^^<http://www.w3.org/2001/XMLSchema#dateTime> .'),
                ('<urn:bdf:graph> <http://purl.org/dc/terms/title> "derived graph"^^<http://www.w3.org/2001/XMLSchema#string> .'),
                ('<urn:bdf:graph> <http://purl.org/dc/terms/creator> "bdf"^^<http://www.w3.org/2001/XMLSchema#string> .'),
                ('<urn:bdf:source:orders> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://rdfs.org/ns/void#Dataset> .'),
                ('<urn:bdf:source:orders> <http://www.w3.org/2000/01/rdf-schema#label> "orders"^^<http://www.w3.org/2001/XMLSchema#string> .'),
                ('<urn:bdf:graph> <http://purl.org/dc/terms/source> <urn:bdf:source:orders> .')
              ) m(triple)
            )
        """,
        "q32_lsh_knn": _lsh_sql(),
        "q33_multimodal_features": _multimodal_sql(),
        "q36_random_walks": _walks_sql(),
        "q43_skipgram_embeddings": _skipgram_sql(),
        "q44_biased_walks": _biased_walks_sql(),
        "q48_node2vec_walks": _node2vec_walks_sql(),
        "q49_shacl_shapes": _shacl_sql(),
        "q72_shex_shapes": _shex_sql(),
        "q50_hits3": _hits3_sql(),
        "q51_kcore3": _kcore3_sql(),
        "q52_host_rollup": _host_rollup_sql(),
        "q53_ppr5": _ppr5_sql(),
        "q54_scc": _scc_sql(),
        "q55_bfs_seeds": _bfs_sql(),
        "q56_clustering": _clustering_sql(),
        "q57_neighborhood3": _neighborhood3_sql(),
        "q58_adamic_adar": _adamic_adar_sql(),
        "q59_graph_scalars": _graph_scalars_sql(),
        "q60_bowtie": _bowtie_sql(),
        "q61_harmonic": _harmonic_sql(),
        "q62_contamination": _contamination_sql(),
        "q63_token_percentiles": _token_percentiles_sql(),
        "q64_modularity": _modularity_sql(),
        "q65_regional_revenue": _regional_revenue_sql(),
        "q66_edge_delta": _edge_delta_sql(),
        "q67_weighted_sample": _weighted_sample_sql(),
        "q68_anf_accuracy": _anf_accuracy_sql(),
        "q69_attribute_batches": _attribute_batches_sql(),
        "q70_patent_summary": _patent_summary_sql(),
        "q71_diameter_bound": _diameter_bound_sql(),
    }
