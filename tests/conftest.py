from __future__ import annotations

import pytest

from pybiodatafuse_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # 2 shuffle partitions: results are partition-count-independent (asserted
    # by the oracle-differential tests themselves), and on the tiny test
    # graphs task dispatch, not compute, is the wall-clock — measured on this
    # box: shuffle=8 → 576 s, shuffle=4 → 418 s suite wall. local[8] was
    # tried and is ~6% SLOWER than local[4] (scheduler overhead on tiny
    # tasks). Parallelism-sensitive behavior (salting) is pinned by explicit
    # num_salts/partitions args, not this default.
    # Whole-stage codegen OFF for the suite: at unit-test row counts the
    # Janino compile of every distinct plan costs far more than interpreted
    # execution saves; semantics are identical (it's a physical-execution
    # mode, and every result here is oracle-checked anyway). The one plan-
    # quality test that asserts codegen spans flips it back on locally.
    s = get_spark(
        "pybiodatafuse-tests",
        master="local[4]",
        shuffle_partitions=2,
        extra_conf={"spark.sql.codegen.wholeStage": "false"},
    )
    yield s


@pytest.fixture(scope="session")
def pages_df(spark):
    """Deterministic 400-page fixture table (cached)."""
    from pybiodatafuse_spark.datagen import generate_pages

    df = generate_pages(spark, 400, partitions=8).cache()
    df.count()
    return df


@pytest.fixture(scope="session")
def graph400(spark, pages_df):
    """The 400-page link graph, built and cached ONCE for the whole session
    — test_pagerank / test_hits_kcore_ppr / test_components all
    read the same (verts, edges, page_to_id); re-deriving it per module was
    ~5 s of setup each."""
    from tests.graph_fixture import id_maps, spark_graph

    verts, edges = spark_graph(pages_df)
    verts = verts.cache()
    edges = edges.cache()
    edges.count()
    _, page_to_id = id_maps(verts)
    return verts, edges, page_to_id
