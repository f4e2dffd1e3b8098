"""Generated-code budget: hot plans must compile to methods HotSpot will JIT.

The suite runs with whole-stage codegen off (tests/conftest.py), but
production sessions run with it on. HotSpot does not JIT-compile a method
over 8000 bytecode bytes (unless started with
``-XX:-DontCompileHugeMethods``), so such a whole-stage subtree runs
interpreted, with no error and identical results.
This module turns codegen on and reads the largest generated method of each
hot plan from ``queryExecution().debug().codegenToSeq()`` (its
``ByteCodeStats.maxMethodCodeSize``). AQE is off here, as inside the
superstep loop, so the executed plan holds every subtree at once.
"""

from __future__ import annotations

import pytest

HUGE_METHOD_LIMIT = 8000


@pytest.fixture(scope="module", autouse=True)
def codegen_on(spark):
    old = {k: spark.conf.get(k) for k in (
        "spark.sql.codegen.wholeStage", "spark.sql.adaptive.enabled")}
    spark.conf.set("spark.sql.codegen.wholeStage", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    yield
    for k, v in old.items():
        spark.conf.set(k, v)


def _max_method(df) -> int:
    """Largest generated method, in bytecode bytes, over the whole-stage
    subtrees of ``df``'s executed plan."""
    stats = df._jdf.queryExecution().debug().codegenToSeq()
    sizes = []
    it = stats.iterator()
    while it.hasNext():
        sizes.append(it.next()._3().maxMethodCodeSize())
    assert sizes, "no whole-stage codegen subtree in the plan"
    return max(sizes)


def test_page_links_methods_fit(spark, pages_df):
    from pybiodatafuse_spark.operators.edges import page_links

    assert _max_method(page_links(pages_df)) < HUGE_METHOD_LIMIT


@pytest.mark.parametrize("hub_threshold", [100, 10**9], ids=["salted", "hub_free"])
def test_pagerank_setup_and_step_methods_fit(spark, monkeypatch, hub_threshold):
    """The setup plans (vertex flags, pinned edge fractions) and the first
    superstep's plan with its summed terms, read from inside ``pagerank``."""
    import pybiodatafuse_spark.plans.pagerank as pr
    from pybiodatafuse_spark.plans.superstep import SuperstepResult

    n = 300
    rows = [(0, i, 1.0) for i in range(1, n)]  # vertex 0: a hub source
    rows += [(i, (i % (n - 1)) + 1, 1.0) for i in range(1, n)]
    edges = spark.createDataFrame(rows, "src long, dst long, weight double")
    sizes = {}

    def one_step(spark_, state, step_fn, **kwargs):
        state = state.localCheckpoint()
        new_state, delta, carry = step_fn(state, 1, {})
        terms = [delta.alias("_delta")] + [t.alias(k) for k, t in carry.items()]
        sizes["step"] = _max_method(new_state.select("*", *terms))
        return SuperstepResult(state=state, supersteps=0)

    monkeypatch.setattr(pr, "iterate", one_step)
    pr.pagerank(spark, edges, hub_threshold=hub_threshold, num_salts=4)

    edges_norm, init, salted, _ = pr._prepare(edges, None, 4, hub_threshold)
    edges_norm.unpersist()  # read the plan that fills the cache, not the scan
    assert salted == (hub_threshold == 100)
    sizes["init"] = _max_method(init)
    sizes["edges_norm"] = _max_method(edges_norm.select("*"))
    assert max(sizes.values()) < HUGE_METHOD_LIMIT, sizes
