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


def _patch_one_step(monkeypatch, module) -> list[int]:
    """Replace ``module.iterate`` with one superstep that records the largest
    generated method of the step's plan with its summed terms, then returns
    the checkpointed entry state as converged."""
    from pybiodatafuse_spark.plans.superstep import SuperstepResult

    sizes: list[int] = []

    def one_step(spark_, state, step_fn, **kwargs):
        state = state.localCheckpoint()
        new_state, delta, carry = step_fn(state, 1, {})
        terms = {"_delta": delta, **(carry or {})}
        cols = [t.alias(k) for k, t in terms.items() if t is not None]
        sizes.append(_max_method(new_state.select("*", *cols)))
        return SuperstepResult(state=state, supersteps=0, converged=True)

    monkeypatch.setattr(module, "iterate", one_step)
    return sizes


def _hub_graph(spark):
    """300 vertices: vertex 0 links to every other, each other to one more."""
    n = 300
    rows = [(0, i, 1.0) for i in range(1, n)]  # vertex 0: a hub source
    rows += [(i, (i % (n - 1)) + 1, 1.0) for i in range(1, n)]
    return spark.createDataFrame(rows, "src long, dst long, weight double")


@pytest.mark.parametrize("hub_threshold", [100, 10**9], ids=["salted", "hub_free"])
def test_pagerank_setup_and_step_methods_fit(spark, monkeypatch, hub_threshold):
    """The setup plans (vertex flags, pinned edge fractions) and the first
    superstep's plan with its summed terms, read from inside ``pagerank``."""
    import pybiodatafuse_spark.plans.pagerank as pr

    edges = _hub_graph(spark)
    steps = _patch_one_step(monkeypatch, pr)
    pr.pagerank(spark, edges, hub_threshold=hub_threshold, num_salts=4)

    edges_norm, init, salted, _ = pr._prepare(edges, None, 4, hub_threshold)
    edges_norm.unpersist()  # read the plan that fills the cache, not the scan
    assert salted == (hub_threshold == 100)
    sizes = {"step": steps[0]}
    sizes["init"] = _max_method(init)
    sizes["edges_norm"] = _max_method(edges_norm.select("*"))
    assert max(sizes.values()) < HUGE_METHOD_LIMIT, sizes


@pytest.mark.parametrize(
    "module, run",
    [
        ("components", lambda m, s, e: m.components(s, e)),
        ("labelprop", lambda m, s, e: m.label_propagation(s, e)),
        ("hits", lambda m, s, e: m.hits(s, e)),
        ("kcore", lambda m, s, e: m.k_core(s, e, k=2)),
        ("bfs", lambda m, s, e: m.bfs_distances(
            s, e, s.createDataFrame([(0,)], "id long"))),
    ],
    ids=["hash_min", "labelprop", "hits", "kcore", "bfs_expand"],
)
def test_first_superstep_methods_fit(spark, monkeypatch, module, run):
    """The first superstep's plan, with its summed terms, of every other
    loop that runs on ``iterate``, read from inside the public entry point."""
    import importlib

    mod = importlib.import_module(f"pybiodatafuse_spark.plans.{module}")
    steps = _patch_one_step(monkeypatch, mod)
    run(mod, spark, _hub_graph(spark).select("src", "dst"))
    assert len(steps) == 1, steps
    assert steps[0] < HUGE_METHOD_LIMIT, steps
