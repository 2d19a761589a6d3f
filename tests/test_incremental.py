"""Incremental PageRank: warm-starting from converged scores after a
graph delta re-converges faster and to the same fixpoint."""

import networkx as nx
import pytest

from conftest import graph_from_edges
from linkgraph.operators.pagerank import pagerank


def _ranks(res):
    return {r.id: r.rank for r in res.state.collect()}


def test_warm_start_same_fixpoint_fewer_iterations(spark):
    G = nx.gnp_random_graph(80, 0.06, seed=13, directed=True)
    base_edges = list(G.edges())
    g0 = graph_from_edges(spark, base_edges)
    converged = pagerank(g0, tol=1e-9)
    prev = converged.state

    # a small crawl delta: 5 new edges, 2 brand-new vertices
    delta = [(200, 0), (201, 200), (3, 201), (1, 7), (9, 2)]
    g1 = graph_from_edges(spark, base_edges + delta)

    cold = pagerank(g1, tol=1e-9)
    warm = pagerank(g1, tol=1e-9, init_ranks=prev)

    rc, rw = _ranks(cold), _ranks(warm)
    assert set(rc) == set(rw)
    for v in rc:
        assert rw[v] == pytest.approx(rc[v], abs=1e-6)
    # warm start begins an order of magnitude closer to the new
    # fixpoint (iteration counts are tol-tail-dominated and noisy;
    # the first delta is the honest closeness measure)
    assert warm.stats[0].delta < cold.stats[0].delta / 5
    # restarting AT the fixpoint converges almost immediately
    hot = pagerank(g1, tol=1e-9, init_ranks=cold.state)
    assert hot.iterations <= max(3, cold.iterations // 3)


def test_warm_start_scale_invariant(spark):
    g = graph_from_edges(spark, [(1, 2), (2, 3), (3, 1), (1, 3)])
    base = pagerank(g, tol=1e-10)
    scaled = base.state.selectExpr("id", "rank * 1000 AS rank")
    out = pagerank(g, tol=1e-10, init_ranks=scaled)
    for v, r in _ranks(out).items():
        assert r == pytest.approx(_ranks(base)[v], abs=1e-8)


def test_warm_start_rejects_degenerate_vector(spark):
    g = graph_from_edges(spark, [(1, 2), (2, 1)])
    zeros = spark.createDataFrame([(1, 0.0), (2, -0.0)], "id long, rank double")
    # all-zero init normalizes to nothing — loud, not a silent decay
    with pytest.raises(Exception):
        pagerank(g, tol=1e-6, init_ranks=zeros)


def _plan_len(df):
    return len(df._jdf.queryExecution().analyzed().toString())


def test_warm_start_chain_plan_stays_bounded(spark):
    """Each warm start from the fixpoint converges before the first
    truncate boundary; cutting the seed keeps the result's plan from
    nesting every earlier result's plan (chained deltas used to grow
    until the driver ran out of heap)."""
    G = nx.gnp_random_graph(40, 0.1, seed=5, directed=True)
    g = graph_from_edges(spark, list(G.edges()))
    cold = pagerank(g, tol=1e-9)
    res, lens = cold, []
    for _ in range(5):
        res = pagerank(g, tol=1e-9, init_ranks=res.state)
        lens.append(_plan_len(res.state))
        # fail at the first growth: an uncut chain grows its plan
        # multiplicatively and exhausts the driver heap by the 5th
        assert len(lens) < 3 or lens[-1] <= lens[1], lens
    rc, rw = _ranks(cold), _ranks(res)
    assert set(rc) == set(rw)
    for v in rc:
        assert rw[v] == pytest.approx(rc[v], abs=1e-6)


def test_wcc_warm_start_chain_plan_stays_bounded(spark):
    from linkgraph.operators.components import weakly_connected_components

    G = nx.gnp_random_graph(40, 0.05, seed=7, directed=True)
    g = graph_from_edges(spark, list(G.edges()), vertices=range(40))
    cold = weakly_connected_components(g)
    res, lens = cold, []
    for _ in range(5):
        res = weakly_connected_components(g, init_labels=res.state)
        lens.append(_plan_len(res.state))
        assert len(lens) < 3 or lens[-1] <= lens[1], lens
    labels = lambda r: {x.id: x.component for x in r.state.collect()}  # noqa: E731
    assert labels(res) == labels(cold)
