"""HITS and eigenvector centrality vs pinned oracles.

NetworkX 3.x's ``nx.hits`` delegates to SciPy (absent in this
sandbox), so HITS is pinned against a numpy power-iteration replica
of the documented semantics (L1-normalized Kleinberg iteration — the
same fixpoint, since per-iteration scaling is scalar and cancels).
``nx.eigenvector_centrality`` is pure Python and used directly.
"""

from __future__ import annotations

import random

import networkx as nx
import numpy as np
import pytest

from conftest import graph_from_edges
from linkgraph.operators.spectral import (
    eigenvector_centrality,
    katz_centrality,
    eigenvector_centrality_fixed_iterations,
    hits,
    hits_fixed_iterations,
    salsa,
    salsa_fixed_iterations,
)
from linkgraph.plans.iterate import ConvergenceError


def _hits_replica(edges, vertices, k=None, tol=1e-8, max_iter=100):
    """The documented engine semantics in numpy: a = A^T h / Σ,
    h = A a / Σ, stop at Σ|Δh| < n·tol (or exactly k iterations)."""
    idx = {v: i for i, v in enumerate(vertices)}
    n = len(vertices)
    A = np.zeros((n, n))
    for u, v, w in edges:
        A[idx[u], idx[v]] += w
    h = np.full(n, 1.0 / n)
    a = np.zeros(n)
    rounds = k if k is not None else max_iter
    for _ in range(rounds):
        hold = h
        a = A.T @ h
        a = a / a.sum()
        h = A @ a
        h = h / h.sum()
        if k is None and np.abs(h - hold).sum() < n * tol:
            break
    return (
        {v: h[idx[v]] for v in vertices},
        {v: a[idx[v]] for v in vertices},
    )


def _rand_edges(seed, n=25, m=80, wmax=4, canonical=False):
    """``canonical=True`` emits each unordered pair once (a<b) — the
    undirected fixtures need this because nx.Graph OVERWRITES the
    weight when fed both (a,b,w1) and (b,a,w2) while the engine's
    symmetrization sums the two parallel rows."""
    rng = random.Random(seed)
    pairs = {(rng.randrange(n), rng.randrange(n)) for _ in range(m)}
    if canonical:
        pairs = {(min(a, b), max(a, b)) for a, b in pairs}
    return [(a, b, float(rng.randrange(1, wmax + 1)))
            for a, b in sorted(pairs) if a != b]


def test_hits_fixed_iterations_vs_replica(spark):
    edges = _rand_edges(7)
    g = graph_from_edges(spark, edges, directed=True)
    got = {r["id"]: (r["hub"], r["authority"]) for r in
           hits_fixed_iterations(g, k=4).collect()}
    verts = sorted({x for e in edges for x in e[:2]})
    h, a = _hits_replica(edges, verts, k=4)
    assert set(got) == set(verts)
    for v in verts:
        assert abs(got[v][0] - h[v]) < 1e-9, ("hub", v)
        assert abs(got[v][1] - a[v]) < 1e-9, ("authority", v)


def test_hits_converged_vs_replica(spark):
    edges = _rand_edges(13)
    g = graph_from_edges(spark, edges, directed=True)
    res = hits(g, tol=1e-10, max_iter=500)
    got = {r["id"]: (r["hub"], r["authority"]) for r in res.state.collect()}
    verts = sorted({x for e in edges for x in e[:2]})
    h, a = _hits_replica(edges, verts, tol=1e-10, max_iter=500)
    for v in verts:
        assert abs(got[v][0] - h[v]) < 1e-7
        assert abs(got[v][1] - a[v]) < 1e-7


def test_hits_bipartite_roles(spark):
    # pure hubs (no in-edges) get authority 0; pure authorities hub 0
    edges = [(1, 10, 1.0), (1, 11, 1.0), (2, 10, 2.0)]
    g = graph_from_edges(spark, edges, directed=True)
    got = {r["id"]: r for r in hits_fixed_iterations(g, k=3).collect()}
    assert got[10]["hub"] == 0.0 and got[11]["hub"] == 0.0
    assert got[1]["authority"] == 0.0 and got[2]["authority"] == 0.0
    assert abs(sum(r["hub"] for r in got.values()) - 1.0) < 1e-9
    assert abs(sum(r["authority"] for r in got.values()) - 1.0) < 1e-9


def test_hits_exhaustion_raises(spark):
    edges = _rand_edges(7)
    g = graph_from_edges(spark, edges, directed=True)
    with pytest.raises(ConvergenceError):
        hits(g, tol=1e-15, max_iter=2)


def test_eigenvector_vs_networkx_undirected(spark):
    edges = _rand_edges(3, canonical=True)
    g = graph_from_edges(spark, edges, directed=False)
    got = {r["id"]: r["centrality"] for r in
           eigenvector_centrality(g, tol=1e-10, max_iter=1000).state.collect()}
    G = nx.Graph()
    G.add_weighted_edges_from(edges)
    want = nx.eigenvector_centrality(G, tol=1e-10, max_iter=1000, weight="weight")
    for v, x in want.items():
        assert abs(got[v] - x) < 1e-6, (v, got[v], x)


def test_eigenvector_vs_networkx_directed(spark):
    # strongly-connected digraph so the in-edge eigenvector is positive
    rng = random.Random(9)
    n = 12
    cyc = [(i, (i + 1) % n, 1.0) for i in range(n)]
    extra = [
        (rng.randrange(n), rng.randrange(n), float(rng.randrange(1, 4)))
        for _ in range(25)
    ]
    edges = cyc + [(a, b, w) for a, b, w in extra if a != b]
    g = graph_from_edges(spark, edges, directed=True)
    got = {r["id"]: r["centrality"] for r in
           eigenvector_centrality(g, tol=1e-10, max_iter=2000).state.collect()}
    G = nx.DiGraph()
    for a, b, w in edges:
        G.add_edge(a, b, weight=G.edges[a, b]["weight"] + w if G.has_edge(a, b) else w)
    want = nx.eigenvector_centrality(G, tol=1e-10, max_iter=2000, weight="weight")
    for v, x in want.items():
        assert abs(got[v] - x) < 1e-6, (v, got[v], x)


def test_eigenvector_fixed_iterations_deterministic(spark):
    edges = _rand_edges(21)
    g = graph_from_edges(spark, edges, directed=False)
    a = {r["id"]: r["centrality"]
         for r in eigenvector_centrality_fixed_iterations(g, 4).collect()}
    b = {r["id"]: r["centrality"]
         for r in eigenvector_centrality_fixed_iterations(g, 4).collect()}
    assert a == b


def test_spectral_empty_graph(spark):
    from linkgraph import LinkGraph

    e = spark.createDataFrame([], "src long, dst long, weight double")
    g = LinkGraph(e, directed=True)
    assert hits(g).state.count() == 0
    assert eigenvector_centrality(g).state.count() == 0


def test_katz_vs_networkx_directed(spark):
    edges = _rand_edges(21)
    g = graph_from_edges(spark, edges, directed=True)
    got = {r["id"]: r["centrality"] for r in
           katz_centrality(g, alpha=0.05, tol=1e-10,
                           max_iter=2000).state.collect()}
    G = nx.DiGraph()
    for a, b, w in edges:
        G.add_edge(a, b, weight=G.edges[a, b]["weight"] + w if G.has_edge(a, b) else w)
    want = nx.katz_centrality(G, alpha=0.05, tol=1e-10, max_iter=2000,
                              weight="weight")
    assert set(got) == set(want)
    for v, x in want.items():
        assert abs(got[v] - x) < 1e-6, (v, got[v], x)


def test_katz_vs_networkx_undirected(spark):
    edges = _rand_edges(5, canonical=True)
    g = graph_from_edges(spark, edges, directed=False)
    got = {r["id"]: r["centrality"] for r in
           katz_centrality(g, alpha=0.04, beta=0.7, tol=1e-10,
                           max_iter=2000).state.collect()}
    G = nx.Graph()
    G.add_weighted_edges_from(edges)
    want = nx.katz_centrality(G, alpha=0.04, beta=0.7, tol=1e-10,
                              max_iter=2000, weight="weight")
    for v, x in want.items():
        assert abs(got[v] - x) < 1e-6, (v, got[v], x)


def test_katz_exhaustion_raises(spark):
    # alpha beyond 1/λ_max diverges — the loop must fail loudly
    edges = _rand_edges(7)
    g = graph_from_edges(spark, edges, directed=True)
    with pytest.raises(ConvergenceError):
        katz_centrality(g, alpha=0.05, tol=1e-15, max_iter=2)


def _salsa_replica(edges, vertices, k=None, tol=1e-8, max_iter=100):
    """Documented SALSA semantics in numpy: the degree-normalized
    alternating walk with per-step L1 normalization."""
    idx = {v: i for i, v in enumerate(vertices)}
    n = len(vertices)
    A = np.zeros((n, n))
    for u, v in edges:
        A[idx[u], idx[v]] = 1.0
    od = A.sum(axis=1)
    idg = A.sum(axis=0)
    Wa = np.divide(A, od[:, None], out=np.zeros_like(A), where=od[:, None] > 0)
    Wh = np.divide(A, idg[None, :], out=np.zeros_like(A), where=idg[None, :] > 0)
    h = np.full(n, 1.0 / n)
    a = np.zeros(n)
    rounds = k if k is not None else max_iter
    for _ in range(rounds):
        hold = h
        a = Wa.T @ h
        a = a / a.sum()
        h = Wh @ a
        h = h / h.sum()
        if k is None and np.abs(h - hold).sum() < n * tol:
            break
    return ({v: h[idx[v]] for v in vertices}, {v: a[idx[v]] for v in vertices})


def test_salsa_fixed_iterations_vs_replica(spark):
    edges = [(a, b) for a, b, _ in _rand_edges(19)]
    g = graph_from_edges(spark, edges, directed=True)
    got = {r["id"]: (r["hub"], r["authority"]) for r in
           salsa_fixed_iterations(g, k=4).collect()}
    verts = sorted({x for e in edges for x in e})
    h, a = _salsa_replica(edges, verts, k=4)
    for v in verts:
        assert abs(got[v][0] - h[v]) < 1e-9, ("hub", v)
        assert abs(got[v][1] - a[v]) < 1e-9, ("authority", v)


def test_salsa_converged_vs_replica(spark):
    # tol 1e-8, not 1e-10: the replica mirrors the engine's stop rule,
    # so both halt at the SAME iteration and parity stays exact — the
    # tighter tol only added ~100 Spark iterations of wall time.
    # clearCache first: this is the suite's longest iterative run and
    # the one that trips on cache blocks leaked by ~250 earlier tests
    # (every returned IterationResult state stays persisted); passes
    # at file scope, flaked only under the full suite.
    spark.catalog.clearCache()
    edges = [(a, b) for a, b, _ in _rand_edges(23)]
    g = graph_from_edges(spark, edges, directed=True)
    res = salsa(g, tol=1e-8, max_iter=300)
    got = {r["id"]: (r["hub"], r["authority"]) for r in res.state.collect()}
    verts = sorted({x for e in edges for x in e})
    h, a = _salsa_replica(edges, verts, tol=1e-8, max_iter=300)
    for v in verts:
        assert abs(got[v][0] - h[v]) < 1e-7
        assert abs(got[v][1] - a[v]) < 1e-7


def test_broadcast_plans_match_shuffle(spark):
    """The exchange-free broadcast plans (the default at this V) reach
    the same fixpoints as the shuffle plans forced through the
    broadcast threshold for HITS, SALSA, Katz and eigenvector (same
    contract as pagerank's broadcast==shuffle parity test)."""
    import random

    from conftest import collect_map, graph_from_edges, shuffle_plan
    from linkgraph.operators.spectral import (
        eigenvector_centrality,
        hits,
        katz_centrality,
        salsa,
    )

    rng = random.Random(13)
    edges = list({(rng.randrange(30), rng.randrange(30)) for _ in range(90)})
    edges = [(a, b, 1.0 + (a + b) % 3) for a, b in edges if a != b]
    g = graph_from_edges(spark, edges, directed=True)

    for fn, col in (
        (hits, "authority"),
        (salsa, "authority"),
        (katz_centrality, "centrality"),
        (eigenvector_centrality, "centrality"),
    ):
        with shuffle_plan(spark):
            a = collect_map(fn(g).state, "id", col)
        b = collect_map(fn(g).state, "id", col)
        assert set(a) == set(b)
        for k in a:
            assert abs(a[k] - b[k]) < 1e-9, (fn.__name__, k)
