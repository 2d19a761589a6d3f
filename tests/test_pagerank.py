import random

import numpy as np
import pytest

from conftest import collect_map, graph_from_edges
from linkgraph import LinkGraph
from linkgraph.operators.pagerank import pagerank
from linkgraph.sources.pages import pages_dataframe
from oracles import pagerank_oracle


def _compare(graph, tol=1e-8, weighted=True, undirected=False, atol=1e-6):
    edges = [(r["src"], r["dst"], r["weight"]) for r in graph.edges.collect()]
    verts = [r["id"] for r in graph.vertices.select("id").collect()]
    res = pagerank(graph, tol=tol, max_iter=200, weighted=weighted)
    got = collect_map(res.state, "id", "rank")
    want = pagerank_oracle(edges, verts, tol=tol, weighted=weighted, undirected=undirected)
    assert set(got) == set(want)
    a = np.array([got[k] for k in sorted(got)])
    b = np.array([want[k] for k in sorted(want)])
    assert np.allclose(a, b, atol=atol), float(np.abs(a - b).max())
    assert abs(a.sum() - 1.0) < 1e-9
    return res


def test_pagerank_diamond(diamond_weighted):
    _compare(diamond_weighted)


def test_pagerank_cycle(cycle_weighted):
    _compare(cycle_weighted)


def test_pagerank_dangling_star(star_hub):
    # all 50 spokes are dangling: dangling-mass redistribution path
    _compare(star_hub)


def test_pagerank_undirected(two_cliques_bridge):
    _compare(two_cliques_bridge, undirected=True)


def test_pagerank_unweighted(cycle_weighted):
    _compare(cycle_weighted, weighted=False)


def test_pagerank_random_graph(spark):
    rng = np.random.RandomState(83810)  # reference seed convention
    n, m = 100, 500
    seen, edges = set(), []
    while len(edges) < m:
        a, b = rng.randint(0, n), rng.randint(0, n)
        if a != b and (a, b) not in seen:
            seen.add((a, b))
            edges.append((a, b, float(rng.uniform(1, 10))))
    g = graph_from_edges(spark, edges, vertices=range(n))
    _compare(g)


def test_pagerank_webgraph(spark):
    pages = pages_dataframe(spark, 300, n_domains=30)
    g = LinkGraph.from_pages(pages)
    _compare(g)


def test_pagerank_isolated_vertices(spark):
    g = graph_from_edges(spark, [(1, 2)], vertices=[1, 2, 3])
    _compare(g)


def test_pagerank_empty(spark):
    g = LinkGraph.empty(spark)
    assert pagerank(g).state.count() == 0


def test_pagerank_personalized(spark, star_hub):
    """Personalization vector: teleport mass to vertex 0 only;
    dangling mass also redistributes by p (NetworkX semantics)."""
    from conftest import collect_map

    g = star_hub
    edges = [(r["src"], r["dst"], r["weight"]) for r in g.edges.collect()]
    verts = [r["id"] for r in g.vertices.select("id").collect()]
    p = spark.createDataFrame([(verts[0], 1.0)], "id long, p double")
    res = pagerank(g, tol=1e-10, max_iter=300, personalization=p)
    got = collect_map(res.state, "id", "rank")
    want = pagerank_oracle(
        edges, verts, tol=1e-10, personalization={verts[0]: 1.0}
    )
    a = np.array([got[k] for k in sorted(got)])
    b = np.array([want[k] for k in sorted(want)])
    assert np.allclose(a, b, atol=1e-8), float(np.abs(a - b).max())
    assert abs(a.sum() - 1.0) < 1e-9


def test_pagerank_personalized_partial(spark, diamond_weighted):
    """Unnormalized p over a subset; engine normalizes, others get 0."""
    from conftest import collect_map

    g = diamond_weighted
    p = spark.createDataFrame([(1, 3.0), (4, 1.0)], "id long, p double")
    res = pagerank(g, tol=1e-10, max_iter=300, personalization=p)
    got = collect_map(res.state, "id", "rank")
    edges = [(r["src"], r["dst"], r["weight"]) for r in g.edges.collect()]
    verts = [r["id"] for r in g.vertices.select("id").collect()]
    want = pagerank_oracle(edges, verts, tol=1e-10, personalization={1: 3.0, 4: 1.0})
    for k in got:
        assert abs(got[k] - want[k]) < 1e-8


def test_broadcast_plan_matches_shuffle_plan(spark, two_cliques_bridge, star_hub):
    """The V≪E broadcast-SpMV plan (zero per-iteration shuffle, the
    default at this V) is value-identical to the shuffle plan forced
    through spark.sql.autoBroadcastJoinThreshold=-1, dangling mass and
    all."""
    from conftest import shuffle_plan

    for g in (two_cliques_bridge, star_hub):
        b = collect_map(pagerank(g, tol=1e-10).state, "id", "rank")
        with shuffle_plan(spark):
            a = collect_map(pagerank(g, tol=1e-10).state, "id", "rank")
        assert a.keys() == b.keys()
        ks = sorted(a)
        assert np.allclose([a[k] for k in ks], [b[k] for k in ks], atol=1e-12)


def test_trustrank_equals_seed_personalized_pagerank(spark, star_hub):
    """trustrank == pagerank with a uniform-over-seeds teleport; seeds
    collapse duplicates; result matches the pure-Python oracle."""
    from conftest import collect_map
    from linkgraph.operators.pagerank import trustrank

    g = star_hub
    edges = [(r["src"], r["dst"], r["weight"]) for r in g.edges.collect()]
    verts = sorted(r["id"] for r in g.vertices.select("id").collect())
    seed_ids = verts[:2]
    seeds = spark.createDataFrame(
        [(i,) for i in seed_ids + seed_ids], "id long"  # dup rows collapse
    )
    got = collect_map(
        trustrank(g, seeds, tol=1e-10, max_iter=300).state, "id", "rank"
    )
    want = pagerank_oracle(
        edges, verts, tol=1e-10,
        personalization={i: 1.0 / len(seed_ids) for i in seed_ids},
    )
    a = np.array([got[k] for k in sorted(got)])
    b = np.array([want[k] for k in sorted(want)])
    assert np.allclose(a, b, atol=1e-8), float(np.abs(a - b).max())


def test_trustrank_empty_seeds_raises(spark, star_hub):
    from linkgraph.operators.pagerank import trustrank

    seeds = spark.createDataFrame([], "id long")
    with pytest.raises(ValueError, match="non-empty seed"):
        trustrank(star_hub, seeds)


def test_ppr_batch_converges_to_networkx_personalized(spark):
    from linkgraph.operators.pagerank import personalized_pagerank_batch

    rng = random.Random(77)
    edges = sorted({(rng.randrange(15), rng.randrange(15)) for _ in range(45)})
    edges = [(a, b) for a, b in edges if a != b]
    g = graph_from_edges(spark, edges, directed=True)
    seeds_df = spark.createDataFrame([(0,), (3,)], "seed long")
    # alpha 0.5, k 40: geometric tail 0.5^40 ~ 1e-12 of the fixpoint
    out = personalized_pagerank_batch(g, seeds_df, k=40, alpha=0.5)
    got = {}
    for r in out.collect():
        got.setdefault(r["seed"], {})[r["id"]] = r["rank"]
    verts = sorted({x for e in edges for x in e})
    we = [(a, b, 1.0) for a, b in edges]
    for seed in (0, 3):
        want = pagerank_oracle(we, verts, alpha=0.5, tol=1e-14,
                               max_iter=500, personalization={seed: 1.0})
        for v, x in want.items():
            assert abs(got[seed].get(v, 0.0) - x) < 1e-9, (seed, v)


def test_ppr_batch_dangling_folds_to_seed(spark):
    from linkgraph.operators.pagerank import personalized_pagerank_batch

    # 0 -> 1, 1 dangling: mass cycles back to the seed
    g = graph_from_edges(spark, [(0, 1)], directed=True)
    seeds_df = spark.createDataFrame([(0,)], "seed long")
    got = {r["id"]: r["rank"]
           for r in personalized_pagerank_batch(g, seeds_df, k=30,
                                                alpha=0.5).collect()}
    want = pagerank_oracle([(0, 1, 1.0)], [0, 1], alpha=0.5, tol=1e-14,
                           max_iter=500, personalization={0: 1.0})
    for v, x in want.items():
        assert abs(got[v] - x) < 1e-9


def test_ppr_batch_mass_is_sparse_and_conserved(spark):
    from linkgraph.operators.pagerank import personalized_pagerank_batch

    # chain 0->1->2->3->4: at k=2 only the 2-hop neighborhood has mass
    g = graph_from_edges(spark, [(i, i + 1) for i in range(5)], directed=True)
    seeds_df = spark.createDataFrame([(0,)], "seed long")
    rows = personalized_pagerank_batch(g, seeds_df, k=2, alpha=0.85).collect()
    ids = {r["id"] for r in rows}
    assert ids == {0, 1, 2}
    assert abs(sum(r["rank"] for r in rows) - 1.0) < 1e-12


def test_blockrank_same_fixpoint_fewer_iterations(spark):
    """BlockRank (Kamvar et al. 2003): host-block warm start reaches
    the identical fixpoint in fewer page-level power iterations on a
    block-structured graph (dense intra-host rings, sparse inter-host
    links, skewed block popularity)."""
    from linkgraph.operators.pagerank import blockrank, pagerank

    edges, blocks = [], []
    n_blocks, per = 6, 6
    for b in range(n_blocks):
        base = 100 * b
        for i in range(per):
            blocks.append((base + i, f"host{b}"))
            edges.append((base + i, base + (i + 1) % per, 1.0))
            edges.append((base + i, base + (i + 2) % per, 1.0))
    # sparse inter-block links, popularity skewed toward block 0
    for b in range(1, n_blocks):
        edges.append((100 * b, 0, 1.0))          # everyone cites host0
        edges.append((100 * b + 1, 100 * (b - 1), 1.0))
    g = graph_from_edges(spark, edges, directed=True)
    bdf = spark.createDataFrame(blocks, "id long, block string")

    cold = pagerank(g, tol=1e-10, max_iter=300)
    warm = blockrank(g, bdf, tol=1e-10, max_iter=300)

    got = {r["id"]: r["rank"] for r in warm.state.collect()}
    want = {r["id"]: r["rank"] for r in cold.state.collect()}
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=1e-8)
    assert len(warm.stats) < len(cold.stats)
