import os
import sys
from contextlib import contextmanager

import pytest

sys.path.insert(0, os.path.dirname(__file__))

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
# One session serves the whole suite: ~360 tests accumulate persisted
# frames and listener state, and the longest convergence runs OOMed
# the 8g default heap at a plan-string allocation (full-suite-only
# flake). 16g on a 128 GiB box keeps the accumulation comfortably
# inside the heap without masking real per-test regressions.
os.environ.setdefault("LINKGRAPH_DRIVER_MEM", "16g")

from linkgraph import LinkGraph, get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("linkgraph-tests", shuffle_partitions=8)
    yield s
    s.stop()


def graph_from_edges(spark, edges, directed=True, vertices=None):
    """edges: list of (src, dst[, weight]) int tuples."""
    rows = [(int(a), int(b), float(w[0]) if w else 1.0) for a, b, *w in edges]
    e = spark.createDataFrame(rows, "src long, dst long, weight double")
    v = None
    if vertices is not None:
        v = spark.createDataFrame([(int(x),) for x in vertices], "id long")
    return LinkGraph(e, v, directed=directed)


# --- fixtures from FIXTURES.md §2 (provenance: reference unit tests) ---------

# node name → id mapping used throughout: A=1 B=2 C=3 D=4 E=5, h=0, s_i=100+i

@pytest.fixture
def diamond_weighted(spark):
    # src/lib.rs:152-172 — Dijkstra path A→B→C→D cost 4.0
    return graph_from_edges(
        spark, [(1, 2, 1.0), (1, 3, 4.0), (2, 3, 2.0), (2, 4, 5.0), (3, 4, 1.0)]
    )


@pytest.fixture
def cycle_weighted(spark):
    # src/tests/graph_tests.rs:239-276 — A→D cost 5, D→B cost 7
    return graph_from_edges(
        spark, [(1, 2, 2.0), (2, 3, 1.0), (2, 4, 3.0), (3, 4, 2.0), (4, 1, 5.0)]
    )


@pytest.fixture
def bfs_dag(spark):
    # src/tests/graph_tests.rs:160-236 — levels {A:0,B:1,D:1,C:2,E:2}
    return graph_from_edges(spark, [(1, 2), (2, 3), (1, 4), (2, 5), (4, 5)])


@pytest.fixture
def two_components(spark):
    # graph.rs:1357-1367 doctest — WCC {A,B} {C,D}
    return graph_from_edges(spark, [(1, 2), (3, 4)], directed=False)


@pytest.fixture
def scc_mixed(spark):
    # digraph.rs:346-357 + tail — SCC {A,B,C} {D}; WCC = 1
    return graph_from_edges(spark, [(1, 2), (2, 3), (3, 1), (3, 4)])


@pytest.fixture
def triangle_plus_tail(spark):
    # triangle count 1; per-vertex {A:1,B:1,C:1,D:0}; clustering C=1/3
    return graph_from_edges(spark, [(1, 2), (2, 3), (3, 1), (3, 4)], directed=False)


@pytest.fixture
def star_hub(spark):
    # h→s_i i=1..50 — skew + dangling-mass fixture
    return graph_from_edges(spark, [(0, 100 + i) for i in range(1, 51)])


@pytest.fixture
def two_cliques_bridge(spark):
    # two 4-cliques joined by one bridge — the LPA community fixture
    c1 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    c2 = [(a, b) for a in range(11, 15) for b in range(a + 1, 15)]
    return graph_from_edges(spark, c1 + c2 + [(4, 11)], directed=False)


@contextmanager
def shuffle_plan(spark):
    """Force the shuffle SpMV plan: disable broadcast joins through
    ``spark.sql.autoBroadcastJoinThreshold`` (the setting
    plans/partitioning.spmv_plan reads) and restore it on exit."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "-1")
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def collect_map(df, k, v):
    return {r[k]: r[v] for r in df.collect()}


def pytest_configure(config):
    config.addinivalue_line("markers", "slow: multi-example property-based Spark tests")
