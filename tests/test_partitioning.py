"""The broadcast-or-shuffle SpMV plan selector (plans/partitioning) and
the transition operand pagerank and opic share."""

from types import SimpleNamespace

import pytest

from conftest import collect_map, graph_from_edges, shuffle_plan
from linkgraph.operators.crawl import opic
from linkgraph.operators.pagerank import pagerank
from linkgraph.plans.partitioning import (
    ROWS_PER_PARTITION,
    broadcast_state_rows,
    operand_partitions,
    spmv_plan,
)
from oracles import pagerank_oracle


def _session(threshold="64MB", shuffle_partitions="8"):
    """A stand-in session carrying only the confs the selector reads."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": threshold,
        "spark.sql.shuffle.partitions": shuffle_partitions,
    }
    return SimpleNamespace(
        conf=SimpleNamespace(get=lambda k, default=None: confs.get(k, default)),
        sparkContext=SimpleNamespace(defaultParallelism=4),
    )


@pytest.mark.parametrize(
    "threshold,row_bytes,rows",
    [
        ("64MB", 16, 4_194_304),
        ("10485760b", 16, 655_360),
        ("10485760", 24, 436_906),
        ("-1", 16, 0),
        ("not-a-size", 16, 0),
    ],
)
def test_broadcast_state_rows(threshold, row_bytes, rows):
    assert broadcast_state_rows(_session(threshold), row_bytes) == rows


@pytest.mark.parametrize(
    "rows,width,parts",
    [
        (0, "8", 1),
        (1, "8", 1),
        (ROWS_PER_PARTITION, "8", 1),
        (ROWS_PER_PARTITION + 1, "8", 2),
        (5 * ROWS_PER_PARTITION, "8", 5),
        (100 * ROWS_PER_PARTITION, "8", 8),
        (100 * ROWS_PER_PARTITION, "auto", 4),  # falls back to parallelism
    ],
)
def test_operand_partitions(rows, width, parts):
    assert operand_partitions(_session(shuffle_partitions=width), rows) == parts


def test_spmv_plan_keys():
    b = spmv_plan(_session("64MB"), 4_194_304, 3 * ROWS_PER_PARTITION)
    assert b.broadcast and b.n_parts == 3
    assert (b.operand_key(), b.operand_key("src")) == ("dst", "src")
    s = spmv_plan(_session("64MB"), 4_194_305, 1)
    assert not s.broadcast and s.n_parts == 1
    assert (s.operand_key(), s.operand_key("src")) == ("src", "dst")
    assert not spmv_plan(_session("-1"), 1, 1).broadcast


def test_shuffle_plan_context_switches_the_session(spark):
    key = "spark.sql.autoBroadcastJoinThreshold"
    before = spark.conf.get(key)
    assert spmv_plan(spark, 50, 100).broadcast
    with shuffle_plan(spark):
        assert not spmv_plan(spark, 50, 100).broadcast
    assert spark.conf.get(key) == before


def _counting_operands(graph):
    """Count transition-operand builds and hits through graph.operand."""
    counts = {"builds": 0, "hits": 0}
    orig = graph.operand

    def operand(key, build):
        if key[0] != "pr_trans":
            return orig(key, build)
        built = []

        def counted():
            built.append(True)
            return build()

        out = orig(key, counted)
        counts["builds" if built else "hits"] += 1
        return out

    graph.operand = operand
    return counts


EDGES = [(1, 2, 1.0), (1, 3, 2.0), (2, 3, 1.0), (3, 1, 1.0), (3, 4, 3.0), (5, 1, 1.0)]


@pytest.mark.parametrize("opic_first", [True, False])
def test_pagerank_and_opic_share_one_transition_operand(spark, opic_first):
    g = graph_from_edges(spark, EDGES)
    counts = _counting_operands(g)
    if opic_first:
        pr_opic = collect_map(opic(g, rounds=3), "id", "priority")
    got = collect_map(pagerank(g, tol=1e-10).state, "id", "rank")
    if not opic_first:
        pr_opic = collect_map(opic(g, rounds=3), "id", "priority")

    want = pagerank_oracle(EDGES, [1, 2, 3, 4, 5], tol=1e-10)
    assert got.keys() == want.keys()
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=1e-9)
    assert sum(pr_opic.values()) == pytest.approx(1.0)
    assert counts == {"builds": 1, "hits": 1}
    (trans,) = [v for k, v in g._operands.items() if k[0] == "pr_trans"]
    # under the cache: a parquet scan, not the join that computed it
    leaf = trans._jdf.queryExecution().logical().toString().splitlines()[-1]
    assert "Relation" in leaf and leaf.rstrip().endswith("parquet"), leaf
