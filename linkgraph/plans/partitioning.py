"""Stationary operands for iterative joins, and the one place that
decides the broadcast-or-shuffle plan of every SpMV power iteration.

The single biggest per-iteration cost in a frontier/label/SpMV loop
is re-shuffling the EDGE side of the join every round: a cached frame
without a known partitioning satisfies no join distribution, so
Catalyst exchanges all E rows per iteration. Caching the frame AFTER
an explicit repartition on the join key publishes
HashPartitioning(key, P) through the InMemoryTableScan — the edge
operand then never moves again and only the (V-row) state side
shuffles. Measured on PageRank (scaling_bench): local[32] throughput
+36% from this alone.

Partition count is sized by DATA (~2M rows ≈ 50 MB per partition),
capped at the session shuffle width: big inputs keep the full-width
CSR layout, small inputs avoid paying a fixed 64-empty-task scheduler
floor per iteration.

SpMV operators (pagerank, opic, HITS, SALSA, Katz, eigenvector,
skip-gram) take their plan from ``spmv_plan``: the state broadcasts
when it fits ``spark.sql.autoBroadcastJoinThreshold`` — the same
setting Spark uses for its own joins — and shuffles otherwise.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import TYPE_CHECKING

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from linkgraph.plans.iterate import truncate_lineage

if TYPE_CHECKING:
    from linkgraph.graph import LinkGraph

ROWS_PER_PARTITION = 2_000_000


def shuffle_width(spark: SparkSession) -> int:
    """The session's shuffle width as an int. Some managed runtimes
    set ``spark.sql.shuffle.partitions`` to a non-numeric value
    (e.g. "auto"); fall back to the cluster's default parallelism
    rather than crashing on a user-supplied session."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (ValueError, TypeError):
        return int(spark.sparkContext.defaultParallelism)


_SIZE_SUFFIX = {
    "b": 1, "k": 1024, "kb": 1024, "m": 1024**2, "mb": 1024**2,
    "g": 1024**3, "gb": 1024**3, "t": 1024**4, "tb": 1024**4,
}


def _parse_bytes_conf(v: str) -> int:
    """Spark size-string ("64MB", "10485760b", "-1") → bytes."""
    s = str(v).strip().lower()
    for suf in sorted(_SIZE_SUFFIX, key=len, reverse=True):
        if s.endswith(suf):
            return int(float(s[: -len(suf)]) * _SIZE_SUFFIX[suf])
    return int(float(s))


def broadcast_state_rows(spark: SparkSession, row_bytes: int = 16) -> int:
    """How many rows of a vertex-state frame of ``row_bytes``-byte
    rows this session would BROADCAST, mirroring the judgment Spark's
    own AQE makes through ``spark.sql.autoBroadcastJoinThreshold`` —
    the one knob cluster operators already tune per topology. With
    the engine's 64 MB session default that is ~4M 16-byte rows,
    exactly the regime where the broadcast plan measured 3.1x on 160M
    Zipf edges (BENCH/BASELINE.md Job 4); Spark's stock 10 MB stays
    conservative (~650k rows) for untuned many-executor clusters,
    where per-round broadcast bytes scale with executor count.
    Returns 0 when broadcast is disabled (threshold <= 0) or the conf
    is unparseable."""
    try:
        b = _parse_bytes_conf(
            spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
        )
    except (ValueError, TypeError):
        return 0
    return max(0, b // max(1, row_bytes))


def operand_partitions(spark: SparkSession, rows: int) -> int:
    """Partition count of a ``rows``-row stationary operand:
    ceil(rows / ROWS_PER_PARTITION), capped at the session's shuffle
    width, at least 1."""
    return max(1, min(shuffle_width(spark), -(-rows // ROWS_PER_PARTITION)))


@dataclass(frozen=True)
class SpmvPlan:
    """The physical plan of one sparse matrix-vector push per round:
    a V-row state frame joined against a stationary E-row operand and
    summed by the operand's output key.

    - broadcast: the state ships whole into the join every round and
      the operand is hash-partitioned on the OUTPUT key, so the join,
      the per-vertex sum and the state merge run with no Exchange;
    - shuffle: the operand is hash-partitioned on the INPUT key, so
      the state⋈operand join co-partitions and only the pre-combined
      per-vertex sum (O(V·P) rows, never O(E)) shuffles.

    Only ``spmv_plan`` makes the choice; operators read it."""

    broadcast: bool
    n_parts: int

    def operand_key(self, out: str = "dst") -> str:
        """The column the operand of a push that sums by ``out``
        ("dst" forward, "src" reverse) is hash-partitioned on."""
        if self.broadcast:
            return out
        return "src" if out == "dst" else "dst"

    def state(self, df: DataFrame) -> DataFrame:
        """The state frame as this plan joins it."""
        return F.broadcast(df) if self.broadcast else df


def spmv_plan(
    spark: SparkSession, state_rows: int, operand_rows: int, row_bytes: int = 16
) -> SpmvPlan:
    """Broadcast when the ``state_rows`` × ``row_bytes`` state fits
    ``spark.sql.autoBroadcastJoinThreshold``, shuffle otherwise
    (set the threshold to -1 to force the shuffle plan); the operand
    gets ``operand_partitions(operand_rows)`` partitions."""
    return SpmvPlan(
        broadcast=state_rows <= broadcast_state_rows(spark, row_bytes),
        n_parts=operand_partitions(spark, operand_rows),
    )


def transition_operand(
    graph: LinkGraph,
    plan: SpmvPlan,
    w: Column,
    out_sums: DataFrame,
    weighted: bool,
    memo: bool = True,
) -> DataFrame:
    """The row-stochastic transition operand (src, dst, p) with
    p = w(u,v) / Σ_x w(u,x), shared by pagerank and opic.

    The parquet roundtrip UNDER the cache matters: persisting a frame
    whose lineage contains AQE shuffles is fragile on long runs (an
    evicted or lazily-missing cache partition recomputes through
    shuffle files the cleaner may have already removed —
    "shuffle_N.data does not exist"); with the roundtrip, any
    recompute is a durable parquet scan. The repartition on the
    plan's key publishes HashPartitioning through the cache, so the
    edge table never re-shuffles across rounds; the cache fills on
    first use.

    ``memo``: park the operand on the graph object (a pure function of
    the graph and ``weighted``); pass False when ``w`` is call-local
    (a weight expression — Columns are not stable cache keys) and
    unpersist the result when done."""
    edges = graph.sym_edges

    def build() -> DataFrame:
        return (
            truncate_lineage(
                edges.join(out_sums, "src")
                .select("src", "dst", (w / F.col("out_w")).alias("p"))
            )
            .repartition(plan.n_parts, plan.operand_key())
            .persist()
        )

    if not memo:
        return build()
    key = ("pr_trans", bool(weighted), plan.operand_key(), plan.n_parts)
    return graph.operand(key, build)


def stationary(
    df: DataFrame, key: str | list[str] = "src", rows: int | None = None
) -> DataFrame:
    """Hash-partition ``df`` by ``key`` (a column name or list of
    names; data-sized partition count) and persist, so every later
    join keyed on ``key`` reads it without an Exchange. Caller
    unpersists."""
    keys = [key] if isinstance(key, str) else list(key)
    m = rows if rows is not None else df.count()
    return df.repartition(operand_partitions(df.sparkSession, m), *keys).persist()
