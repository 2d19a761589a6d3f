"""Spectral link-analysis operators: HITS and eigenvector centrality.

Both are power iterations over the stationary edge operand, the same
SpMV shape as PageRank (the reference's benchmark-surface link-
analysis op, /root/reference/benchmarks/src/benchmark_networkx.py:
217-222): hub/authority scores are the dominant left/right singular
pair of the adjacency matrix (Kleinberg's HITS — the fixpoint
``networkx.hits`` computes via SVD), eigenvector centrality the
dominant eigenvector of A+I (exactly NetworkX's pure-Python
``eigenvector_centrality`` update).

Physical plan per iteration (the 100 TB shape, mirroring pagerank.py):

- HITS joins the edge table TWICE per iteration (hub→authority keyed
  by src, authority→hub keyed by dst), so TWO stationary copies are
  cached, each hash-partitioned on the key its join probes — neither
  copy ever re-shuffles; only the V-row score frame moves.
- the broadcast-or-shuffle plan of each push comes from
  plans/partitioning.spmv_plan and follows
  ``spark.sql.autoBroadcastJoinThreshold``: when the V-row score frame
  fits it, the frame broadcasts into the join and the operand is read
  keyed by the push's OUTPUT key, so the sum and the state merge run
  with no Exchange.
- per-iteration normalization constants (L1 for HITS, L2 for
  eigenvector) ride as in-plan 1-row broadcasts — no collect.
- the convergence delta is carried as a column on the state (one agg
  action per iteration, no second join), and lineage is truncated by
  the shared ``iterate`` driver.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from linkgraph.graph import LinkGraph
from linkgraph.operators.pagerank import _weight_col
from linkgraph.plans.iterate import IterationResult, iterate, truncate_lineage
from linkgraph.plans.partitioning import spmv_plan, stationary


def hits(
    graph: LinkGraph,
    tol: float = 1e-8,
    max_iter: int = 100,
    weighted: bool = True,
    weight_expr: Column | str | None = None,
    truncate_every: int = 3,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 0,
    on_exhaustion: str = "raise",
) -> IterationResult:
    """Kleinberg HITS: IterationResult whose state is
    DataFrame(id, hub, authority), both L1-normalized (sum 1).

    Per iteration: authority'(v) = Σ_{u→v} w(u,v)·hub(u), then
    L1-normalize; hub'(u) = Σ_{u→v} w(u,v)·authority'(v), then
    L1-normalize. Stop when Σ|hub'-hub| < n·tol (the same N-scaled
    stop rule as pagerank); exhausting ``max_iter`` raises. This is
    the classic power iteration whose fixpoint is the dominant
    left/right singular pair — the same scores ``networkx.hits``
    converges to (NetworkX computes them via scipy SVD; parity is
    pinned against a numpy replica in tests/test_spectral.py since
    the per-iteration scaling constant is the only difference and it
    cancels under the final normalization).

    Undirected graphs symmetrize (hub = authority then, as in
    NetworkX). Vertices with no out-edges get hub 0; no in-edges,
    authority 0. Weights must be non-negative.

    Both pushes probe the stationary edge copy their plan keys them
    on (module docstring); the vertex table is a third id-keyed
    stationary operand in both plans.
    """
    spark = graph.edges.sparkSession
    vertices = graph.vertices.select("id")
    n = vertices.count()
    if n == 0:
        return IterationResult(
            state=spark.createDataFrame([], "id long, hub double, authority double")
        )
    w = _weight_col(weighted, weight_expr)
    e = graph.sym_edges.select("src", "dst", w.alias("w"))
    m = e.count()
    if m == 0:
        return IterationResult(
            state=vertices.select(
                "id", F.lit(0.0).alias("hub"), F.lit(0.0).alias("authority")
            )
        )
    plan = spmv_plan(spark, n, m, row_bytes=24)
    # two stationary copies, each partitioned on the key its join
    # probes (shuffle plan) / produces (broadcast plan); the vertex
    # table id-keyed so the per-iteration auth merge never exchanges
    e_by = {k: stationary(e, k, rows=m) for k in ("src", "dst")}
    a_op, h_op = e_by[plan.operand_key("dst")], e_by[plan.operand_key("src")]
    v_st = stationary(vertices, "id", rows=n)

    init = truncate_lineage(
        vertices.select(
            "id", F.lit(1.0 / n).alias("hub"), F.lit(1.0 / n).alias("authority")
        )
    )
    fixed_iters = tol < 0

    def step(state: DataFrame, i: int) -> tuple[DataFrame, float]:
        hubs = plan.state(state.select("id", "hub"))
        a_raw = (
            hubs.join(a_op, hubs.id == a_op.src)
            .select(F.col("dst").alias("id"), (F.col("hub") * F.col("w")).alias("c"))
            .groupBy("id")
            .agg(F.sum("c").alias("a_raw"))
        )
        a_sum = a_raw.agg(F.sum("a_raw").alias("asum"))
        auth = (
            v_st.join(a_raw, "id", "left")
            .crossJoin(F.broadcast(a_sum))
            .select(
                "id",
                (F.coalesce("a_raw", F.lit(0.0)) / F.col("asum")).alias("authority"),
            )
        )
        auth_in = plan.state(auth)
        h_raw = (
            auth_in.join(h_op, auth_in.id == h_op.dst)
            .select(
                F.col("src").alias("id"), (F.col("authority") * F.col("w")).alias("c")
            )
            .groupBy("id")
            .agg(F.sum("c").alias("h_raw"))
        )
        h_sum = h_raw.agg(F.sum("h_raw").alias("hsum"))
        new = (
            state.select("id", F.col("hub").alias("_old"))
            .join(auth, "id")
            .join(h_raw, "id", "left")
            .crossJoin(F.broadcast(h_sum))
            .select(
                "id",
                (F.coalesce("h_raw", F.lit(0.0)) / F.col("hsum")).alias("hub"),
                "authority",
                "_old",
            )
        )
        if fixed_iters:
            return new, float("inf")
        # the persisted frame itself is returned (next step unpersists
        # it as `state`); _old rides along and the final select drops it
        new = new.persist()
        delta = new.agg(F.sum(F.abs(F.col("hub") - F.col("_old")))).collect()[0][0]
        state.unpersist()
        return new, float(delta)

    res = iterate(
        init,
        step,
        tol=n * tol,
        max_iter=max_iter,
        truncate_every=truncate_every,
        checkpoint_dir=checkpoint_dir,
        checkpoint_every=checkpoint_every,
        spark=spark,
        on_exhaustion="ok" if fixed_iters else on_exhaustion,
    )
    res.state = res.state.select("id", "hub", "authority")
    for op in e_by.values():
        op.unpersist()
    v_st.unpersist()
    return res


def hits_fixed_iterations(graph: LinkGraph, k: int, **kw) -> DataFrame:
    """Exactly-k-iteration HITS (no convergence action) — the
    SQL-oracle-comparable variant, like pagerank_fixed_iterations.
    truncate_every=1: each state feeds two consumers next round."""
    res = hits(graph, tol=-1.0, max_iter=k, truncate_every=1, **kw)
    return res.state


def eigenvector_centrality(
    graph: LinkGraph,
    tol: float = 1e-6,
    max_iter: int = 100,
    weighted: bool = True,
    weight_expr: Column | str | None = None,
    truncate_every: int = 3,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 0,
    on_exhaustion: str = "raise",
) -> IterationResult:
    """Eigenvector centrality: IterationResult whose state is
    DataFrame(id, centrality), L2-normalized.

    Replicates ``networkx.eigenvector_centrality`` (the pure-Python
    power iteration) exactly: x'(v) = x(v) + Σ_{u→v} w(u,v)·x(u)
    (the A+I shift that guarantees convergence on bipartite graphs),
    L2-normalize, stop when Σ|x'-x| < n·tol, raise on exhaustion
    (NetworkX's PowerIterationFailedConvergence). Directed graphs use
    in-edges ("left" eigenvector centrality, the NetworkX contract);
    undirected graphs symmetrize. The SpMV plan follows
    ``spark.sql.autoBroadcastJoinThreshold`` (module docstring).
    """
    spark = graph.edges.sparkSession
    vertices = graph.vertices.select("id")
    n = vertices.count()
    if n == 0:
        return IterationResult(
            state=spark.createDataFrame([], "id long, centrality double")
        )
    w = _weight_col(weighted, weight_expr)
    e = graph.sym_edges.select("src", "dst", w.alias("w"))
    m = e.count()
    plan = spmv_plan(spark, n, m)
    e_op = stationary(e, plan.operand_key(), rows=m)

    init = truncate_lineage(
        vertices.select("id", (F.lit(1.0) / F.sqrt(F.lit(float(n)))).alias("x"))
    )
    fixed_iters = tol < 0

    def step(state: DataFrame, i: int) -> tuple[DataFrame, float]:
        xs = plan.state(state.select("id", "x"))
        raw = (
            xs.join(e_op, xs.id == e_op.src)
            .select(F.col("dst").alias("id"), (F.col("x") * F.col("w")).alias("c"))
            .groupBy("id")
            .agg(F.sum("c").alias("cs"))
        )
        # A+I: the carried own-score + in-neighbor contributions
        unnorm = (
            state.select("id", F.col("x").alias("_old"))
            .join(raw, "id", "left")
            .select(
                "id", "_old", (F.col("_old") + F.coalesce("cs", F.lit(0.0))).alias("u")
            )
        )
        norm = unnorm.agg(F.sqrt(F.sum(F.col("u") * F.col("u"))).alias("nrm"))
        new = unnorm.crossJoin(F.broadcast(norm)).select(
            "id", (F.col("u") / F.col("nrm")).alias("x"), "_old"
        )
        if fixed_iters:
            return new, float("inf")
        new = new.persist()
        delta = new.agg(F.sum(F.abs(F.col("x") - F.col("_old")))).collect()[0][0]
        state.unpersist()
        return new, float(delta)

    res = iterate(
        init,
        step,
        tol=n * tol,
        max_iter=max_iter,
        truncate_every=truncate_every,
        checkpoint_dir=checkpoint_dir,
        checkpoint_every=checkpoint_every,
        spark=spark,
        on_exhaustion="ok" if fixed_iters else on_exhaustion,
    )
    res.state = res.state.select("id", F.col("x").alias("centrality"))
    e_op.unpersist()
    return res


def eigenvector_centrality_fixed_iterations(
    graph: LinkGraph, k: int, **kw
) -> DataFrame:
    """Exactly-k-iteration variant for the SQL oracle."""
    res = eigenvector_centrality(graph, tol=-1.0, max_iter=k, truncate_every=1, **kw)
    return res.state


def katz_centrality(
    graph: LinkGraph,
    alpha: float = 0.1,
    beta: float = 1.0,
    tol: float = 1e-6,
    max_iter: int = 1000,
    weighted: bool = True,
    weight_expr: Column | str | None = None,
    truncate_every: int = 3,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 0,
    on_exhaustion: str = "raise",
) -> IterationResult:
    """Katz centrality: IterationResult whose state is
    DataFrame(id, centrality), L2-normalized at the end.

    Exactly ``networkx.katz_centrality``'s pure-Python iteration:
    start from x = 0, per round x'(v) = α·Σ_{u→v} w(u,v)·x(u) + β,
    stop when Σ|x'-x| < n·tol, then scale by 1/√Σx² once at return
    (NetworkX's ``normalized=True``). Exhausting ``max_iter`` raises
    (PowerIterationFailedConvergence parity). Directed graphs sum
    over in-edges; undirected graphs symmetrize. Convergence requires
    α < 1/λ_max — the caller's contract, as in NetworkX.

    Physical plan per iteration is the PageRank SpMV shape: the edge
    operand is cached hash-partitioned and never re-shuffles; only
    the V-row score frame moves, and the final normalization constant
    rides as a 1-row in-plan broadcast. The broadcast-or-shuffle
    plan follows ``spark.sql.autoBroadcastJoinThreshold`` (module
    docstring).
    """
    spark = graph.edges.sparkSession
    vertices = graph.vertices.select("id")
    n = vertices.count()
    if n == 0:
        return IterationResult(
            state=spark.createDataFrame([], "id long, centrality double")
        )
    w = _weight_col(weighted, weight_expr)
    e = graph.sym_edges.select("src", "dst", w.alias("w"))
    m = e.count()
    plan = spmv_plan(spark, n, m)
    e_op = stationary(e, plan.operand_key(), rows=m)

    init = truncate_lineage(vertices.select("id", F.lit(0.0).alias("x")))
    fixed_iters = tol < 0

    def step(state: DataFrame, i: int) -> tuple[DataFrame, float]:
        xs = plan.state(state.select("id", "x"))
        raw = (
            xs.join(e_op, xs.id == e_op.src)
            .select(F.col("dst").alias("id"), (F.col("x") * F.col("w")).alias("c"))
            .groupBy("id")
            .agg(F.sum("c").alias("cs"))
        )
        new = (
            state.select("id", F.col("x").alias("_old"))
            .join(raw, "id", "left")
            .select(
                "id",
                "_old",
                (
                    F.lit(float(alpha)) * F.coalesce("cs", F.lit(0.0))
                    + F.lit(float(beta))
                ).alias("x"),
            )
        )
        if fixed_iters:
            return new, float("inf")
        new = new.persist()
        delta = new.agg(F.sum(F.abs(F.col("x") - F.col("_old")))).collect()[0][0]
        state.unpersist()
        return new, float(delta)

    res = iterate(
        init,
        step,
        tol=n * tol,
        max_iter=max_iter,
        truncate_every=truncate_every,
        checkpoint_dir=checkpoint_dir,
        checkpoint_every=checkpoint_every,
        spark=spark,
        on_exhaustion="ok" if fixed_iters else on_exhaustion,
    )
    nrm = res.state.agg(F.sqrt(F.sum(F.col("x") * F.col("x"))).alias("nrm"))
    res.state = (
        res.state.crossJoin(F.broadcast(nrm))
        .select("id", (F.col("x") / F.col("nrm")).alias("centrality"))
    )
    e_op.unpersist()
    return res


def katz_centrality_fixed_iterations(graph: LinkGraph, k: int, **kw) -> DataFrame:
    """Exactly-k-iteration Katz (no convergence action) — the
    SQL-oracle-comparable variant, like pagerank_fixed_iterations."""
    res = katz_centrality(graph, tol=-1.0, max_iter=k, truncate_every=1, **kw)
    return res.state


def salsa(
    graph: LinkGraph,
    tol: float = 1e-8,
    max_iter: int = 100,
    truncate_every: int = 3,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 0,
    on_exhaustion: str = "raise",
) -> IterationResult:
    """SALSA (Lempel & Moran): IterationResult whose state is
    DataFrame(id, hub, authority), both L1-normalized.

    The stochastic sibling of HITS — each step divides by the degree
    of the step's source: authority'(v) = Σ_{u→v} hub(u)/outdeg(u)
    then L1-normalize, hub'(u) = Σ_{u→v} authority'(v)/indeg(v) then
    L1-normalize. The fixpoint is the stationary distribution of the
    alternating forward/backward random walk, which — unlike HITS —
    is not dominated by the densest community (the TKC effect).
    Unweighted by construction (the classic formulation); stop rule,
    exhaustion behavior, zero-degree conventions and the physical
    plan (two stationary degree-annotated edge copies, each hash-
    partitioned on its join key; 1-row normalizer broadcasts; delta
    carried on the state) all mirror ``hits``.
    """
    spark = graph.edges.sparkSession
    vertices = graph.vertices.select("id")
    n = vertices.count()
    if n == 0:
        return IterationResult(
            state=spark.createDataFrame([], "id long, hub double, authority double")
        )
    e = graph.sym_edges.select("src", "dst")
    m = e.count()
    if m == 0:
        return IterationResult(
            state=vertices.select(
                "id", F.lit(0.0).alias("hub"), F.lit(0.0).alias("authority")
            )
        )
    outd = e.groupBy("src").agg(F.count("*").alias("od"))
    ind = e.groupBy("dst").agg(F.count("*").alias("idg"))
    ew = (
        e.join(outd, "src")
        .join(ind, "dst")
        .select(
            "src",
            "dst",
            (F.lit(1.0) / F.col("od")).alias("wa"),
            (F.lit(1.0) / F.col("idg")).alias("wh"),
        )
    )
    plan = spmv_plan(spark, n, m, row_bytes=24)
    e_by = {k: stationary(ew, k, rows=m) for k in ("src", "dst")}
    a_op, h_op = e_by[plan.operand_key("dst")], e_by[plan.operand_key("src")]
    v_st = stationary(vertices, "id", rows=n)

    init = truncate_lineage(
        vertices.select(
            "id", F.lit(1.0 / n).alias("hub"), F.lit(1.0 / n).alias("authority")
        )
    )
    fixed_iters = tol < 0

    def step(state: DataFrame, i: int) -> tuple[DataFrame, float]:
        hubs = plan.state(state.select("id", "hub"))
        a_raw = (
            hubs.join(a_op, hubs.id == a_op.src)
            .select(F.col("dst").alias("id"), (F.col("hub") * F.col("wa")).alias("c"))
            .groupBy("id")
            .agg(F.sum("c").alias("a_raw"))
        )
        a_sum = a_raw.agg(F.sum("a_raw").alias("asum"))
        auth = (
            v_st.join(a_raw, "id", "left")
            .crossJoin(F.broadcast(a_sum))
            .select(
                "id",
                (F.coalesce("a_raw", F.lit(0.0)) / F.col("asum")).alias("authority"),
            )
        )
        auth_in = plan.state(auth)
        h_raw = (
            auth_in.join(h_op, auth_in.id == h_op.dst)
            .select(
                F.col("src").alias("id"),
                (F.col("authority") * F.col("wh")).alias("c"),
            )
            .groupBy("id")
            .agg(F.sum("c").alias("h_raw"))
        )
        h_sum = h_raw.agg(F.sum("h_raw").alias("hsum"))
        new = (
            state.select("id", F.col("hub").alias("_old"))
            .join(auth, "id")
            .join(h_raw, "id", "left")
            .crossJoin(F.broadcast(h_sum))
            .select(
                "id",
                (F.coalesce("h_raw", F.lit(0.0)) / F.col("hsum")).alias("hub"),
                "authority",
                "_old",
            )
        )
        if fixed_iters:
            return new, float("inf")
        new = new.persist()
        delta = new.agg(F.sum(F.abs(F.col("hub") - F.col("_old")))).collect()[0][0]
        state.unpersist()
        return new, float(delta)

    res = iterate(
        init,
        step,
        tol=n * tol,
        max_iter=max_iter,
        truncate_every=truncate_every,
        checkpoint_dir=checkpoint_dir,
        checkpoint_every=checkpoint_every,
        spark=spark,
        on_exhaustion="ok" if fixed_iters else on_exhaustion,
    )
    res.state = res.state.select("id", "hub", "authority")
    for op in e_by.values():
        op.unpersist()
    v_st.unpersist()
    return res


def salsa_fixed_iterations(graph: LinkGraph, k: int, **kw) -> DataFrame:
    """Exactly-k-iteration SALSA — the SQL-oracle-comparable variant."""
    res = salsa(graph, tol=-1.0, max_iter=k, truncate_every=1, **kw)
    return res.state
