"""PageRank as partition-parallel SpMV — the flagship operator.

Matches NetworkX ``nx.pagerank(G, alpha=0.85, weight='weight')``
semantics exactly (the oracle the reference benchmarks against,
/root/reference/benchmarks/src/benchmark_networkx.py:217-222):

- contributions out-weight-normalized: rank(u) * w(u,v) / Σ_x w(u,x)
- dangling (no-out-edge) mass redistributed by the teleport dist
- rank' = (1-α)·tp + α·(Σ contribs + dangling_mass·tp)
- stop when Σ|rank'-rank| < N·tol (raises ConvergenceError when the
  iteration budget runs out, like NetworkX's
  PowerIterationFailedConvergence)

Physical plan per iteration (the 100 TB shape):

- the transition table is built ONCE, hash-partitioned by ``src``
  and persisted — the EDGE data never moves again. The per-iteration
  ranks⋈trans join co-partitions (ranks come out of the previous
  iteration's groupBy("id") with the same hash partitioning), so the
  only shuffle per iteration is the contribution sum keyed by dst:
  O(V·P) pre-combined rows, not O(E).
- the convergence delta rides the rank update itself (old rank is a
  carried column) — ONE agg action per iteration, no second join.
- dangling mass is an in-plan 1-row broadcast, no collect.
- broadcast or shuffle: plans/partitioning.spmv_plan picks the plan
  from ``spark.sql.autoBroadcastJoinThreshold``; under broadcast the
  operand is keyed by dst and the V-row rank frame ships into the
  join, so no stage of the iteration exchanges.
- hub skew on the dst-sum: map-side partial aggregation bounds each
  reducer's input at V·P rows whatever the hub in-degree.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from linkgraph.graph import LinkGraph
from linkgraph.plans.iterate import IterationResult, iterate, truncate_lineage
from linkgraph.plans.partitioning import spmv_plan, transition_operand


def _weight_col(weighted: bool, weight_expr: Column | str | None) -> Column:
    """The reference takes weight closures ``Fn(&E) -> f64``
    (graph.rs:1054-1061) and duck-typed JSON extraction
    (layout.rs:38-52); our analog is a Column expression over the
    edge row — e.g. ``F.get_json_object("attrs", "$.cost")``."""
    if weight_expr is not None:
        expr = F.col(weight_expr) if isinstance(weight_expr, str) else weight_expr
        return expr.cast("double")
    return F.col("weight").cast("double") if weighted else F.lit(1.0)


def pagerank(
    graph: LinkGraph,
    alpha: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
    weighted: bool = True,
    weight_expr: Column | str | None = None,
    personalization: DataFrame | None = None,
    init_ranks: DataFrame | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 0,
    truncate_every: int = 3,
    on_exhaustion: str = "raise",
) -> IterationResult:
    """Returns IterationResult whose state is DataFrame(id, rank).

    ``personalization``: optional DataFrame(id, p) — the teleport
    distribution (NetworkX ``personalization=`` semantics: normalized
    over the given vertices, unlisted vertices get 0; dangling mass
    also redistributes by p). None = uniform.

    ``weight_expr``: optional Column/str evaluated against the edge
    row as the weight (overrides ``weighted``) — the weight-closure
    parameter of the reference API.

    ``init_ranks``: optional DataFrame(id, rank) warm start (NetworkX
    ``nstart=`` semantics) — the incremental-update path: seed with
    yesterday's converged scores after a crawl delta and the power
    iteration re-converges in the few iterations the perturbation
    needs instead of from-uniform's dozens (tests/test_incremental.py
    measures the gap). Vertices missing from ``init_ranks`` (newly
    discovered pages) start at the uniform share; the vector is
    renormalized to sum 1, so any positive scale works. The fixpoint
    is start-independent — warm and cold runs agree to solver
    tolerance.

    The broadcast-or-shuffle plan follows
    ``spark.sql.autoBroadcastJoinThreshold``
    (plans/partitioning.spmv_plan): the V-row rank frame broadcasts
    into each iteration when V × 16 B fits it. With the engine
    session's 64 MB that is ~4M vertices — the regime where the
    broadcast plan measured 3.1x over shuffle SpMV at 160M Zipf edges
    on local[32] (BENCH/BASELINE.md Job 4). Set the threshold to -1
    for the shuffle plan.

    Repeat calls on the SAME graph object reuse the stationary
    transition/vertex operands via ``LinkGraph.operand`` (keyed by
    weighted/plan; skipped when ``weight_expr``/``personalization``
    make the operand call-specific), so a standing rank service —
    re-rank after a crawl delta, PPR sweeps, warm restarts — pays
    the build once. ``graph.release_operands()`` frees them."""
    spark = graph.edges.sparkSession
    edges = graph.sym_edges
    vertices = graph.vertices.select("id")
    n = graph.operand(("count", "vertices"), vertices.count)
    if n == 0:
        return IterationResult(state=spark.createDataFrame([], "id long, rank double"))
    m = graph.operand(("count", "sym_edges"), edges.count)
    plan = spmv_plan(spark, n, m)

    w = _weight_col(weighted, weight_expr)
    out_sums = edges.groupBy("src").agg(F.sum(w).alias("out_w"))
    # the invariant operand of every iteration, memoized on the graph
    # unless a weight EXPRESSION makes it call-local
    trans_memo = weight_expr is None
    trans = transition_operand(graph, plan, w, out_sums, weighted, memo=trans_memo)

    # Vertex table with dangling flag (out-degree 0) and teleport
    # probability column, cached once. The uniform-teleport variant is
    # a pure function of the graph — memoized like the transition
    # table; a personalization frame is call-local.
    verts = (
        vertices.join(out_sums.select(F.col("src").alias("id")), "id", "left_semi")
        .withColumn("dangling", F.lit(False))
        .unionByName(
            vertices.join(out_sums.select(F.col("src").alias("id")), "id", "left_anti")
            .withColumn("dangling", F.lit(True))
        )
    )
    verts_memo = personalization is None
    if personalization is None:
        verts = verts.withColumn("tp", F.lit(1.0 / n))
    else:
        pn = personalization.select("id", F.col("p").cast("double").alias("p"))
        psum = pn.agg(F.sum("p")).collect()[0][0]
        if psum is None or not (float(psum) > 0.0) or psum != psum or psum == float("inf"):
            raise ValueError(
                f"personalization must have a positive finite sum, got {psum} "
                "(empty/zero/NaN teleport distributions silently decay every "
                "rank to 0 — NetworkX raises here too)"
            )
        verts = verts.join(pn, "id", "left").withColumn(
            "tp", F.coalesce(F.col("p") / psum, F.lit(0.0))
        ).drop("p")

    def _build_verts(vframe: DataFrame = verts) -> DataFrame:
        out = truncate_lineage(vframe).repartition(plan.n_parts, "id").persist()
        out.count()
        return out

    verts = (
        graph.operand(("pr_verts", plan.n_parts), _build_verts)
        if verts_memo
        else _build_verts()
    )

    if init_ranks is None:
        # uniform start regardless of personalization (NetworkX nstart=None)
        init = verts.select("id", F.lit(1.0 / n).alias("rank"), "dangling", "tp")
    else:
        ir = init_ranks.select("id", F.col("rank").cast("double").alias("r0"))
        # cut once: a warm start that converges before the first
        # truncate_every boundary would otherwise return a state whose
        # plan nests the seed's (previous result's) whole plan
        seeded = truncate_lineage(
            verts.join(ir, "id", "left").withColumn(
                "r0", F.coalesce("r0", F.lit(1.0 / n))
            )
        )
        s0 = seeded.agg(F.sum("r0")).collect()[0][0]
        if s0 is None or not (float(s0) > 0.0) or s0 != s0 or s0 == float("inf"):
            raise ValueError(
                f"init_ranks must sum to a positive finite value, got {s0}"
            )
        init = seeded.select(
            "id", (F.col("r0") / F.lit(float(s0))).alias("rank"), "dangling", "tp"
        )

    fixed_iters = tol < 0  # pagerank_fixed_iterations: skip the delta action

    def step(state: DataFrame, i: int) -> tuple[DataFrame, float]:
        # dangling mass as an in-plan scalar (1-row cross join), no collect
        dangling = state.filter("dangling").agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm")
        )
        ranks = plan.state(state.select("id", "rank"))
        contribs = (
            ranks.join(trans, ranks.id == trans.src)
            .select(F.col("dst").alias("id"), (F.col("rank") * F.col("p")).alias("c"))
            .groupBy("id")
            .agg(F.sum("c").alias("csum"))
        )
        # old rank rides along as a column: delta needs no second join
        new = (
            state.select("id", F.col("rank").alias("_old"), "dangling", "tp")
            .join(contribs, "id", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "id",
                (
                    F.lit(1.0 - alpha) * F.col("tp")
                    + F.lit(alpha)
                    * (F.coalesce(F.col("csum"), F.lit(0.0)) + F.col("dm") * F.col("tp"))
                ).alias("rank"),
                "dangling",
                "tp",
                "_old",
            )
        )
        if fixed_iters:
            # no convergence check wanted: keep the plan lazy; the
            # iterate() driver's periodic lineage truncation bounds depth
            return new.drop("_old"), float("inf")
        new = new.persist()
        delta = new.agg(F.sum(F.abs(F.col("rank") - F.col("_old"))).alias("d")).collect()[0]["d"]
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
    res.state = res.state.select("id", "rank")
    if not trans_memo:
        trans.unpersist()
    if not verts_memo:
        verts.unpersist()
    return res


def pagerank_fixed_iterations(
    graph: LinkGraph,
    k: int,
    alpha: float = 0.85,
    personalization: DataFrame | None = None,
) -> DataFrame:
    """Exactly-k-iteration PageRank (no convergence check) — the
    SQL-oracle-comparable variant (an unrolled k-deep plan matches a
    k-level recursive SQL exactly, up to float summation order).
    truncate_every=1: each state feeds TWO consumers next round
    (dangling agg + contributions), so without per-iteration
    materialization the join tree recomputes 2^depth times."""
    res = pagerank(
        graph, alpha=alpha, tol=-1.0, max_iter=k, truncate_every=1,
        personalization=personalization,
    )
    return res.state


def trustrank(
    graph: LinkGraph,
    seeds: DataFrame,
    alpha: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
    **kwargs,
) -> IterationResult:
    """TrustRank (Gyöngyi/Garcia-Molina/Pedersen, VLDB'04): biased
    PageRank whose teleport distribution is uniform over a trusted
    seed set — the standard web-spam-demotion score over a host
    graph. Exactly ``pagerank`` with
    ``personalization = uniform(seeds)``; dangling mass also returns
    to the seeds, so trust never leaks to unreachable spam clusters.

    ``seeds``: DataFrame with an ``id`` column (extra columns
    ignored). Must be non-empty — an empty seed frame has no valid
    teleport distribution and raises (loud-failure policy).

    Every other ``pagerank`` argument passes through ``**kwargs``;
    the broadcast-or-shuffle plan follows
    ``spark.sql.autoBroadcastJoinThreshold`` as in ``pagerank``.
    """
    p = seeds.select(F.col("id"), F.lit(1.0).alias("p")).distinct()
    if p.limit(1).count() == 0:
        raise ValueError("trustrank requires a non-empty seed set")
    return pagerank(
        graph, alpha=alpha, tol=tol, max_iter=max_iter,
        personalization=p, **kwargs,
    )


def personalized_pagerank_batch(
    graph: LinkGraph,
    seeds: DataFrame,
    k: int = 4,
    alpha: float = 0.85,
    weighted: bool = True,
    weight_expr: Column | str | None = None,
) -> DataFrame:
    """Batched sparse personalized PageRank — the "related pages"
    primitive: DataFrame(seed, id, rank) with one PPR vector per seed,
    all seeds advanced together through ``k`` power-iteration steps of
    x' = α·(Pᵀx + dangling(x)·δ_seed) + (1−α)·δ_seed from x₀ = δ_seed.
    As k→∞ each vector converges to
    ``pagerank(personalization={seed: 1})``'s fixpoint (init-
    independent); the fixed-k form is the SQL-oracle-comparable one.

    SPARSE by construction: the state carries only (seed, id) pairs
    with nonzero mass, i.e. each seed's ≤k-hop out-neighborhood —
    never |seeds|·V rows — so a 1000-seed batch on a web graph costs
    ~1000 bounded neighborhood expansions sharing ONE stationary
    src-partitioned transition operand. Per iteration: one
    co-partitioned state⋈trans join + one (seed, id) groupBy; the
    per-seed dangling mass folds back onto the seed row (NetworkX's
    personalized dangling redistribution for a δ teleport vector).
    ``seeds`` is DataFrame(seed) (a column of vertex ids).
    """
    from linkgraph.plans.iterate import LineageChain
    from linkgraph.plans.partitioning import stationary

    if k < 0:
        raise ValueError("k must be >= 0")
    w = _weight_col(weighted, weight_expr)
    e = graph.sym_edges.select("src", "dst", w.alias("w"))
    out_sums = e.groupBy("src").agg(F.sum("w").alias("out_w"))
    trans = stationary(
        e.join(out_sums, "src").select(
            "src", "dst", (F.col("w") / F.col("out_w")).alias("p")
        ),
        "src",
    )
    srcs = trans.select("src").distinct()
    chain = LineageChain()
    state = chain.cut(
        seeds.select(F.col("seed"), F.col("seed").alias("id"), F.lit(1.0).alias("rank"))
    )
    teleport = seeds.select(
        F.col("seed"), F.col("seed").alias("id"), F.lit(1.0 - alpha).alias("r")
    )
    for _ in range(k):
        contrib = (
            state.join(trans, state.id == trans.src)
            .select(
                "seed",
                F.col("dst").alias("id"),
                (F.lit(alpha) * F.col("rank") * F.col("p")).alias("r"),
            )
        )
        dangling = (
            state.join(srcs, state.id == srcs.src, "left_anti")
            .groupBy("seed")
            .agg((F.lit(alpha) * F.sum("rank")).alias("r"))
            .select("seed", F.col("seed").alias("id"), "r")
        )
        state = chain.cut(
            contrib.unionAll(dangling)
            .unionAll(teleport)
            .groupBy("seed", "id")
            .agg(F.sum("r").alias("rank"))
        )
    trans.unpersist()
    return state


def blockrank(
    graph: LinkGraph,
    blocks: DataFrame,
    alpha: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
    block_tol: float | None = None,
    **kwargs,
) -> IterationResult:
    """BlockRank (Kamvar/Haveliwala/Manning/Golub 2003, "Exploiting
    the Block Structure of the Web for Computing PageRank"): most web
    links are intra-host, so PageRank over the tiny host-level block
    graph, spread across each block's pages, is an excellent starting
    vector — the global power iteration converges to the SAME
    fixpoint (PageRank is start-independent) in a fraction of the
    iterations a cold uniform start needs. The classic two-level
    Common-Crawl production trick: a 10^8-host rank job is ~free next
    to a 10^12-page one, and every global iteration it saves is an
    O(E)-scan saved.

    ``blocks``: DataFrame(id, block) mapping vertices to blocks (the
    host of the page — any type; hashed to 64-bit block vertex ids).
    Vertices absent from ``blocks`` start at the uniform share (the
    ``init_ranks`` contract). Stage 1 runs ``pagerank`` on the
    block-collapsed graph (weight = summed page-level weight) to
    ``block_tol`` (default: same ``tol``); stage 2 distributes each
    block's rank uniformly over its pages (the paper's "local
    PageRank" refined here to the uniform intra-block start — the
    block mass placement is what drives the speedup) and runs the
    page-level ``pagerank`` from it. Every other page-level
    ``pagerank`` argument passes through ``**kwargs`` (the SpMV plan
    follows ``spark.sql.autoBroadcastJoinThreshold``); the returned IterationResult's stats are
    the page-level iterations only, so the saving is measurable
    (tests/test_pagerank.py asserts warm <= cold and value equality).
    """
    bmap = blocks.select(
        F.col("id"),
        F.xxhash64(F.col("block").cast("string")).alias("b"),
    )
    e = graph.sym_edges.select("src", "dst", F.col("weight").cast("double").alias("w"))
    be = (
        e.join(bmap.withColumnRenamed("id", "src").withColumnRenamed("b", "bsrc"), "src")
        .join(bmap.withColumnRenamed("id", "dst").withColumnRenamed("b", "bdst"), "dst")
        .groupBy("bsrc", "bdst")
        .agg(F.sum("w").alias("weight"))
        .select(F.col("bsrc").alias("src"), F.col("bdst").alias("dst"), "weight")
    )
    bverts = bmap.select(F.col("b").alias("id")).distinct()
    bgraph = LinkGraph(be, bverts, directed=graph.directed)
    # truncate_every=1: the block stage is tiny (10^8 hosts at most)
    # and may run in fixed-iteration mode where each state feeds two
    # consumers per round — per-iteration materialization is the
    # pagerank_fixed_iterations discipline.
    brank = pagerank(
        bgraph, alpha=alpha, tol=block_tol if block_tol is not None else tol,
        max_iter=max_iter, truncate_every=1,
    ).state
    sizes = bmap.groupBy("b").agg(F.count("*").alias("n_pages"))
    init = (
        bmap.join(brank.withColumnRenamed("id", "b"), "b")
        .join(sizes, "b")
        .select("id", (F.col("rank") / F.col("n_pages")).alias("rank"))
    )
    return pagerank(
        graph, alpha=alpha, tol=tol, max_iter=max_iter,
        init_ranks=init, **kwargs,
    )
