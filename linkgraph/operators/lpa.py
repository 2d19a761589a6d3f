"""Deterministic semi-synchronous label propagation communities.

NetworkX's ``asyn_lpa_communities`` is RNG/visit-order dependent —
useless as a distributed spec. We pin the deterministic variant
(SURVEY.md §4.2.6): synchronous rounds; each vertex adopts the most
frequent label among its neighbors (weighted by edge weight), ties
broken by SMALLEST label; isolated vertices keep their own label;
stop at stability or max_iter. The argmax is a map-side-combinable
min_by aggregation — one shuffle per round keyed by vertex, no
per-vertex window (a hub's candidate set never sorts in one task).

Bipartite-ish structures can 2-cycle under synchronous updates; the
driver loop fingerprints each round's full (id, label) state (a
bit_xor of per-row hashes, folded into the same action as the delta
count) and stops with a loud warning when the state two rounds back
recurs (documented deviation — determinism is the contract, matching
the reference's benchmark usage where only community *structure* is
compared).
"""

from __future__ import annotations

import sys

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from linkgraph.graph import LinkGraph
from linkgraph.operators.pagerank import _weight_col
from linkgraph.plans.iterate import IterationResult, iterate
from linkgraph.plans.partitioning import stationary


def label_propagation(
    graph: LinkGraph,
    max_iter: int = 20,
    weighted: bool = False,
    weight_expr: Column | str | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 0,
) -> IterationResult:
    """Returns IterationResult, state = DataFrame(id, label).

    ``weight_expr``: optional Column/str evaluated against the edge
    row as the vote weight (overrides ``weighted``) — the same
    weight-closure parameter PageRank/SSSP take, e.g.
    ``F.get_json_object("attrs", "$.cost")``."""
    # vote weight evaluated against the RAW edge row (so weight_expr
    # can reference attr columns), then symmetrized: directed graphs
    # vote over the weak structure, the usual community convention
    w = _weight_col(weighted, weight_expr)
    if graph.directed:
        base = graph.edges.select("src", "dst", w.alias("_w"))
        edges = base.unionAll(
            base.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "_w")
        )
    else:
        edges = graph.sym_edges.select("src", "dst", w.alias("_w"))
    # stationary operand: the vote join never re-shuffles the edges
    edges = stationary(edges, "src")
    init = graph.vertices.select("id", F.col("id").alias("label"))
    # last two state fingerprints, for synchronous 2-cycle detection
    fps: list[int] = []

    def step(state: DataFrame, i: int) -> tuple[DataFrame, float]:
        votes = (
            state.join(edges, state.id == edges.src)
            .groupBy(F.col("dst").alias("id"), F.col("label").alias("cand"))
            .agg(F.sum("_w").alias("votes"))
        )
        # argmax by (votes desc, cand asc) as a map-side-combinable
        # min_by, NOT a per-id window: a hub vertex's candidate rows
        # (one per distinct neighbor label — up to its in-degree in
        # early rounds) would all sort inside one window task. votes
        # is a double so its negation is exact and overflow-free.
        best = votes.groupBy("id").agg(
            F.expr("min_by(cand, struct(-votes, cand))").alias("new_label")
        )
        # persist the exact returned frame — a post-persist
        # projection would make every later unpersist a no-op and
        # leak one cached frame per round (the ADVICE leak pattern)
        new = (
            state.join(best, "id", "left")
            .select(
                "id",
                F.coalesce("new_label", F.col("label")).alias("label"),
                (
                    F.coalesce("new_label", F.col("label")) != F.col("label")
                ).alias("_chg"),
            )
            .persist()
        )
        # ONE action: delta count + an order-independent state
        # fingerprint (bit_xor of row hashes — no overflow, collision
        # odds 2^-64) for oscillation detection
        row = new.agg(
            F.count(F.when(F.col("_chg"), 1)).alias("chg"),
            F.bit_xor(F.xxhash64("id", "label")).alias("fp"),
        ).collect()[0]
        changed, fp = int(row["chg"]), int(row["fp"] or 0)
        state.unpersist()
        if changed and len(fps) >= 2 and fp == fps[-2]:
            # synchronous 2-cycle (bipartite-ish oscillation): the
            # state two rounds back recurred, so rounds alternate
            # forever. Stop deterministically at the current state.
            print(
                f"WARNING linkgraph.lpa: oscillation detected at round {i} "
                "(state recurrence with period 2); stopping at the current "
                "deterministic state",
                file=sys.stderr,
            )
            changed = 0
        fps.append(fp)
        del fps[:-2]
        return new, float(changed)

    res = iterate(
        init,
        step,
        tol=0.0,
        max_iter=max_iter,
        checkpoint_dir=checkpoint_dir,
        checkpoint_every=checkpoint_every,
    )
    edges.unpersist()
    res.state = res.state.select("id", "label")
    return res


def label_spreading(
    graph: LinkGraph,
    seeds: DataFrame,
    alpha: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 50,
    weighted: bool = False,
    weight_expr: Column | str | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 0,
    on_exhaustion: str = "raise",
) -> IterationResult:
    """Semi-supervised label spreading (Zhou, Bousquet, Lal, Weston,
    Schölkopf, NeurIPS 2004 — "Learning with Local and Global
    Consistency"): diffuse a small labeled seed set over the graph by
    the fixpoint of ``F ← α·S·F + (1−α)·Y`` with the symmetrically
    normalized adjacency ``S = D^-1/2 W D^-1/2`` and one-hot seed
    matrix ``Y``; ``F* = (1−α)(I−αS)^{-1}Y``. The web use is spreading
    a few thousand audited spam/quality/topic labels over the 10^9-host
    link graph — the multi-class generalization of TrustRank's seeded
    teleport.

    ``seeds``: DataFrame whose first two columns are (id, label) —
    one row per labeled vertex (duplicate seed ids raise: Y must be
    one-hot). Returns IterationResult with
    ``state = DataFrame(id, label, score)`` holding the NONZERO class
    masses only — state is sparse (pairs reached by iteration k live
    within k hops of a seed of that class), never the dense V×C
    matrix, so an early-stopped run on a web graph costs rows
    proportional to the diffusion frontier, not V·C. Convergence
    metric: max |ΔF| entry.

    Scale shape is exactly PageRank's: the normalized transition
    operand is built once and stays hash-partitioned on src
    (``stationary``); each round is one co-partitioned gather join +
    one map-side-combined (dst, label) sum + one (id, label)-keyed
    outer merge against the carried seed column. Directed graphs
    diffuse over the weak (symmetrized) structure, like LPA.

    No broadcast plan here (plans/partitioning.spmv_plan),
    deliberately: unlike the dense V-row SpMV states (pagerank/HITS/Katz/OPIC), this state is the
    SPARSE (id, label, score) frontier — its size is
    diffusion-dependent and can approach V·C rows, so a per-round
    broadcast has no safe size bound to auto-switch on; the
    co-partitioned shuffle plan is the right default at every size.
    """
    if not 0.0 < alpha < 1.0:
        raise ValueError(f"alpha must be in (0, 1), got {alpha}")
    sid, slab = seeds.columns[0], seeds.columns[1]
    y = seeds.select(
        F.col(sid).alias("id"),
        F.col(slab).alias("label"),
        F.lit(1.0).alias("y"),
    )
    dup = y.groupBy("id").agg(F.count("*").alias("n")).filter("n > 1").limit(1).collect()
    if dup:
        raise ValueError(
            f"label_spreading seeds must be one label per id: id {dup[0]['id']} "
            f"has {dup[0]['n']} labels"
        )

    w = _weight_col(weighted, weight_expr)
    if graph.directed:
        base = graph.edges.select("src", "dst", w.alias("_w"))
        edges = base.unionAll(
            base.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "_w")
        )
    else:
        edges = graph.sym_edges.select("src", "dst", w.alias("_w"))
    deg = edges.groupBy("src").agg(F.sum("_w").alias("_d"))
    trans = stationary(
        edges.join(deg, "src")
        .join(
            deg.select(F.col("src").alias("dst"), F.col("_d").alias("_dd")), "dst"
        )
        .select(
            "src",
            "dst",
            (F.col("_w") / F.sqrt(F.col("_d") * F.col("_dd"))).alias("p"),
        ),
        "src",
    )

    # F(0) = Y; state rows are the nonzero (id, label) masses with the
    # seed indicator carried as a column (new pairs created by spread
    # are never seeds, so their y is 0 by construction)
    init = y.select("id", "label", F.col("y").alias("score"), "y")

    def step(state: DataFrame, i: int) -> tuple[DataFrame, float]:
        spread = (
            state.join(trans, state.id == trans.src)
            .groupBy(F.col("dst").alias("id"), "label")
            .agg(F.sum(F.col("score") * F.col("p")).alias("_sp"))
        )
        new = (
            state.join(spread, ["id", "label"], "full_outer")
            .select(
                "id",
                "label",
                (
                    alpha * F.coalesce("_sp", F.lit(0.0))
                    + (1.0 - alpha) * F.coalesce("y", F.lit(0.0))
                ).alias("score"),
                F.coalesce("y", F.lit(0.0)).alias("y"),
                F.abs(
                    alpha * F.coalesce("_sp", F.lit(0.0))
                    + (1.0 - alpha) * F.coalesce("y", F.lit(0.0))
                    - F.coalesce("score", F.lit(0.0))
                ).alias("_delta"),
            )
            .persist()
        )
        delta = new.agg(F.max("_delta")).collect()[0][0] or 0.0
        state.unpersist()
        # return the persisted frame itself (the _delta column rides
        # along and is re-derived each round; the final select below
        # drops it) so the next round's unpersist targets the cache
        return new, float(delta)

    res = iterate(
        init,
        step,
        tol=tol,
        max_iter=max_iter,
        checkpoint_dir=checkpoint_dir,
        checkpoint_every=checkpoint_every,
        on_exhaustion=on_exhaustion,
    )
    trans.unpersist()
    res.state = res.state.select("id", "label", "score")
    return res


def label_spreading_fixed_iterations(
    graph: LinkGraph,
    seeds: DataFrame,
    iterations: int,
    alpha: float = 0.85,
    weighted: bool = False,
    weight_expr: Column | str | None = None,
) -> DataFrame:
    """Exactly ``iterations`` label-spreading rounds (no convergence
    check) — the SQL-replayable form the driver contract checks."""
    return label_spreading(
        graph,
        seeds,
        alpha=alpha,
        tol=0.0,
        max_iter=iterations,
        weighted=weighted,
        weight_expr=weight_expr,
        on_exhaustion="ok",
    ).state


def label_spreading_predict(scores: DataFrame) -> DataFrame:
    """Argmax readout of a label-spreading state:
    DataFrame(id, label, score) → one row per id, ties by smallest
    label (deterministic; a map-side-combinable min_by, no window)."""
    return scores.groupBy("id").agg(
        F.expr("min_by(label, struct(-score, label))").alias("label"),
        F.max("score").alias("score"),
    )


def modularity(
    graph: LinkGraph,
    labels: DataFrame,
    weighted: bool = False,
    weight_expr: Column | str | None = None,
    resolution: float = 1.0,
) -> DataFrame:
    """Modularity of a vertex partition, as ONE row:
    DataFrame(modularity double) — the quality score for LPA (or any)
    community labels, = ``networkx.community.modularity`` (directed
    and undirected, weighted and unweighted, incl. ``resolution``).

    ``labels``: DataFrame whose first two columns are (id, label);
    must cover every edge endpoint (LPA states do). All terms are
    per-community partial aggregations: two V-row hash joins tag the
    E-row edge frame with endpoint labels, then everything reduces to
    C-row frames and one scalar — no per-vertex state survives the
    final agg, so the plan is the same at 10^12 edges.

    Undirected: Q = Σ_c [L_c/m − γ(d_c/2m)²]; directed:
    Q = Σ_c [L_c/m − γ·d_c^out·d_c^in/m²] (NetworkX's formulas;
    self-loops count once in L_c and twice in undirected d_c, which
    the endpoint-union degree below reproduces)."""
    w = _weight_col(weighted, weight_expr)
    lab = labels.select(
        F.col(labels.columns[0]).alias("_id"),
        F.col(labels.columns[1]).alias("_lab"),
    )
    e = graph.edges.select("src", "dst", w.cast("double").alias("_w"))
    e2 = e.join(
        lab.select(F.col("_id").alias("src"), F.col("_lab").alias("_lsrc")), "src"
    ).join(
        lab.select(F.col("_id").alias("dst"), F.col("_lab").alias("_ldst")), "dst"
    )
    intra = (
        e2.filter(F.col("_lsrc") == F.col("_ldst"))
        .groupBy(F.col("_lsrc").alias("_c"))
        .agg(F.sum("_w").alias("_intra"))
    )
    m = e2.agg(F.sum("_w").alias("_m"))
    if graph.directed:
        dout = e2.groupBy(F.col("_lsrc").alias("_c")).agg(F.sum("_w").alias("_dout"))
        din = e2.groupBy(F.col("_ldst").alias("_c")).agg(F.sum("_w").alias("_din"))
        per = (
            dout.join(din, "_c", "full")
            .join(intra, "_c", "full")
            .select(
                F.coalesce("_intra", F.lit(0.0)).alias("_intra"),
                F.coalesce("_dout", F.lit(0.0)).alias("_dout"),
                F.coalesce("_din", F.lit(0.0)).alias("_din"),
            )
        )
        term = (
            F.col("_intra") / F.col("_m")
            - F.lit(resolution) * F.col("_dout") * F.col("_din") / (F.col("_m") ** 2)
        )
    else:
        # degree via endpoint union over the canonical (once-per-edge)
        # rows: a self-loop appears as both endpoints → counts twice,
        # matching NetworkX degree
        deg = (
            e2.select(F.col("_lsrc").alias("_c"), "_w")
            .unionAll(e2.select(F.col("_ldst").alias("_c"), "_w"))
            .groupBy("_c")
            .agg(F.sum("_w").alias("_deg"))
        )
        per = deg.join(intra, "_c", "left").select(
            F.coalesce("_intra", F.lit(0.0)).alias("_intra"), "_deg"
        )
        term = (
            F.col("_intra") / F.col("_m")
            - F.lit(resolution) * (F.col("_deg") / (F.lit(2.0) * F.col("_m"))) ** 2
        )
    return per.join(F.broadcast(m), how="cross").agg(
        F.sum(term).alias("modularity")
    )


def communities_canonical(labels: DataFrame) -> DataFrame:
    """Re-key each community by its minimum member id so community
    assignments compare exactly across engines/runs."""
    canon = labels.groupBy("label").agg(F.min("id").alias("community"))
    return labels.join(canon, "label").select("id", "community")


def community_stats(graph: LinkGraph, labels: DataFrame) -> DataFrame:
    """Per-community quality metrics — DataFrame(label, n_nodes,
    volume, internal_edges, cut_edges, conductance): the standard
    companions to ``modularity`` for judging a partition (LPA output,
    host blocks, any DataFrame(id, label)).

    Symmetric-adjacency convention: every undirected edge counts once
    per direction, so ``volume`` is the degree sum of the community,
    ``internal_edges``/``cut_edges`` count directed (mirrored) edge
    rows whose source is in the community, and conductance is the
    usual φ(S) = cut(S) / min(vol(S), vol(V∖S)) — 0 for a perfectly
    isolated community, →1 for one that is mostly boundary. Vertices
    missing from ``labels`` drop with their edges (subgraph-then-
    measure, matching quotient_graph). Scale shape: two endpoint-
    keyed joins + one label groupBy; all output frames are
    |labels|-row.
    """
    lab = labels.select("id", "label")
    e = graph.sym_edges.select("src", "dst")
    if graph.directed:
        # conductance/volume are undirected notions: mirror directed
        # edges so both endpoints carry the edge in their degree
        e = e.unionAll(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    both = (
        e.join(lab.select(F.col("id").alias("src"), F.col("label").alias("sl")), "src")
        .join(lab.select(F.col("id").alias("dst"), F.col("label").alias("dl")), "dst")
    )
    per = both.groupBy(F.col("sl").alias("label")).agg(
        F.count("*").alias("volume"),
        F.sum(F.when(F.col("sl") == F.col("dl"), 1).otherwise(0)).alias(
            "internal_edges"
        ),
        F.sum(F.when(F.col("sl") != F.col("dl"), 1).otherwise(0)).alias("cut_edges"),
    )
    sizes = lab.groupBy("label").agg(F.count("*").alias("n_nodes"))
    total = per.agg(F.sum("volume").alias("_tv"))
    return (
        sizes.join(per, "label", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "label",
            "n_nodes",
            F.coalesce("volume", F.lit(0)).alias("volume"),
            F.coalesce("internal_edges", F.lit(0)).alias("internal_edges"),
            F.coalesce("cut_edges", F.lit(0)).alias("cut_edges"),
            F.when(
                F.least(F.coalesce("volume", F.lit(0)),
                        F.col("_tv") - F.coalesce("volume", F.lit(0))) > 0,
                F.coalesce("cut_edges", F.lit(0))
                / F.least(F.col("volume"), F.col("_tv") - F.col("volume")),
            )
            .otherwise(F.lit(0.0))
            .alias("conductance"),
        )
    )
