"""Connected components via iterative min-label propagation.

WCC re-expresses the reference's BFS flood-fill
(/root/reference/src/graph/graph.rs:1369-1433) — which does an O(V·E)
reverse-adjacency sweep per directed node — as the standard
data-parallel formulation: every vertex starts labeled with its own
id; each round every vertex takes the min of its own and its
neighbors' labels; fixpoint = components, label = min vertex id in
the component (the canonical component id our tests define, making
"components match exactly" well-defined across engines).

SCC replaces Kosaraju's inherently sequential DFS finish ordering
(digraph.rs:359-425) with the FW-BW/coloring scheme: forward-propagate
min labels to color vertices, take each color root's backward-reachable
set within its color as one SCC, peel, repeat. Rounds ≈ SCC-DAG
depth picked off per peel; each inner propagation is the same
frontier-join machinery as WCC.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.graph import LinkGraph
from linkgraph.plans.partitioning import stationary
from linkgraph.plans.iterate import (
    ConvergenceError,
    IterationResult,
    LineageChain,
    PeelCheckpoint,
    iterate,
    truncate_lineage,
)


def _min_label_step(
    edges: DataFrame, jump: bool = False, escalate_after: int | None = None
):
    """One synchronous round: label'(v) = min(label(v), min_{u→v} label(u)).

    ``jump`` additionally folds in the label-of-label L(L(v))
    (pointer jumping / hash-to-min): labels then shortcut along
    already-discovered chains, so a diameter-d component converges in
    O(log d) rounds instead of d — the difference between 6 and 10^6
    rounds on a long path. Costs one extra V-row self-join per round,
    so it pays off on high-diameter graphs; the fixpoint (min id per
    component) is identical either way.

    ``escalate_after``: the high-diameter ESCAPE HATCH — run the
    cheap plain step, and if round ``escalate_after`` arrives without
    convergence (the signature of a deeper-than-expected graph: a
    crawl-trap chain, a long redirect path), flip ``jump`` on
    MID-RUN. Labels are monotone toward the same fixpoint under both
    steps, so switching is always sound; what it buys is never
    needing to know the diameter in advance — shallow graphs
    (web-typical) pay zero extra, pathological ones finish in
    escalate_after + O(log d) rounds instead of d."""
    escalated = [False]

    def step(state: DataFrame, i: int) -> tuple[DataFrame, float]:
        j = jump or (escalate_after is not None and i >= escalate_after)
        if j and not jump and not escalated[0]:
            escalated[0] = True
            import sys

            print(
                f"linkgraph.wcc: round {i} without convergence — "
                "escalating to pointer-jumping (high-diameter escape)",
                file=sys.stderr,
            )
        # Frontier pruning (plain mode): labels are monotone, so a
        # vertex can only improve through a neighbor whose label
        # CHANGED last round — round i>0 joins only the changed
        # frontier against the edges, not all V rows. ``chg`` rides
        # the state (so checkpoints/resume carry it); round 0 treats
        # every vertex as changed. Jump mode reads full state (a
        # label-of-label shortcut can improve without a local change).
        has_chg = "chg" in state.columns
        active = state.filter(F.col("chg")) if (has_chg and not j) else state
        nbr = (
            active.join(edges, active.id == edges.src)
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("label").alias("nbr_min"))
        )
        new = state.join(nbr, "id", "left")
        if j:
            lol = state.alias("a").join(
                state.alias("b"), F.col("a.label") == F.col("b.id")
            ).select(F.col("a.id").alias("id"), F.col("b.label").alias("ll"))
            new = new.join(lol, "id", "left")
        else:
            new = new.withColumn("ll", F.lit(None).cast("long"))
        # persist the EXACT frame returned (no trailing projection):
        # iterate/next-round unpersist then targets the cached object
        # — a projection would silently no-op and leak one cached
        # frame per round (the partition.py/pregel ADVICE pattern)
        new = new.select(
            "id",
            F.least(
                F.col("label"),
                F.coalesce("nbr_min", F.col("label")),
                F.coalesce("ll", F.col("label")),
            ).alias("label"),
            (
                F.least(
                    F.col("label"),
                    F.coalesce("nbr_min", F.col("label")),
                    F.coalesce("ll", F.col("label")),
                )
                != F.col("label")
            ).alias("chg"),
        ).persist()
        changed = new.filter("chg").count()
        state.unpersist()
        return new, float(changed)

    return step


def weakly_connected_components(
    graph: LinkGraph,
    max_iter: int = 10_000,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 0,
    jump: bool | str = "auto",
    jump_after: int = 16,
    init_labels: DataFrame | None = None,
) -> IterationResult:
    """DataFrame(id, component); component = min vertex id in it.
    Directed edges treated weakly (both directions), matching the
    reference's directed WCC semantics (graph.rs:1406-1412).

    ``jump=True`` enables pointer jumping: O(log diameter) rounds at
    one extra self-join per round — use it when components may be
    deep (long chains); web graphs' shallow diameter makes the plain
    step cheaper per round. The default ``"auto"`` runs the cheap
    plain step and ESCALATES to pointer jumping mid-run if round
    ``jump_after`` arrives without convergence — so a pathological
    crawl graph (a 50k-long trap chain) cannot pick the wrong
    default: shallow graphs pay nothing, deep ones finish in
    jump_after + O(log d) rounds instead of d (pytest pins the round
    count on a 20k-diameter chain). ``False`` pins plain min-label.

    ``init_labels``: optional DataFrame(id, component) from a previous
    run — the incremental path for an ADDITIONS-ONLY graph delta (new
    pages/links after a crawl). Adding edges only merges components,
    and every old label is the min vertex id of a subset of the new
    component, so min-propagation from the old labels reaches the
    same fixpoint as from scratch in the few rounds the merges need
    instead of the full diameter. Vertices absent from ``init_labels``
    (newly discovered) seed with their own id. INVALID after edge
    REMOVALS (components can split; old labels may name vertices no
    longer in the component) — rerun cold for deletion deltas."""
    und = graph.to_directed() if not graph.directed else graph
    e = und.edges.select("src", "dst")

    # stationary operand: each label round joins on src without
    # re-shuffling the symmetrized edge table; memoized on the
    # (original) graph object so repeat WCC runs — the incremental
    # warm-start path especially — skip the build
    def _build_sym():
        return stationary(
            e.unionAll(
                e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            ),
            "src",
        )

    sym = graph.operand(("wcc_sym",), _build_sym)
    init = graph.vertices.select("id", F.col("id").alias("label"))
    if init_labels is not None:
        prev = init_labels.select(
            "id", F.col("component").cast("long").alias("_warm")
        )
        # cut once: a warm start that converges before the first
        # truncate boundary would otherwise nest the seed's whole plan
        init = truncate_lineage(
            init.join(prev, "id", "left")
            .select("id", F.coalesce("_warm", F.col("label")).alias("label"))
        )
    auto = jump == "auto"
    res = iterate(
        init,
        _min_label_step(
            sym,
            jump=False if auto else bool(jump),
            escalate_after=jump_after if auto else None,
        ),
        tol=0.0,
        max_iter=max_iter,
        checkpoint_dir=checkpoint_dir,
        checkpoint_every=checkpoint_every,
        on_exhaustion="raise",
    )
    res.state = res.state.select("id", F.col("label").alias("component"))
    return res


def connected_components_alternating(
    graph: LinkGraph,
    max_iter: int = 64,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 0,
) -> IterationResult:
    """DataFrame(id, component) by the alternating large-star /
    small-star algorithm (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14) — the O(log² n)-round WCC.

    Same contract as ``weakly_connected_components`` (component = min
    vertex id; directed edges treated weakly), different scaling
    shape: min-label propagation needs O(diameter) rounds — fine for
    shallow web graphs, hopeless on a 10^6-long chain — while the
    star-contraction rounds here are bounded by O(log² n) REGARDLESS
    of diameter, and the per-round state (the parent-pointer edge
    set) only shrinks as stars form. The per-round plan is two
    groupBy-min + two co-partitioned joins over the current edge set
    — the agg reuses the groupBy's hash partitioning, so each phase
    shuffles the operand once. Use it when components may be deep or
    the diameter is unknown; ``jump=True`` min-label is the
    middle ground (O(log d) rounds, but state stays V rows/round).

    State = the parent-pointer edge set, so ``checkpoint_dir`` resume
    restarts from the last committed edge frame mid-contraction.

    * large-star: every vertex u connects its strictly-larger
      neighbors to m(u) = min(Γ(u) ∪ {u}).
    * small-star: each edge oriented big→small; every vertex a
      connects its small neighbors AND itself to min(Γ≤(a) ∪ {a}).

    Fixpoint (edge set unchanged) = disjoint stars whose centers are
    the component minima. Convergence metric = symmetric-difference
    size between consecutive edge sets (exact, not a checksum).
    """
    verts = graph.vertices.select("id")
    init = (
        graph.edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )

    def step(state: DataFrame, i: int) -> tuple[DataFrame, float]:
        prev = state.persist()
        sym = prev.unionAll(
            prev.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        # m(u) = min(Γ(u) ∪ {u}); the agg output stays hash-partitioned
        # on src, so the emit join below reuses that exchange
        mins = (
            sym.groupBy("src")
            .agg(F.min("dst").alias("_mn"))
            .select("src", F.least(F.col("_mn"), F.col("src")).alias("m"))
        )
        # emit (v, m(u)) for v ∈ Γ(u), v > u: each undirected edge is
        # emitted exactly once (from its smaller endpoint's group);
        # v > u ≥ m(u) so no self-loops arise
        ls = (
            sym.join(mins, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .distinct()
        )
        # small-star: ls edges are all big→small already; emit
        # (b, m(a)) for every small neighbor b and (a, m(a))
        mins2 = ls.groupBy("src").agg(F.min("dst").alias("m"))
        withm = ls.join(mins2, "src")
        ss = (
            withm.select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .unionAll(withm.select("src", F.col("m").alias("dst")))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            .persist()
        )
        # exact symmetric difference in ONE action: rows appearing in
        # exactly one of {prev, ss} (both are distinct sets, so a
        # count of 1 after the union means one-sided)
        sym_diff = (
            prev.unionAll(ss)
            .groupBy("src", "dst")
            .count()
            .filter(F.col("count") == 1)
            .count()
        )
        prev.unpersist()
        return ss, float(sym_diff)

    res = iterate(
        init,
        step,
        tol=0.0,
        max_iter=max_iter,
        truncate_every=2,
        checkpoint_dir=checkpoint_dir,
        checkpoint_every=checkpoint_every,
        on_exhaustion="raise",
    )
    stars = res.state.select(
        F.col("src").alias("id"), F.col("dst").alias("center")
    )
    res.state = verts.join(stars, "id", "left").select(
        "id", F.coalesce("center", F.col("id")).alias("component")
    )
    return res


def _propagate_min(vertices: DataFrame, edges: DataFrame, max_iter: int = 10_000) -> DataFrame:
    """Forward min-label fixpoint over directed edges: result(v) =
    min id over {v} ∪ {u : u reaches v}. Returns (id, label).
    Inherits WCC's high-diameter escape (pointer jumping after 16
    unconverged rounds) so an SCC peel over a deep DAG cannot stall
    at O(depth) rounds."""
    init = vertices.select("id", F.col("id").alias("label"))
    return iterate(
        init,
        _min_label_step(edges, escalate_after=16),
        tol=0.0,
        max_iter=max_iter,
        on_exhaustion="raise",
    ).state


def strongly_connected_components(
    graph: LinkGraph,
    max_peels: int = 1000,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 0,
    resume: bool = True,
) -> DataFrame:
    """DataFrame(id, component); component = min vertex id in the SCC.

    Coloring/FW-BW peeling. Driver loop count = number of peels (each
    peel removes ≥1 SCC per color); inner loops are frontier joins.
    Suited to web graphs whose giant SCC comes out in peel one.

    ``checkpoint_dir``/``checkpoint_every``: durable per-peel commits
    of (assigned, remaining_v, remaining_e) via PeelCheckpoint — a
    killed 10-hour run restarts from the last committed peel instead
    of from zero (north-rule resumability for multi-frame loops).
    """
    spark = graph.edges.sparkSession
    remaining_v = graph.vertices.select("id").persist()
    remaining_e = graph.edges.select("src", "dst").persist()
    assigned = spark.createDataFrame([], "id long, component long")
    vchain, echain, achain = LineageChain(), LineageChain(), LineageChain()

    ckpt = PeelCheckpoint(checkpoint_dir, spark) if checkpoint_dir else None
    start_peel = 0
    if ckpt and resume:
        meta = ckpt.latest()
        if meta is not None:
            frames = ckpt.load(meta)
            remaining_v.unpersist()
            remaining_e.unpersist()
            assigned = frames["assigned"]
            remaining_v = frames["remaining_v"].persist()
            remaining_e = frames["remaining_e"].persist()
            start_peel = meta["round"] + 1

    done_all = False
    for peel in range(start_peel, max_peels):
        if remaining_v.limit(1).count() == 0:
            done_all = True
            break
        # 1. color(v) = min vertex id that reaches v (forward fixpoint).
        # Both join orientations get stationary (src-partitioned,
        # cached) operands for the duration of the peel.
        fwd_e = stationary(remaining_e, "src")
        colors = _propagate_min(remaining_v, fwd_e).withColumnRenamed("label", "color")
        colors = colors.persist()
        # 2. root r of each color is r itself (color(r)==r); SCC(r) =
        #    vertices of color r backward-reachable from r. Backward
        #    reachability from all roots at once: propagate the color
        #    as a mark along REVERSED edges, constrained to same color.
        rev = stationary(
            remaining_e.select(F.col("dst").alias("src"), F.col("src").alias("dst")), "src"
        )
        # mark(v) = 1 if v backward-reaches its color root within color
        marks = colors.select("id", "color", (F.col("id") == F.col("color")).alias("mark"))

        def bw_step(state: DataFrame, i: int) -> tuple[DataFrame, float]:
            # propagate mark along reversed edges, same-color only.
            # The join is keyed on (id, color): a vertex whose marked
            # predecessors span SEVERAL colors has several hit rows,
            # and an id-only join would fan its state row out into
            # duplicates (observed: 181 SCC rows on a 150-vertex
            # graph); keying on the color too matches at most one.
            src_side = state.filter("mark").select(
                F.col("id").alias("src"), F.col("color").alias("mcolor")
            )
            hits = (
                src_side.join(rev, "src")
                .select(F.col("dst").alias("id"), F.col("mcolor").alias("color"))
                .distinct()
                .withColumn("_hit", F.lit(True))
            )
            # persist the exact returned frame (no projection after
            # persist — the unpersist would no-op and leak per round)
            new = (
                state.join(hits, ["id", "color"], "left")
                .select(
                    "id",
                    "color",
                    (F.col("mark") | F.coalesce(F.col("_hit"), F.lit(False))).alias("mark"),
                    (
                        F.coalesce(F.col("_hit"), F.lit(False)) & ~F.col("mark")
                    ).alias("_new"),
                )
                .persist()
            )
            changed = new.filter("_new").count()
            state.unpersist()
            return new, float(changed)

        # LineageChain per peel: hard lineage cuts keep the plan depth
        # O(1) across peels (persist alone does not), and superseded
        # trunc dirs are deleted as the loop advances.
        marked = iterate(
            marks, bw_step, tol=0.0, max_iter=10_000, on_exhaustion="raise"
        ).state.persist()
        scc = marked.filter("mark").select("id", F.col("color").alias("component"))
        assigned = achain.cut(assigned.unionAll(scc))
        done = scc.select("id")
        remaining_v = vchain.cut(remaining_v.join(done, "id", "left_anti"))
        remaining_e = echain.cut(
            remaining_e.join(done, remaining_e.src == done.id, "left_anti")
            .join(done, F.col("dst") == done.id, "left_anti")
        )
        colors.unpersist()
        marked.unpersist()
        fwd_e.unpersist()
        rev.unpersist()
        if ckpt and checkpoint_every and (peel + 1) % checkpoint_every == 0:
            ckpt.commit(
                peel,
                {
                    "assigned": assigned,
                    "remaining_v": remaining_v,
                    "remaining_e": remaining_e,
                },
            )
    else:
        done_all = remaining_v.limit(1).count() == 0

    if not done_all:
        raise ConvergenceError(
            f"strongly_connected_components: {max_peels} peels exhausted with "
            "vertices still unassigned — a partial SCC map is a wrong answer; "
            "raise max_peels for graphs with a deep SCC condensation"
        )
    vchain.release()
    echain.release()
    return assigned
