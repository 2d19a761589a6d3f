"""Distributed skip-gram-with-negative-sampling embedding training
run AS DATAFLOW — the representation-learning stage of a link-graph /
training-data pipeline (DeepWalk, Perozzi et al. KDD'14; node2vec,
Grover & Leskovec KDD'16; SGNS objective from word2vec, Mikolov et
al. NIPS'13). The engine already produces SQL-replayable
random/node2vec walks (`operators/walks.py`); this module closes the
loop: walks → skip-gram pairs → trained (id, vec) embedding table,
entirely in DataFrame operations — no parameter server, no
driver-side model, no Python in the hot path.

Reference scope note: networkx-rust has no embedding trainer (its
surface stops at walks-free graph algorithms); this operator is part
of the beyond-the-reference LLM-pipeline tier, same as DSIR/SemDeDup.

Objective (SGNS, one "example" per positive pair and per sampled
negative):

    L = mean over examples of BCE(sigma(v_c . u_t), y)

where v (input/center vectors) and u (output/context vectors) are the
two embedding tables, y = 1 for an observed (center, context) pair
and 0 for a drawn negative. Training is deterministic full-batch
gradient descent:

  * negatives are drawn ONCE, up front, by counter hash — slot i of
    pair (c, o) maps to vocab rank md5(c,o,i,seed) mod |vocab| over a
    dense 0..n-1 id-ordered vocabulary index (distributed
    zipWithIndex, no global window). Uniform negative distribution
    (the unigram^0.75 table of word2vec needs a sampled alias
    structure that would break exact SQL replay; uniform is the
    documented deviation). A drawn negative may collide with the true
    context or the center — classic word2vec keeps those too, and the
    objective stays well-formed.
  * the examples table (eid, c, t, y) is therefore STATIC: built
    once, cached hash-partitioned by center. eid is a deterministic
    per-example key so an exploded SQL replay can reproduce dot
    products per example even when two examples share (c, t).
  * gradients are PER-PARAMETER MEANS (F.avg over the contributions
    that touch a vector), not global-mean sums: a hub vertex's update
    is the average of its residual directions, so the step size is
    bounded regardless of degree skew — the same reason distributed
    word2vec implementations average per-word deltas.

Per-iteration plan shape: the broadcast-or-shuffle choice is
plans/partitioning.spmv_plan's, so it follows
``spark.sql.autoBroadcastJoinThreshold`` with the model's true row
size (2V rows of one id + ``dim`` doubles). Broadcast: the model
frame (side 0 = input vectors, side 1 = output vectors) broadcasts
into the example join, the two gradient families leave the join as
ONE inline_outer explode (each scored example emits its v-gradient
and u-gradient contribution rows in the same pass — the scored join
is never computed twice), and the single shuffle of the iteration is
the (side, id)-keyed gradient avg, map-side combined from 2·E·(1+k)
rows down to ≤ 2V per partition. The updated model rides ONE
LineageChain cut (one action, one tiny parquet) per iteration.
Shuffle (a model over the threshold, e.g. 10^9 vertices): the same
plan runs with hash joins: the example cache is partitioned by c so
the center join co-locates (the input-vector frame shuffles, V
rows), and the context join then re-keys the scored examples by
target — ONE E-sized exchange per iteration, the unavoidable cost of
meeting the second factor of a factorized model without a broadcast;
the gradient aggregation stays map-side combined on top of it.

Determinism / engine portability: init values and negatives come from
the portable md5-60-bit hash (`functions/text.md5int_col`), every
aggregation is a plain sum/avg of float64s, and readouts round to
6 dp — the driver contract replays two full GD iterations value-exact
in unrolled DuckDB SQL over the exploded (id, dim, value)
representation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.functions.text import md5int_col
from linkgraph.graph import LinkGraph
from linkgraph.plans.iterate import LineageChain, PeelCheckpoint
from linkgraph.plans.partitioning import spmv_plan

# modulus for the uniform init hash — prime, and small enough that
# (h % MOD) / MOD is exact in float64 in any engine
INIT_MOD = 1_000_003


def vocab_index(ids: DataFrame) -> DataFrame:
    """DataFrame(id, i): dense 0..n-1 rank by ascending id, computed
    with the distributed zipWithIndex (high-bit buckets + per-bucket
    windows — no single-partition global window). Replays in SQL as
    row_number() over (order by id) - 1."""
    from linkgraph.operators.layout import _indexed

    return _indexed(ids)


def walk_skipgram_pairs(
    walks: DataFrame,
    window: int = 2,
) -> DataFrame:
    """Skip-gram (center, context) pairs from a walk table
    (start_id, walk_no, step, id) as produced by
    `random_walks`/`node2vec_walks`: one row (c, o) per ordered pair
    of DISTINCT positions at distance 1..window within the same
    trajectory. Output: DataFrame(c, o) with duplicates collapsed
    (SGNS over a multiset of identical pairs only rescales that
    pair's weight; the engine trains on the distinct support so the
    example table stays bounded by corpus size, not walk count).

    Scale shape: a self-equi-join keyed on the (start_id, walk_no)
    trajectory id — per-walk fan-out is at most length x 2·window
    rows, and trajectory keys are uniform by construction (one per
    start x walk_no), so no reducer hot spot exists even on hub-heavy
    graphs."""
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    a = walks.select(
        F.col("start_id").alias("_w1"),
        F.col("walk_no").alias("_w2"),
        F.col("step").alias("_i"),
        F.col("id").alias("c"),
    )
    b = walks.select(
        F.col("start_id").alias("_w1"),
        F.col("walk_no").alias("_w2"),
        F.col("step").alias("_j"),
        F.col("id").alias("o"),
    )
    return (
        a.join(b, ["_w1", "_w2"])
        .filter(
            (F.col("_i") != F.col("_j"))
            & (F.abs(F.col("_i") - F.col("_j")) <= window)
        )
        .select("c", "o")
        .distinct()
    )


def edge_skipgram_pairs(graph: LinkGraph, symmetric: bool = True) -> DataFrame:
    """Skip-gram pairs straight from the edge table — first-order
    proximity training (the LINE-1st objective, Tang et al. WWW'15)
    without materializing walks. ``symmetric=True`` (default) trains
    both directions of every link — explicitly mirrored, so it holds
    for directed graphs too — matching the undirected-context
    semantics of DeepWalk windows."""
    e = graph.edges.select("src", "dst")
    if symmetric:
        e = e.unionAll(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    return e.select(F.col("src").alias("c"), F.col("dst").alias("o")).distinct()


def _neg_hash(seed: int) -> F.Column:
    return md5int_col(
        F.concat_ws(
            ":",
            F.lit("sgneg"),
            F.lit(str(int(seed))),
            F.col("c").cast("string"),
            F.col("o").cast("string"),
            F.col("_slot").cast("string"),
        )
    )


def skipgram_examples(
    pairs: DataFrame,
    vocab: DataFrame,
    n_vocab: int,
    k_neg: int = 2,
    seed: int = 42,
) -> DataFrame:
    """DataFrame(eid, c, t, y): the static SGNS example table — the
    positive (c, o, y=1) row per pair plus ``k_neg`` hash-drawn
    uniform negatives (c, vocab[md5(c,o,slot,seed) mod n], y=0).
    ``vocab`` must be the (id, i) dense index over the candidate
    target set. eid is a deterministic per-example string key (SQL
    replays group per-example dot products by it; duplicate (c, t)
    combinations stay distinguishable)."""
    if k_neg < 0:
        raise ValueError(f"k_neg must be >= 0, got {k_neg}")
    pos = pairs.select(
        F.concat_ws(
            ":", F.lit("p"), F.col("c").cast("string"), F.col("o").cast("string")
        ).alias("eid"),
        "c",
        F.col("o").alias("t"),
        F.lit(1.0).alias("y"),
    )
    if k_neg == 0:
        return pos
    drawn = (
        pairs.select(
            "c",
            "o",
            F.explode(F.sequence(F.lit(0), F.lit(k_neg - 1))).alias("_slot"),
        )
        .withColumn("_i", _neg_hash(seed) % F.lit(int(n_vocab)))
        .join(vocab.select(F.col("i").alias("_i"), F.col("id").alias("t")), "_i")
        .select(
            F.concat_ws(
                ":",
                F.lit("n"),
                F.col("c").cast("string"),
                F.col("o").cast("string"),
                F.col("_slot").cast("string"),
            ).alias("eid"),
            "c",
            "t",
            F.lit(0.0).alias("y"),
        )
    )
    return pos.unionByName(drawn)


def _init_vec(dim: int, seed: int, side: str) -> F.Column:
    """Deterministic uniform(-0.5/dim, 0.5/dim) init per (id, j) from
    the portable hash (side 'v'); zeros for the output table (side
    'u' — word2vec's standard zero output init, which also makes
    every first-iteration dot product exactly 0)."""
    if side == "u":
        return F.array(*[F.lit(0.0) for _ in range(dim)])
    return F.array(
        *[
            (
                (
                    md5int_col(
                        F.concat_ws(
                            ":",
                            F.lit("sgv"),
                            F.lit(str(int(seed))),
                            F.col("id").cast("string"),
                            F.lit(str(j)),
                        )
                    )
                    % F.lit(INIT_MOD)
                ).cast("double")
                / F.lit(float(INIT_MOD))
                - F.lit(0.5)
            )
            / F.lit(float(dim))
            for j in range(dim)
        ]
    )


def skipgram_train(
    pairs: DataFrame,
    dim: int = 16,
    iters: int = 5,
    lr: float = 0.5,
    k_neg: int = 2,
    seed: int = 42,
    partitions: int | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 0,
    resume: bool = True,
) -> DataFrame:
    """Train SGNS embeddings over a (c, o) pair table; returns the
    input-vector table DataFrame(id, vec: array<double>) after
    ``iters`` deterministic full-batch steps (see module docstring
    for the objective, plan shape and determinism contract).

    The model joins are broadcast joins while the 2·|vocab|-row model
    fits ``spark.sql.autoBroadcastJoinThreshold``, hash joins above.
    ``checkpoint_dir``/``checkpoint_every``: durable per-step commits
    of both model tables via PeelCheckpoint; a restarted call with
    the same dir resumes GD mid-training, and a checkpoint trained
    past the requested ``iters`` refuses loudly."""
    if dim < 1:
        raise ValueError(f"dim must be >= 1, got {dim}")
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    if lr <= 0:
        raise ValueError(f"lr must be positive, got {lr}")
    spark = pairs.sparkSession
    n_part = partitions or int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

    p = pairs.select("c", "o")
    ids = p.select(F.col("c").alias("id")).unionAll(
        p.select(F.col("o").alias("id"))
    ).distinct()
    vocab = vocab_index(ids)
    n_vocab = vocab.count()
    if n_vocab == 0:
        raise ValueError("pairs is empty — nothing to train")
    ex = (
        skipgram_examples(p, vocab, n_vocab, k_neg, seed)
        .repartition(n_part, "c")
        .persist()
    )
    # materialize the static example cache once; the model frame is
    # 2·|vocab| rows of (id, dim doubles)
    plan = spmv_plan(spark, 2 * n_vocab, ex.count(), row_bytes=8 + 8 * dim)

    ckpt = PeelCheckpoint(checkpoint_dir, spark) if checkpoint_dir else None
    meta = ckpt.latest() if (ckpt and resume) else None
    start = 0
    if meta is not None:
        start = int(meta["extra"]["it"])
        if start > iters:
            raise ValueError(
                f"checkpoint at step {start} is past the requested iters={iters}; "
                "pass a larger iters to extend training or a fresh checkpoint_dir"
            )
        if int(meta["extra"].get("dim", dim)) != dim:
            raise ValueError(
                f"checkpoint dim {meta['extra'].get('dim')} != requested {dim}"
            )
        state = ckpt.load(meta)["model"]
    else:
        state = vocab.select(
            F.lit(0).alias("side"), "id", _init_vec(dim, seed, "v").alias("vec")
        ).unionByName(
            vocab.select(
                F.lit(1).alias("side"), "id", _init_vec(dim, seed, "u").alias("vec")
            )
        )
    chain = LineageChain()
    state = chain.cut(state)

    zeros = F.array(*[F.lit(0.0) for _ in range(dim)])
    for it in range(start, iters):
        vside = state.filter(F.col("side") == 0).select(
            F.col("id").alias("c"), F.col("vec").alias("_v")
        )
        uside = state.filter(F.col("side") == 1).select(
            F.col("id").alias("t"), F.col("vec").alias("_u")
        )
        vside, uside = plan.state(vside), plan.state(uside)
        scored = (
            ex.join(vside, "c")
            .join(uside, "t")
            .withColumn(
                "_r",
                F.lit(1.0)
                / (
                    F.lit(1.0)
                    + F.exp(
                        -F.aggregate(
                            F.zip_with("_v", "_u", lambda a, b: a * b),
                            F.lit(0.0),
                            lambda acc, x: acc + x,
                        )
                    )
                )
                - F.col("y"),
            )
        )
        # both gradient families leave the scored join in ONE pass:
        # each example explodes into its v-contribution (side 0, keyed
        # by the center) and u-contribution (side 1, keyed by the
        # target) — the join above is never recomputed
        contrib = scored.select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit(0).alias("side"),
                        F.col("c").alias("id"),
                        F.transform("_u", lambda x: F.col("_r") * x).alias("gv"),
                    ),
                    F.struct(
                        F.lit(1).alias("side"),
                        F.col("t").alias("id"),
                        F.transform("_v", lambda x: F.col("_r") * x).alias("gv"),
                    ),
                )
            ).alias("e")
        ).select("e.*")
        grad = contrib.groupBy("side", "id").agg(
            F.array(*[F.avg(F.col("gv")[j]) for j in range(dim)]).alias("g")
        )
        state = chain.cut(
            state.join(grad, ["side", "id"], "left").select(
                "side",
                "id",
                F.zip_with(
                    "vec",
                    F.coalesce("g", zeros),
                    lambda v, g: v - F.lit(float(lr)) * g,
                ).alias("vec"),
            )
        )
        if ckpt and checkpoint_every and (it + 1) % checkpoint_every == 0:
            ckpt.commit(
                it + 1, {"model": state}, extra={"it": it + 1, "dim": dim}
            )
    ex.unpersist()
    return state.filter(F.col("side") == 0).select("id", "vec")


def deepwalk_embeddings(
    graph: LinkGraph,
    dim: int = 16,
    walk_length: int = 10,
    walks_per_node: int = 1,
    window: int = 2,
    iters: int = 5,
    lr: float = 0.5,
    k_neg: int = 2,
    seed: int = 42,
    **train_kw,
) -> DataFrame:
    """DeepWalk end-to-end: deterministic uniform random walks →
    windowed skip-gram pairs → SGNS training. Returns
    DataFrame(id, vec)."""
    from linkgraph.operators.walks import random_walks

    walks = random_walks(
        graph, length=walk_length, walks_per_node=walks_per_node, seed=seed
    )
    pairs = walk_skipgram_pairs(walks, window=window)
    return skipgram_train(
        pairs, dim=dim, iters=iters, lr=lr, k_neg=k_neg, seed=seed, **train_kw
    )
