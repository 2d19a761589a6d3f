"""Skip-gram negative-sampling trainer vs a pure-Python replica
(exact hash init, exact negative draws, per-parameter mean-gradient
steps), plus behavioral checks: pair extraction windows, two-clique
separation, checkpoint resume, and loud validation."""

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from conftest import graph_from_edges
from linkgraph.operators.embeddings import (
    INIT_MOD,
    deepwalk_embeddings,
    edge_skipgram_pairs,
    skipgram_examples,
    skipgram_train,
    vocab_index,
    walk_skipgram_pairs,
)


def md5int(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _sigmoid(x):
    return 1.0 / (1.0 + np.exp(-x))


def py_sgns(pairs, dim, iters, lr, k_neg, seed):
    """Bit-for-bit replica of skipgram_train's arithmetic (modulo
    float summation order — asserted with a 1e-9 allclose)."""
    pairs = sorted(set(pairs))
    ids = sorted({c for c, _ in pairs} | {o for _, o in pairs})
    n = len(ids)
    ex = []
    for c, o in pairs:
        ex.append((c, o, 1.0))
        for s in range(k_neg):
            idx = md5int(f"sgneg:{seed}:{c}:{o}:{s}") % n
            ex.append((c, ids[idx], 0.0))
    v = {
        i: np.array(
            [
                ((md5int(f"sgv:{seed}:{i}:{j}") % INIT_MOD) / INIT_MOD - 0.5) / dim
                for j in range(dim)
            ]
        )
        for i in ids
    }
    u = {i: np.zeros(dim) for i in ids}
    for _ in range(iters):
        gv = {i: [] for i in ids}
        gu = {i: [] for i in ids}
        for c, t, y in ex:
            r = _sigmoid(float(v[c] @ u[t])) - y
            gv[c].append(r * u[t])
            gu[t].append(r * v[c])
        v = {
            i: v[i] - lr * (np.mean(gv[i], axis=0) if gv[i] else np.zeros(dim))
            for i in ids
        }
        u = {
            i: u[i] - lr * (np.mean(gu[i], axis=0) if gu[i] else np.zeros(dim))
            for i in ids
        }
    return v


PAIRS = [
    (1, 2), (2, 1), (2, 3), (3, 2), (3, 4), (4, 3), (4, 1), (1, 4),
    (1, 3), (5, 1), (2, 5),
]


def test_replica_exact(spark):
    df = spark.createDataFrame(PAIRS, "c long, o long")
    got = {
        r["id"]: np.array(r["vec"])
        for r in skipgram_train(
            df, dim=4, iters=3, lr=0.8, k_neg=2, seed=11
        ).collect()
    }
    want = py_sgns(PAIRS, dim=4, iters=3, lr=0.8, k_neg=2, seed=11)
    assert set(got) == set(want)
    for i in want:
        assert np.allclose(got[i], want[i], atol=1e-9), i


def test_replica_exact_no_negatives(spark):
    df = spark.createDataFrame(PAIRS, "c long, o long")
    got = {
        r["id"]: np.array(r["vec"])
        for r in skipgram_train(
            df, dim=3, iters=2, lr=0.5, k_neg=0, seed=3
        ).collect()
    }
    want = py_sgns(PAIRS, dim=3, iters=2, lr=0.5, k_neg=0, seed=3)
    for i in want:
        assert np.allclose(got[i], want[i], atol=1e-9), i


def test_shuffle_model_path_matches_broadcast(spark):
    """The broadcast model plan (the default at this vocabulary) and
    the shuffle plan forced through the broadcast threshold train
    the same vectors."""
    from conftest import shuffle_plan

    df = spark.createDataFrame(PAIRS, "c long, o long")
    kw = dict(dim=3, iters=2, lr=0.8, k_neg=1, seed=5)
    b = {
        r["id"]: np.array(r["vec"])
        for r in skipgram_train(df, **kw).collect()
    }
    with shuffle_plan(spark):
        s = {
            r["id"]: np.array(r["vec"])
            for r in skipgram_train(df, **kw).collect()
        }
    for i in b:
        assert np.allclose(b[i], s[i], atol=1e-9), i


def test_vocab_index_is_rank_by_id(spark):
    ids = [9, 4, 123456789012345, 2, 70]
    df = spark.createDataFrame([(i,) for i in ids], "id long")
    got = {r["id"]: r["i"] for r in vocab_index(df).collect()}
    want = {i: r for r, i in enumerate(sorted(ids))}
    assert got == want


def test_walk_pairs_window(spark):
    rows = [
        (1, 0, 0, 10), (1, 0, 1, 11), (1, 0, 2, 12), (1, 0, 3, 13),
        (2, 0, 0, 20), (2, 0, 1, 21),
    ]
    walks = spark.createDataFrame(
        rows, "start_id long, walk_no int, step int, id long"
    )
    got = {(r["c"], r["o"]) for r in walk_skipgram_pairs(walks, window=2).collect()}
    want = set()
    seqs = [[10, 11, 12, 13], [20, 21]]
    for seq in seqs:
        for i, c in enumerate(seq):
            for j, o in enumerate(seq):
                if i != j and abs(i - j) <= 2:
                    want.add((c, o))
    assert got == want


def test_examples_shape(spark):
    df = spark.createDataFrame(PAIRS, "c long, o long")
    ids = sorted({c for c, _ in PAIRS} | {o for _, o in PAIRS})
    voc = vocab_index(
        spark.createDataFrame([(i,) for i in ids], "id long")
    )
    ex = skipgram_examples(df, voc, len(ids), k_neg=2, seed=11)
    rows = ex.collect()
    n_pairs = len(set(PAIRS))
    assert len(rows) == n_pairs * 3
    assert len({r["eid"] for r in rows}) == len(rows)
    assert {r["y"] for r in rows} == {0.0, 1.0}


def test_two_cliques_separate(spark):
    edges = []
    for base in (0, 100):
        ids = [base + i for i in range(6)]
        edges += [(a, b) for a in ids for b in ids if a != b]
    edges += [(0, 100), (100, 0)]
    g = graph_from_edges(spark, edges)
    emb = skipgram_train(
        edge_skipgram_pairs(g), dim=8, iters=12, lr=1.0, k_neg=2, seed=7
    )
    vecs = {r["id"]: np.array(r["vec"]) for r in emb.collect()}

    def cos(a, b):
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b) + 1e-12))

    intra = np.mean(
        [cos(vecs[0], vecs[i]) for i in range(1, 6)]
        + [cos(vecs[100], vecs[100 + i]) for i in range(1, 6)]
    )
    inter = np.mean(
        [cos(vecs[i], vecs[100 + j]) for i in range(1, 6) for j in range(1, 6)]
    )
    assert intra > inter + 0.05


def test_deepwalk_end_to_end(spark):
    g = graph_from_edges(spark, [(1, 2), (2, 3), (3, 1), (4, 5), (5, 4)])
    emb = deepwalk_embeddings(
        g, dim=4, walk_length=4, walks_per_node=2, window=2, iters=2, lr=0.5,
        k_neg=1, seed=9,
    )
    rows = emb.collect()
    assert {r["id"] for r in rows} == {1, 2, 3, 4, 5}
    assert all(len(r["vec"]) == 4 for r in rows)


def test_checkpoint_resume_matches_uninterrupted(spark, tmp_path):
    df = spark.createDataFrame(PAIRS, "c long, o long")
    kw = dict(dim=3, lr=0.8, k_neg=1, seed=5)
    full = {
        r["id"]: np.array(r["vec"])
        for r in skipgram_train(df, iters=4, **kw).collect()
    }
    ck = str(tmp_path / "sg_ck")
    skipgram_train(df, iters=2, checkpoint_dir=ck, checkpoint_every=1, **kw)
    resumed = {
        r["id"]: np.array(r["vec"])
        for r in skipgram_train(
            df, iters=4, checkpoint_dir=ck, checkpoint_every=1, **kw
        ).collect()
    }
    for i in full:
        assert np.allclose(full[i], resumed[i], atol=1e-9), i
    with pytest.raises(ValueError, match="past the requested"):
        skipgram_train(df, iters=1, checkpoint_dir=ck, **kw)


def test_validation_is_loud(spark):
    df = spark.createDataFrame(PAIRS, "c long, o long")
    with pytest.raises(ValueError, match="dim"):
        skipgram_train(df, dim=0)
    with pytest.raises(ValueError, match="iters"):
        skipgram_train(df, iters=0)
    with pytest.raises(ValueError, match="lr"):
        skipgram_train(df, lr=0.0)
    with pytest.raises(ValueError, match="k_neg"):
        skipgram_train(df, k_neg=-1)
    with pytest.raises(ValueError, match="empty"):
        skipgram_train(df.limit(0))
    with pytest.raises(ValueError, match="window"):
        walk_skipgram_pairs(df, window=0)
