"""Independent oracles for every output the benchmark checks.

None of these call the engine's code paths: URL normalization and the
64-bit vertex ids are re-implemented here (regex + a pure-Python
XXH64), PageRank and label propagation are numpy replays of the
documented rules, components are a union-find, triangles come from
NetworkX and the host-level tables from DuckDB SQL over the staged
parquet. The only engine import is ``pinned_extract_links``, the
per-row extraction contract the engine's vectorized UDF must match.
"""

from __future__ import annotations

import re
from collections import Counter

import numpy as np

_M64 = (1 << 64) - 1
_P1 = 11400714785074694791
_P2 = 14029467366897019727
_P3 = 1609587929392839161
_P4 = 9650029242287828579
_P5 = 2870177450012600261
SPARK_HASH_SEED = 42  # the seed Spark's xxhash64() uses


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    acc = (acc + lane * _P2) & _M64
    return (_rotl(acc, 31) * _P1) & _M64


def _merge(h: int, v: int) -> int:
    h ^= _round(0, v)
    return (h * _P1 + _P4) & _M64


def xxhash64(data: bytes, seed: int = SPARK_HASH_SEED) -> int:
    """XXH64 of ``data`` as a signed 64-bit int — what Spark's
    ``xxhash64(string_col)`` returns for the string's UTF-8 bytes."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M64
        v2 = (seed + _P2) & _M64
        v3 = seed & _M64
        v4 = (seed - _P1) & _M64
        while i + 32 <= n:
            v1 = _round(v1, int.from_bytes(data[i:i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8:i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16:i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24:i + 32], "little"))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h = _merge(h, v)
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i:i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i:i + 4], "little") * _P1) & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M64
        h = (_rotl(h, 11) * _P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >= 1 << 63 else h


_SCHEME_HOST = re.compile(r"^(https?://[^/]+)", re.IGNORECASE)
_HOST = re.compile(r"^https?://([^/]+)", re.IGNORECASE)


def normalize_url(url: str) -> str:
    """Lowercase scheme+host, drop the fragment and one trailing slash."""
    u = re.sub(r"#.*$", "", url, count=1)
    u = re.sub(r"/$", "", u, count=1)
    m = _SCHEME_HOST.match(u)
    if not m:
        return u
    return m.group(1).lower() + u[m.end():]


def url_id(url: str) -> int:
    return xxhash64(normalize_url(url).encode("utf-8"))


def page_edges_replay(pages: list[tuple[str, bytes]]) -> dict[tuple[int, int], float]:
    """(src id, dst id) → multiplicity for the given (url, html) pages,
    from the pinned per-row extraction contract."""
    from linkgraph.functions.extract import pinned_extract_links

    out: Counter = Counter()
    for url, html in pages:
        src = url_id(url)
        for href in pinned_extract_links(html):
            out[(src, url_id(href))] += 1
    return {k: float(v) for k, v in out.items()}


# DuckDB rendering of the same contract: pinned_extract_links' regex,
# then the host of the fragment-stripped url (lowercased authority).
_DUCK_LINKS = r"""
WITH p AS (SELECT url, decode(html) AS h FROM read_parquet('{pages}')),
l AS (
  SELECT url, unnest(regexp_extract_all(
    h, '<a\s[^>]*href=["'']([^"'']+)["'']', 1, 'i')) AS href
  FROM p
)
"""
_DUCK_HOST = r"lower(regexp_extract(regexp_replace({c}, '#.*$', ''), '^https?://([^/]+)', 1, 'i'))"


def link_total(con, pages_glob: str) -> int:
    """Number of <a href> instances over all staged pages (DuckDB)."""
    q = _DUCK_LINKS.format(pages=pages_glob) + "SELECT count(*) FROM l"
    return int(con.sql(q).fetchone()[0])


def host_edges(con, pages_glob: str) -> dict[tuple[str, str], float]:
    """(src host, dst host) → link-instance count over all staged pages."""
    q = _DUCK_LINKS.format(pages=pages_glob) + (
        "SELECT " + _DUCK_HOST.format(c="url") + " AS s, "
        + _DUCK_HOST.format(c="href") + " AS d, count(*) AS w FROM l GROUP BY 1, 2"
    )
    return {(s, d): float(w) for s, d, w in con.sql(q).fetchall()}


# --- graph oracles ----------------------------------------------------------


class IndexedGraph:
    """An edge list re-indexed to dense vertex positions 0..n-1; vertices
    are the distinct edge endpoints (the engine's derived vertex table)."""

    def __init__(self, src, dst, weight=None):
        src = np.asarray(src, dtype=np.int64)
        dst = np.asarray(dst, dtype=np.int64)
        self.ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
        self.s = inv[: len(src)]
        self.d = inv[len(src):]
        self.w = (
            np.ones(len(src)) if weight is None else np.asarray(weight, dtype=np.float64)
        )
        self.n = len(self.ids)

    def positions(self, ids) -> np.ndarray:
        """Dense positions of ``ids``; raises if one is not a vertex."""
        ids = np.asarray(ids, dtype=np.int64)
        pos = np.searchsorted(self.ids, ids)
        pos = np.minimum(pos, self.n - 1)
        if len(ids) and not np.array_equal(self.ids[pos], ids):
            raise ValueError("result names a vertex the graph does not have")
        return pos


def pagerank_iterate(g: IndexedGraph, alpha: float, iterations: int | None = None,
                     tol: float | None = None, max_iter: int = 10_000):
    """NetworkX-semantics power iteration from the uniform vector:
    out-weight-normalized contributions, dangling mass spread uniformly,
    r' = (1-α)/n + α(Σ contribs + dangling/n). Runs exactly
    ``iterations`` steps, or until the L1 change is below ``n * tol``.
    Returns (ranks, iterations run, last L1 change)."""
    n = g.n
    out_w = np.bincount(g.s, weights=g.w, minlength=n)
    p = g.w / out_w[g.s]
    dangling = out_w == 0
    r = np.full(n, 1.0 / n)
    delta = float("inf")
    k = 0
    while k < (iterations if iterations is not None else max_iter):
        c = np.bincount(g.d, weights=r[g.s] * p, minlength=n)
        new = (1.0 - alpha) / n + alpha * (c + r[dangling].sum() / n)
        delta = float(np.abs(new - r).sum())
        r = new
        k += 1
        if iterations is None and delta < n * tol:
            break
    return r, k, delta


def check_pagerank_replay(g: IndexedGraph, ids, ranks, iterations: int,
                          alpha: float, tol: float) -> str | None:
    """Engine ranks after ``iterations`` steps against the numpy replay
    of the same steps (allclose at 1e-6), and the engine's stopping
    point against the tolerance. None when they agree, else why not."""
    want, _, delta = pagerank_iterate(g, alpha, iterations=iterations)
    got = np.zeros(g.n)
    pos = g.positions(ids)
    if len(pos) != g.n or len(np.unique(pos)) != g.n:
        return f"pagerank returned {len(pos)} rows for {g.n} vertices"
    got[pos] = np.asarray(ranks, dtype=np.float64)
    if not np.allclose(got, want, rtol=1e-6, atol=0.0):
        return f"pagerank max abs diff {np.abs(got - want).max():.3e}"
    if delta > g.n * tol * (1 + 1e-6):
        return f"pagerank stopped at delta {delta:.3e} > n*tol {g.n * tol:.3e}"
    return None


def check_pagerank_fixpoint(g: IndexedGraph, ids, ranks, alpha: float,
                            tol: float) -> str | None:
    """Ranks that stopped at an L1 change below ``n * tol`` lie within
    α/(1-α)·n·tol (L1) of the true fixpoint, whatever vector they
    started from: the update is an α-contraction in L1."""
    star, _, _ = pagerank_iterate(g, alpha, tol=1e-15 / g.n, max_iter=5_000)
    got = np.zeros(g.n)
    pos = g.positions(ids)
    if len(pos) != g.n or len(np.unique(pos)) != g.n:
        return f"ranks cover {len(pos)} rows for {g.n} vertices"
    got[pos] = np.asarray(ranks, dtype=np.float64)
    bound = alpha / (1.0 - alpha) * g.n * tol + 1e-12
    l1 = float(np.abs(got - star).sum())
    if l1 > bound:
        return f"ranks are {l1:.3e} (L1) from the fixpoint, bound {bound:.3e}"
    return None


def components_union_find(g: IndexedGraph) -> np.ndarray:
    """Weak component label per dense position: the minimum vertex id
    in the component."""
    parent = list(range(g.n))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(g.s.tolist(), g.d.tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            # positions are sorted by id, so the smaller root holds the min id
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    roots = np.array([find(x) for x in range(g.n)], dtype=np.int64)
    return g.ids[roots]


def lpa_replay(g: IndexedGraph, max_iter: int = 20) -> np.ndarray:
    """Synchronous label propagation, unweighted, over both directions of
    every edge (each directed edge votes once each way): a vertex takes
    the neighbor label with the most votes, ties to the smaller label,
    and keeps its own when it has no neighbor. Stops when nothing
    changes, on a period-2 recurrence (the state two rounds back comes
    back), or after ``max_iter`` rounds. Returns labels per position."""
    s = np.concatenate([g.s, g.d])
    d = np.concatenate([g.d, g.s])
    lab = g.ids.copy()
    history: list[np.ndarray] = []
    for _ in range(max_iter):
        cand = lab[s]
        order = np.lexsort((cand, d))
        ds, cs = d[order], cand[order]
        start = np.ones(len(ds), dtype=bool)
        start[1:] = (ds[1:] != ds[:-1]) | (cs[1:] != cs[:-1])
        gi = np.flatnonzero(start)
        gd, gc = ds[gi], cs[gi]
        votes = np.diff(np.append(gi, len(ds)))
        best = np.lexsort((gc, -votes, gd))
        first = np.ones(len(best), dtype=bool)
        first[1:] = gd[best][1:] != gd[best][:-1]
        new = lab.copy()
        new[gd[best][first]] = gc[best][first]
        changed = int((new != lab).sum())
        if changed and len(history) >= 2 and np.array_equal(new, history[-2]):
            changed = 0
        history = (history + [new])[-2:]
        lab = new
        if changed == 0:
            break
    return lab


def triangles_networkx(src, dst) -> int:
    import networkx as nx

    G = nx.Graph()
    G.add_edges_from(zip(np.asarray(src).tolist(), np.asarray(dst).tolist()))
    G.remove_edges_from(nx.selfloop_edges(G))
    return sum(nx.triangles(G).values()) // 3


def check_labels(g: IndexedGraph, ids, labels, want: np.ndarray, what: str) -> str | None:
    """Exact per-vertex comparison of an engine labelling with an oracle's."""
    pos = g.positions(ids)
    if len(pos) != g.n or len(np.unique(pos)) != g.n:
        return f"{what} returned {len(pos)} rows for {g.n} vertices"
    got = np.empty(g.n, dtype=np.int64)
    got[pos] = np.asarray(labels, dtype=np.int64)
    bad = int((got != want).sum())
    return f"{what}: {bad} of {g.n} labels differ" if bad else None
