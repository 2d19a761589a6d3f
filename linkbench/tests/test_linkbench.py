"""Tests of the benchmark itself: its names, its seeded inputs, its
statistics and its oracles.

    python3 -m pytest linkbench/tests -q
"""

import glob
import json
import os
import re
import shutil
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest
from conftest import BENCH, ROOT

import compare
import oracles
import stats
import workloads

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    # no inherited PYTHONPATH: the run must find the engine in its own checkout
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run(
        [sys.executable, "linkbench/run.py", *args], cwd=cwd, env=env,
        capture_output=True, text=True, timeout=600,
    )


# --- names -------------------------------------------------------------------


def test_spec_names_follow_the_naming_rule():
    spec = _spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    metrics = spec["end_to_end"] + spec["per_layer"]
    names = [w["name"] for w in spec["workloads"]] + [m["name"] for m in metrics]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names), [n for n in names if not NAME.match(n)]
    assert all(UNIT.match(m["unit"]) and m["better"] in ("higher", "lower") for m in metrics)
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25


@pytest.mark.parametrize("trace", ["0", "1"])
def test_printed_names_match_spec(trace):
    out = _run(ROOT, "--workload", "crawl_ingest", "--seed", "3", "--seconds", "1",
               "--trace", trace)
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    spec = _spec()
    chosen = spec["per_layer"] if trace == "1" else spec["end_to_end"]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert list(result["metrics"]) == [m["name"] for m in chosen]
    assert all(result["metrics"][m["name"]]["unit"] == m["unit"] for m in chosen)
    printed = [ln.split()[1] for ln in lines if ln.startswith("metric ")]
    known = {m["name"] for m in spec["end_to_end"] + spec["per_layer"]}
    assert set(printed) <= known | set(compare.EXTRA) | {"error_rate"}
    assert {m["name"] for m in chosen} <= set(printed)
    assert all(re.search(r" unit=\S+ n=\d+$", ln) for ln in lines if ln.startswith("metric "))


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "linkbench",
                    ignore=shutil.ignore_patterns("__pycache__", ".pytest_cache"))
    out = _run(str(tmp_path), "--workload", "web_rank", "--seed", "1", "--seconds", "1",
               "--trace", "0")
    assert out.returncode != 0
    assert '"correct"' not in out.stdout


# --- seeded inputs ---------------------------------------------------------------


def _files(root: str) -> list[bytes]:
    """Every staged parquet file's bytes, in part order (Spark's part
    file names carry a per-write UUID after the part number)."""
    paths = sorted(glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True))
    out = []
    for p in paths:
        with open(p, "rb") as f:
            out.append(f.read())
    return out


def _small(name: str):
    wl = type(workloads.WORKLOADS[name])()
    if name == "crawl_ingest":
        wl.n_pages = 2_000
    elif name == "web_rank":
        wl.n_vertices, wl.n_draws = 500, 3_000
    else:
        wl.segments, wl.pages_per_segment = 2, 300
    return wl


@pytest.mark.parametrize("name", list(workloads.WORKLOADS))
def test_same_seed_stages_identical_bytes(spark, tmp_path, name):
    wl = _small(name)
    wl.stage(spark, 5, str(tmp_path / "a"))
    wl.stage(spark, 5, str(tmp_path / "b"))
    wl.stage(spark, 6, str(tmp_path / "c"))
    a, b, c = (_files(str(tmp_path / x)) for x in "abc")
    assert a and a == b
    assert a != c


# --- statistics --------------------------------------------------------------


@pytest.mark.parametrize("n,p", [(1, None), (19, None), (99, None), (100, 90.0),
                                 (199, 90.0), (200, 95.0), (999, 95.0), (1000, 99.0),
                                 (9999, 99.0), (10_000, 99.9)])
def test_tail_percentile_keeps_ten_samples_beyond(n, p):
    assert stats.tail_percentile(n) == p
    if p is not None:
        vals = list(range(n))
        assert sum(v > stats.percentile(vals, p) for v in vals) >= 10


def test_quartiles_match_statistics_module():
    assert stats.quartiles([3.0]) == (3.0, 3.0, 3.0)
    assert stats.quartiles([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]) == (2.75, 5.5, 8.25)


def test_verdicts():
    parent = [10.0 + 0.1 * (i % 3) for i in range(10)]
    assert compare.verdict(parent, [p - 2 for p in parent], "lower", 0.1)["verdict"] == "improved"
    assert compare.verdict(parent, [p + 2 for p in parent], "lower", 0.1)["verdict"] == "worse"
    assert compare.verdict(parent, parent, "lower", 0.1)["verdict"] == "unchanged"
    assert compare.verdict(parent[:5], parent[:5], "lower", 0.1)["verdict"] == "unresolved"
    noisy = [5.0, 15.0] * 5
    assert compare.verdict(noisy, noisy[::-1], "lower", 0.1)["verdict"] == "unresolved"


# --- oracles against the engine ------------------------------------------------


def test_url_ids_match_spark(spark):
    from pyspark.sql import functions as F

    from linkgraph.functions.extract import normalize_url_col, url_id_col

    urls = ["https://d1.example.com/p1", "HTTPS://Example.COM/A/b/#frag", "http://x.org/",
            "relative/path/", "https://h.example/" + "a" * 70, "", "https://x.org/#"]
    rows = spark.createDataFrame([(u,) for u in urls], "u string").select(
        "u",
        normalize_url_col(F.col("u")).alias("n"),
        url_id_col(normalize_url_col(F.col("u"))).alias("id"),
    ).collect()
    for r in rows:
        assert oracles.normalize_url(r.u) == r.n
        assert oracles.url_id(r.u) == r.id


@pytest.fixture(scope="module")
def tiny(spark):
    """Two triangles sharing a vertex, a dangling sink, a separate pair
    and a separate chain — over full-range 64-bit ids."""
    from linkgraph.graph import LinkGraph

    ids = [oracles.url_id(f"https://t.example/{i}") for i in range(10)]
    pairs = [(0, 1, 1.0), (1, 2, 2.0), (2, 0, 1.0), (2, 3, 1.0), (3, 4, 3.0),
             (4, 2, 1.0), (1, 5, 1.0), (6, 7, 1.0), (7, 6, 2.0), (8, 9, 1.0)]
    rows = [(ids[a], ids[b], w) for a, b, w in pairs]
    df = spark.createDataFrame(rows, "src long, dst long, weight double")
    src, dst, w = (np.array(c) for c in zip(*rows))
    return LinkGraph(df), oracles.IndexedGraph(src, dst, w), src, dst


def test_pagerank_oracles(tiny):
    from linkgraph.operators import pagerank

    g, ig, _, _ = tiny
    res = pagerank(g, alpha=0.85, tol=1e-10)
    pdf = res.state.toPandas()
    ids, ranks = pdf["id"].to_numpy(), pdf["rank"].to_numpy()
    its = len(res.stats)
    assert oracles.check_pagerank_replay(ig, ids, ranks, its, 0.85, 1e-10) is None
    assert oracles.check_pagerank_fixpoint(ig, ids, ranks, 0.85, 1e-10) is None
    bad = ranks.copy()
    bad[0] *= 1.001
    assert oracles.check_pagerank_replay(ig, ids, bad, its, 0.85, 1e-10) is not None
    assert oracles.check_pagerank_fixpoint(ig, ids, bad, 0.85, 1e-10) is not None
    assert oracles.check_pagerank_replay(ig, ids[1:], ranks[1:], its, 0.85, 1e-10) is not None


def test_component_and_label_oracles(tiny):
    from linkgraph.operators import label_propagation, weakly_connected_components

    g, ig, _, _ = tiny
    for got, want, col, what in (
        (weakly_connected_components(g).state.toPandas(),
         oracles.components_union_find(ig), "component", "wcc"),
        (label_propagation(g).state.toPandas(), oracles.lpa_replay(ig), "label", "lpa"),
    ):
        ids, labels = got["id"].to_numpy(), got[col].to_numpy()
        assert oracles.check_labels(ig, ids, labels, want, what) is None
        bad = labels.copy()
        bad[0] = labels[0] + 1
        assert oracles.check_labels(ig, ids, bad, want, what) is not None
    assert len(set(oracles.components_union_find(ig).tolist())) == 3


def test_triangle_oracle(tiny):
    from linkgraph.operators.triangles import total_triangles

    g, _, src, dst = tiny
    want = oracles.triangles_networkx(src, dst)
    assert want == 2 == total_triangles(g)


def test_page_and_host_edge_oracles(spark, tmp_path):
    import duckdb

    from linkgraph.sources.edges import build_edges, build_host_edges
    from linkgraph.sources.pages import generate_pages_local

    pdf = generate_pages_local(120, n_domains=7, seed=9)
    pages = str(tmp_path / "pages")
    os.makedirs(pages)
    pdf.to_parquet(os.path.join(pages, "p.parquet"), coerce_timestamps="us")
    df = spark.read.parquet(pages)
    edges, hosts = str(tmp_path / "edges"), str(tmp_path / "hosts")
    build_edges(df).write.parquet(edges)
    build_host_edges(df).write.parquet(hosts)

    con = duckdb.connect()
    glob_ = os.path.join(pages, "*.parquet")
    links = oracles.link_total(con, glob_)
    want = oracles.page_edges_replay(list(zip(pdf["url"], pdf["html"])))
    assert links == sum(want.values())
    assert workloads._check_page_edges(con, edges, links, want) == []
    got_hosts = {(s, d): w for s, d, w in con.sql(
        f"SELECT * FROM read_parquet('{hosts}/*.parquet')").fetchall()}
    assert got_hosts == oracles.host_edges(con, glob_)

    bad = str(tmp_path / "bad")
    os.makedirs(bad)
    e = pd.read_parquet(edges)
    e.loc[e["src"] == e["src"].iloc[0], "weight"] += 1.0
    e.to_parquet(os.path.join(bad, "e.parquet"))
    assert len(workloads._check_page_edges(con, bad, links, want)) == 2
