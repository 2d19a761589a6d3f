"""The benchmark's workloads: seeded input staging, the warm-up, the
timed job, and the output checks.

Every input is generated from the seed and written to parquet before
timing starts; the jobs read only those tables. Each workload exists to
stress different layers (see NOTES.md for the why and the sizes).
"""

from __future__ import annotations

import glob
import json
import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

import oracles

ALPHA = 0.85


@dataclass
class JobResult:
    """What one timed job did: its operations, their outputs (checked
    after timing), and the workload's own timings."""

    ops: int
    outputs: dict = field(default_factory=dict)
    timings: dict = field(default_factory=dict)


def _parquet_glob(path: str) -> str:
    return os.path.join(path, "*.parquet")


def _write_sorted(df, path: str, parts: int, keys: list[str]) -> None:
    """Write ``df`` hash-partitioned and sorted on ``keys`` (unique per
    row), so the same rows always land as the same bytes."""
    df.repartition(parts, *keys).sortWithinPartitions(*keys).write.mode(
        "overwrite"
    ).parquet(path)


# --- crawl_ingest -------------------------------------------------------------


class CrawlIngest:
    """Pages table → page edge table and host edge table, written."""

    name = "crawl_ingest"
    n_pages = 20_000
    n_domains = 500
    partitions = 8
    sample = 400  # pages replayed through the pinned extractor per job

    def stage(self, spark, seed: int, root: str) -> dict:
        from linkgraph.sources.pages import pages_dataframe

        pages = os.path.join(root, "pages")
        pages_dataframe(
            spark, self.n_pages, n_domains=self.n_domains, seed=seed,
            partitions=self.partitions,
        ).write.mode("overwrite").parquet(pages)
        return {"pages": pages, "seed": seed}

    def warmup(self, spark, inputs: dict, out: str, tracer) -> None:
        # twice: the first timed job still ran about 30% slow after one
        for i in range(2):
            self.job(spark, inputs, os.path.join(out, str(i)), tracer)

    def job(self, spark, inputs: dict, out: str, tracer) -> JobResult:
        from linkgraph.sources import edges as src

        pages = spark.read.parquet(inputs["pages"])
        e_path, h_path = os.path.join(out, "edges"), os.path.join(out, "host_edges")
        with tracer.span("sources.build_edges"):
            src.build_edges(pages).write.mode("overwrite").parquet(e_path)
        with tracer.span("sources.build_host_edges"):
            src.build_host_edges(pages).write.mode("overwrite").parquet(h_path)
        return JobResult(ops=2, outputs={"edges": e_path, "host_edges": h_path})

    def pages_in(self, inputs: dict) -> int:
        return self.n_pages

    def extra_metrics(self, inputs: dict, results: list[JobResult]) -> dict:
        return {}

    def layer_metrics(self, inputs: dict, results: list[JobResult]) -> dict:
        return {"sources.edges": float(parquet_rows(results[-1].outputs["edges"]))} if results else {}

    def check(self, inputs: dict, results: list[JobResult]) -> list[list[str]]:
        import duckdb

        con = duckdb.connect()
        pages_glob = _parquet_glob(inputs["pages"])
        links, want = _page_edge_oracle(con, pages_glob, inputs["seed"], self.sample)
        hosts = oracles.host_edges(con, pages_glob)
        out = []
        for r in results:
            fails = _check_page_edges(con, r.outputs["edges"], links, want)
            got_hosts = {
                (s, d): float(w) for s, d, w in con.sql(
                    f"SELECT src_host, dst_host, weight FROM read_parquet('{_parquet_glob(r.outputs['host_edges'])}')"
                ).fetchall()
            }
            if got_hosts != hosts:
                diff = len(set(got_hosts.items()) ^ set(hosts.items()))
                fails.append(f"host edges: {diff} rows differ from DuckDB")
            out.append(fails)
        con.close()
        return out


def _page_edge_oracle(con, pages_glob: str, seed: int, sample: int) -> tuple[int, dict]:
    """The input's link count, and the pinned replay of a seeded page sample."""
    rows = con.sql(f"SELECT url, html FROM read_parquet('{pages_glob}')").fetchall()
    picked = random.Random(seed).sample(rows, sample)
    return (oracles.link_total(con, pages_glob),
            oracles.page_edges_replay([(u, bytes(h)) for u, h in picked]))


def _check_page_edges(con, edges_dir: str, links: int, want: dict) -> list[str]:
    """The written page edge table against the link count of the whole
    input and the pinned replay of a page sample."""
    fails = []
    e = _parquet_glob(edges_dir)
    n, distinct, wsum = con.sql(
        f"SELECT count(*), count(DISTINCT (src, dst)), sum(weight) FROM read_parquet('{e}')"
    ).fetchone()
    if n != distinct:
        fails.append(f"page edges: {n - distinct} duplicate (src, dst) rows")
    if wsum != links:
        fails.append(f"page edges: weights sum to {wsum}, input has {links} links")
    srcs = sorted({s for s, _ in want})
    con.register("sample_src", pd.DataFrame({"src": np.array(srcs, dtype=np.int64)}))
    got = {
        (s, d): float(w) for s, d, w in con.sql(
            f"SELECT e.src, e.dst, e.weight FROM read_parquet('{e}') e "
            "JOIN sample_src USING (src)"
        ).fetchall()
    }
    con.unregister("sample_src")
    if got != want:
        diff = len(set(got.items()) ^ set(want.items()))
        fails.append(f"page edges: {diff} rows of the sampled pages differ from the replay")
    return fails


# --- web_rank ---------------------------------------------------------------


class WebRank:
    """A hub-skewed graph ranked, componentized, labelled and
    triangle-counted by one fresh LinkGraph per job."""

    name = "web_rank"
    n_vertices = 20_000
    n_draws = 120_000
    zipf_s = 1.1
    tol = 5e-9  # ≥ 10 PageRank iterations on these graphs
    # warm-up: the same operators and plans on a 16-vertex graph, with the
    # iterative ones capped at 3 rounds (one PageRank lineage cut)
    warm_vertices, warm_edges, warm_rounds = 16, 60, 3

    def stage(self, spark, seed: int, root: str) -> dict:
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        from linkgraph.sources.random_graph import random_edges

        graph, warm = os.path.join(root, "graph"), os.path.join(root, "warm_graph")
        draws = random_edges(spark, self.n_vertices, self.n_draws, seed=seed, zipf_s=self.zipf_s)
        _write_sorted(
            draws.groupBy("src", "dst").agg(F.sum("weight").alias("weight")),
            graph, 4, ["src", "dst"],
        )
        rng = np.random.default_rng(seed)
        ids = rng.integers(-(2**63), 2**63 - 1, self.warm_vertices, dtype=np.int64)
        pairs = {(a, b) for a, b in rng.integers(0, self.warm_vertices, (self.warm_edges, 2))
                 if a != b}
        src, dst = zip(*sorted(pairs))
        os.makedirs(warm)
        pq.write_table(pa.table({"src": ids[list(src)], "dst": ids[list(dst)],
                                 "weight": rng.uniform(1.0, 2.0, len(src))}),
                       os.path.join(warm, "part-0.parquet"))
        return {"graph": graph, "warm_graph": warm, "seed": seed}

    def warmup(self, spark, inputs: dict, out: str, tracer) -> None:
        import linkgraph.operators as ops
        from linkgraph.graph import LinkGraph

        g = LinkGraph(spark.read.parquet(inputs["warm_graph"]))
        n = self.warm_rounds
        ops.pagerank(g, alpha=ALPHA, tol=self.tol, max_iter=n, on_exhaustion="ok").state.toPandas()
        ops.weakly_connected_components(g).state.toPandas()
        ops.label_propagation(g, max_iter=n).state.toPandas()
        ops.triangles.total_triangles(g)
        g.release_operands()

    def job(self, spark, inputs: dict, out: str, tracer) -> JobResult:
        import linkgraph.operators as ops
        from linkgraph.graph import LinkGraph

        g = LinkGraph(spark.read.parquet(inputs["graph"]))
        t = time.perf_counter()
        pr = ops.pagerank(g, alpha=ALPHA, tol=self.tol)
        pr_s = time.perf_counter() - t
        ranks = pr.state.toPandas()
        wcc = ops.weakly_connected_components(g)
        lpa = ops.label_propagation(g)
        outputs = {"ranks": ranks, "iterations": len(pr.stats), "wcc": wcc.state.toPandas(),
                   "lpa": lpa.state.toPandas(), "triangles": ops.triangles.total_triangles(g)}
        g.release_operands()
        return JobResult(
            ops=4,
            outputs=outputs,
            timings={"pagerank_s": pr_s, "pagerank_iterations": len(pr.stats),
                     "wcc_rounds": len(wcc.stats), "lpa_rounds": len(lpa.stats)},
        )

    def pages_in(self, inputs: dict) -> int:
        """The graph's vertices: each is a page of the synthetic web."""
        return self._graph(inputs)[0].n

    def extra_metrics(self, inputs: dict, results: list[JobResult]) -> dict:
        m = len(self._graph(inputs)[1])
        return {"pagerank_edges_per_s": ([
            r.timings["pagerank_iterations"] * m / r.timings["pagerank_s"] for r in results
        ], "edges/s")}

    def layer_metrics(self, inputs: dict, results: list[JobResult]) -> dict:
        return {}

    def _graph(self, inputs: dict):
        """The staged graph as the oracles see it, read straight from parquet."""
        import pyarrow.parquet as pq

        t = pq.read_table(inputs["graph"])
        src, dst = t["src"].to_numpy(), t["dst"].to_numpy()
        return oracles.IndexedGraph(src, dst, t["weight"].to_numpy()), src, dst

    def check(self, inputs: dict, results: list[JobResult]) -> list[list[str]]:
        g, src, dst = self._graph(inputs)
        comps = oracles.components_union_find(g)
        labels = oracles.lpa_replay(g)
        tri = oracles.triangles_networkx(src, dst)
        out = []
        for r in results:
            o = r.outputs
            fails = [
                oracles.check_pagerank_replay(
                    g, o["ranks"]["id"], o["ranks"]["rank"], o["iterations"], ALPHA, self.tol),
                oracles.check_labels(g, o["wcc"]["id"], o["wcc"]["component"], comps, "wcc"),
                oracles.check_labels(g, o["lpa"]["id"], o["lpa"]["label"], labels, "lpa"),
                None if o["triangles"] == tri else f"triangles {o['triangles']} != {tri}",
            ]
            out.append([f for f in fails if f])
        return out


# --- crawl_refresh --------------------------------------------------------------


class CrawlRefresh:
    """Crawl segments streamed through streaming_rank_refresh: each
    micro-batch appends its edges and re-ranks the whole accumulated
    graph warm from the previous batch's published ranks."""

    name = "crawl_refresh"
    segments = 2
    pages_per_segment = 4_000
    n_domains = 500
    tol = 1e-5
    sample = 400
    # warm-up stream: the first pages of segment 0 through the same plans,
    # at a tolerance that stops PageRank after a few iterations
    warm_pages, warm_tol = 100, 1e-3

    def _stage_segments(self, spark, seed: int, segments: int, per_segment: int,
                        path: str) -> None:
        from linkgraph.sources.pages import pages_dataframe

        tmp = path + "_tmp"
        # spark.range splits ids into contiguous ranges: partition k is segment k
        pages_dataframe(
            spark, segments * per_segment, n_domains=self.n_domains, seed=seed,
            partitions=segments,
        ).write.mode("overwrite").parquet(tmp)
        parts = sorted(glob.glob(os.path.join(tmp, "part-*.parquet")))
        if len(parts) != segments:
            raise RuntimeError(f"expected {segments} segment files, got {len(parts)}")
        os.makedirs(path, exist_ok=True)
        base = time.time() - 3600
        for k, p in enumerate(parts):
            dst = os.path.join(path, f"seg-{k:04d}.parquet")
            shutil.move(p, dst)
            # the file source orders files by modification time
            os.utime(dst, (base + k, base + k))
        shutil.rmtree(tmp)

    def stage(self, spark, seed: int, root: str) -> dict:
        import pyarrow.parquet as pq

        seg, warm = os.path.join(root, "segments"), os.path.join(root, "warm_segments")
        self._stage_segments(spark, seed, self.segments, self.pages_per_segment, seg)
        os.makedirs(warm)
        first = pq.read_table(os.path.join(seg, "seg-0000.parquet"))
        # microsecond timestamps: Spark cannot read the nanosecond ones pyarrow
        # would write for the INT96 column Spark staged
        pq.write_table(first.slice(0, self.warm_pages), os.path.join(warm, "seg-0000.parquet"),
                       coerce_timestamps="us")
        return {"segments": seg, "warm_segments": warm, "seed": seed}

    def warmup(self, spark, inputs: dict, out: str, tracer) -> None:
        self._stream(spark, inputs["warm_segments"], out, tracer, self.warm_tol)

    def job(self, spark, inputs: dict, out: str, tracer) -> JobResult:
        return self._stream(spark, inputs["segments"], out, tracer, self.tol)

    def _stream(self, spark, segments: str, out: str, tracer, tol: float) -> JobResult:
        from linkgraph.streaming import ingest

        work, ckpt = os.path.join(out, "work"), os.path.join(out, "checkpoint")
        with tracer.span("streaming.query"):
            q = ingest.streaming_rank_refresh(
                spark, segments, work, ckpt, alpha=ALPHA, tol=tol,
                available_now=True, max_files_per_trigger=1,
            )
            q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        dur = [p["durationMs"] for p in progress]
        iters = []
        for d in sorted(glob.glob(os.path.join(work, "ranks", "batch_*"))):
            with open(os.path.join(d, "_iterations.json")) as f:
                iters.append(json.load(f)["iterations"])
        return JobResult(
            ops=self.segments,
            outputs={"work": work, "batches": len(progress)},
            timings={
                "refresh_s": [x["triggerExecution"] / 1000.0 for x in dur],
                "add_batch_s": [x.get("addBatch", 0) / 1000.0 for x in dur],
                "planning_s": [x.get("queryPlanning", 0) / 1000.0 for x in dur],
                "pagerank_iterations": iters,
            },
        )

    def pages_in(self, inputs: dict) -> int:
        return self.segments * self.pages_per_segment

    def extra_metrics(self, inputs: dict, results: list[JobResult]) -> dict:
        return {
            "refresh_s": (summarize_timings(results, "refresh_s"), "s"),
            "refresh_last_s": ([r.timings["refresh_s"][-1] for r in results], "s"),
        }

    def layer_metrics(self, inputs: dict, results: list[JobResult]) -> dict:
        if not results:
            return {}
        return {
            "sources.edges": float(parquet_rows(os.path.join(results[-1].outputs["work"], "edges"))),
            "streaming.batch_s": median_or_zero(summarize_timings(results, "add_batch_s")),
            "streaming.trigger_s": median_or_zero(summarize_timings(results, "refresh_s")),
            "streaming.planning_s": median_or_zero(summarize_timings(results, "planning_s")),
            "streaming.pagerank_iterations": median_or_zero(
                [float(sum(r.timings["pagerank_iterations"])) for r in results]),
        }

    def check(self, inputs: dict, results: list[JobResult]) -> list[list[str]]:
        import duckdb

        con = duckdb.connect()
        links, want = _page_edge_oracle(
            con, _parquet_glob(inputs["segments"]), inputs["seed"], self.sample)
        out = []
        for r in results:
            work = r.outputs["work"]
            fails = []
            if r.outputs["batches"] != self.segments:
                fails.append(f"{r.outputs['batches']} micro-batches for {self.segments} segments")
            edges = os.path.join(work, "edges")
            # each segment's pages appear once, so the accumulated table has
            # no (src, dst) repeated across batches: src is the page itself
            fails += _check_page_edges(con, edges, links, want)
            src, dst, w = (np.array(c) for c in zip(*con.sql(
                f"SELECT src, dst, weight FROM read_parquet('{_parquet_glob(edges)}')"
            ).fetchall()))
            g = oracles.IndexedGraph(src, dst, w)
            last = sorted(glob.glob(os.path.join(work, "ranks", "batch_*")))[-1]
            ids, ranks = (np.array(c) for c in zip(*con.sql(
                f"SELECT id, rank FROM read_parquet('{_parquet_glob(last)}')"
            ).fetchall()))
            f = oracles.check_pagerank_fixpoint(g, ids, ranks, ALPHA, self.tol)
            if f:
                fails.append(f)
            out.append(fails)
        con.close()
        return out


WORKLOADS = {w.name: w for w in (CrawlIngest(), WebRank(), CrawlRefresh())}


def parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in glob.glob(_parquet_glob(path)))


def summarize_timings(results: list[JobResult], key: str) -> list[float]:
    vals: list[float] = []
    for r in results:
        v = r.timings.get(key)
        if isinstance(v, list):
            vals.extend(v)
        elif v is not None:
            vals.append(v)
    return vals


def median_or_zero(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
