"""Run one benchmark workload in a fresh Spark process and print its metrics.

    python3 linkbench/run.py --workload web_rank --seed 1 --seconds 10 --trace 0

Run from the repository root. The load is a closed loop with one
client: one job at a time, Spark at local[<cores>] with exactly the
session ``get_spark`` builds. Set-up (session start, staging the
seeded inputs, the untimed warm-up) is timed as ``setup_s``; then
jobs repeat until ``--seconds`` have passed (at least one), and every
job's output is checked against the oracles after timing ends.

``--trace 1`` alternates untraced and traced jobs (at least one of
each) and reports the per-layer metrics; ``--trace 0`` reports the
end-to-end ones. Each metric is printed on its own line with its unit
and sample count; the last line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def parse_args(argv: list[str], workloads: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    if a.seconds <= 0:
        ap.error("--seconds must be positive")
    return a


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _isolate(work: str, cores: int) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``,
    and let Python workers import the package from the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # no hsperfdata file: the JVM writes it to /tmp whatever java.io.tmpdir says
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    import tempfile

    tempfile.tempdir = tmp


def _stop(spark) -> None:
    """Stop the session and wait until the JVM (and with it every Python
    worker it forked) has exited, killing it if it does not."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
        if gw is not None:
            gw.shutdown()
    finally:
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the launcher exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


def metric_line(name: str, values: list[float], unit: str, n: int | None = None) -> str:
    """One metric: its median, the tail percentile when the samples allow
    one, its unit and the sample count (``n`` when the value is already a
    median over ``n`` jobs)."""
    import stats

    s = stats.summarize(values)
    tail = f" p{s['p']:g}={s['tail']!r}" if "p" in s else ""
    return f"metric {name} median={s['median']!r}{tail} unit={unit} n={n or s['n']}"


def run(args: argparse.Namespace, spec: dict) -> dict:
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".linkbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _isolate(work, cores)
    try:
        return _run(args, spec, cores, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def _run(args, spec, cores: int, work: str) -> dict:
    import tracing
    import workloads

    from linkgraph.session import get_spark

    wl = workloads.WORKLOADS[args.workload]
    tracer = tracing.Tracer()
    print(f"# workload={wl.name} seed={args.seed} seconds={args.seconds:g} "
          f"trace={args.trace} cores={cores}", flush=True)

    t0 = time.perf_counter()
    spark = get_spark(f"linkbench-{wl.name}", extra_conf=tracing.TRACE_CONF if args.trace else None)
    session_s = time.perf_counter() - t0
    try:
        return _measure(args, spec, spark, wl, tracer, cores, work, session_s)
    finally:
        _stop(spark)


def _measure(args, spec, spark, wl, tracer, cores, work, session_s) -> dict:
    import tracing
    import workloads

    # --- set-up: stage the seeded inputs, run the untimed warm-up job
    t = time.perf_counter()
    inputs = wl.stage(spark, args.seed, os.path.join(work, "inputs"))
    stage_s = time.perf_counter() - t
    t = time.perf_counter()
    wl.warmup(spark, inputs, os.path.join(work, "warmup"), tracer)
    warmup_s = time.perf_counter() - t
    setup_s = session_s + stage_s + warmup_s
    print(f"# setup: session {session_s:.2f}s + staging {stage_s:.2f}s "
          f"+ warm-up {warmup_s:.2f}s", flush=True)

    # --- timed closed loop; a traced run alternates untraced and traced jobs
    jobs: list[tuple[float, bool, workloads.JobResult | None]] = []
    layer_runs: list[dict] = []
    start = time.perf_counter()
    while True:
        i = len(jobs)
        traced = bool(args.trace) and i % 2 == 1
        uninstall = tracing.install(tracer) if traced else None
        tracer.active, tracer.counters = traced, {}
        t = time.perf_counter()
        try:
            with tracer.span("job") as root:
                res = wl.job(spark, inputs, os.path.join(work, "jobs", f"job_{i:03d}"), tracer)
        except Exception:
            traceback.print_exc()
            res = None
        wall = time.perf_counter() - t
        tracer.active = False
        if uninstall:
            uninstall()
        jobs.append((wall, traced, res))
        if traced and res is not None:
            stages = tracing.spark_stages(spark, root.start)
            layer_runs.append(tracing.job_metrics(tracer, root, stages, cores))
        detail = "" if res is None else " " + json.dumps(res.timings)
        print(f"# job {i}{' traced' if traced else ''} {wall:.3f}s"
              f"{detail if res is not None else ' FAILED'}", flush=True)
        if time.perf_counter() - start >= args.seconds and (not args.trace or len(jobs) >= 2):
            break
    peak_rss_mb = (_vm_hwm_kb("self") + _vm_hwm_kb(
        spark._jvm.java.lang.ProcessHandle.current().pid())) / 1024.0

    # --- single-layer probes, apart from the jobs (traced run only)
    probes = _probes(spark, inputs, cores) if args.trace else {}

    # --- check every job's output; a job that raised counts one failed op
    t = time.perf_counter()
    ok = [r for _, _, r in jobs if r is not None]
    attempted = sum(r.ops for r in ok) + (len(jobs) - len(ok))
    failed = len(jobs) - len(ok)
    for r, fails in zip(ok, wl.check(inputs, ok)):
        for f in fails:
            print(f"# CHECK FAILED: {f}", flush=True)
        failed += min(r.ops, len(fails))
    print(f"# checked {len(ok)} job outputs in {time.perf_counter() - t:.2f}s: "
          f"{attempted - failed} of {attempted} operations correct", flush=True)

    untraced = [w for w, tr, r in jobs if not tr and r is not None]
    traced_ok = [(w, r) for w, tr, r in jobs if tr and r is not None]
    pages = wl.pages_in(inputs)
    values: dict[str, tuple[list[float], str]] = {
        "setup_s": ([setup_s], "s"),
        "job_s": (untraced, "s"),
        "pages_per_s": ([pages / w for w in untraced], "pages/s"),
        "peak_rss_mb": ([peak_rss_mb], "MB"),
    }
    untraced_res = [r for _, tr, r in jobs if not tr and r is not None]
    values.update(wl.extra_metrics(inputs, untraced_res))
    values["error_rate"] = ([failed / attempted], "ratio")
    for name, (v, u) in values.items():
        if v:
            print(metric_line(name, v, u))

    if args.trace:
        metrics = dict.fromkeys((m["name"] for m in spec["per_layer"]), 0.0)
        if layer_runs:
            metrics.update({k: statistics.median(r[k] for r in layer_runs) for k in layer_runs[0]})
        metrics.update(probes)
        metrics.update(wl.layer_metrics(inputs, [r for _, r in traced_ok]))
        metrics["session.start_s"] = session_s
        if traced_ok and untraced:
            metrics["trace.overhead_s"] = (
                statistics.median(w for w, _ in traced_ok) - statistics.median(untraced))
        for m in spec["per_layer"]:
            print(metric_line(m["name"], [metrics[m["name"]]], m["unit"], len(traced_ok)))
        spans = os.path.join(os.path.dirname(work), "traces", f"{wl.name}-seed{args.seed}.json")
        os.makedirs(os.path.dirname(spans), exist_ok=True)
        tracer.dump(spans)
        print(f"# spans written to {os.path.relpath(spans, ROOT)}", flush=True)
        chosen = spec["per_layer"]
    else:
        metrics = {k: workloads.median_or_zero(v) for k, (v, _) in values.items()}
        chosen = spec["end_to_end"]
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in chosen},
    }


def _probes(spark, inputs: dict, cores: int) -> dict:
    """Single-layer passes over the staged pages, timed apart from the
    jobs: a scan alone, and the link-extraction UDF alone."""
    import tracing

    from pyspark.sql import functions as F

    from linkgraph.functions.extract import extract_links_udf

    path = inputs.get("pages") or inputs.get("segments")
    if path is None:
        return {}
    t = time.time()
    spark.read.parquet(path).select(F.sum(F.length("html"))).collect()
    scan_s = time.time() - t
    t = time.time()
    links = spark.read.parquet(path).select(
        F.sum(F.size(extract_links_udf(F.col("html"))))
    ).collect()[0][0]
    extract_s = time.time() - t
    run_s = sum(st["run_s"] for st in tracing.spark_stages(spark, t))
    return {"sources.scan_s": scan_s, "functions.extract_s": extract_s,
            "functions.links": float(links),
            "functions.busy_share": run_s / (extract_s * cores)}


def main(argv: list[str]) -> int:
    import workloads

    # SIGTERM unwinds like an exception, so the Spark JVM is stopped and
    # the work directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    spec = load_spec()
    args = parse_args(argv, list(workloads.WORKLOADS))
    sys.path.insert(0, ROOT)
    result = run(args, spec)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
