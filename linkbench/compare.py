"""Compare two sets of benchmark runs: the parent commit and a change.

    python3 linkbench/compare.py PARENT_DIR CHANGE_DIR
    python3 linkbench/compare.py --summary RUNS_DIR

Each directory holds the standard output of runs of ``linkbench/run.py``
(one file per run, any name). Runs pair up by workload and seed; make
them alternating, parent then change then change then parent and so
on, with identical benchmark code and settings on both sides.

For every workload × end-to-end metric this prints each side's median
and quartiles, the pairs and the change's wins, and a verdict:

- improved: the change wins at least 9/10 of the pairs (ties count for
  neither), there are at least 10 pairs, and the medians differ by more
  than the parent's interquartile range;
- unresolved: the parent's own spread (IQR / median) exceeds the
  metric's bound and not every change run beats every parent run, or
  too few pairs to judge;
- worse: the change's median is worse than the parent's by more than
  the metric's bound from BENCHMARK.json;
- unchanged: otherwise.

Metrics printed by run.py but outside the gate of BENCHMARK.json
(``pages_per_s``, ``peak_rss_mb`` and the workload-specific ones) use
``job_s``'s bound. ``error_rate`` is
compared on the failed / attempted counts: any rise is worse.

``--summary`` prints one set of runs as JSON: per workload × metric the
median, quartiles and run count, and the operations attempted and failed
(the form ``baseline.json`` records).
"""

from __future__ import annotations

import json
import os
import sys

import stats

HERE = os.path.dirname(os.path.abspath(__file__))
MIN_PAIRS = 10
WIN_SHARE = 0.9
# metrics run.py prints beside the gated ones (NOTES.md says why each is
# outside the gate)
EXTRA = {"pages_per_s": "higher", "peak_rss_mb": "lower", "pagerank_edges_per_s": "higher",
         "refresh_s": "lower", "refresh_last_s": "lower"}


def parse_run(text: str) -> dict | None:
    """One run's stdout → {workload, seed, metrics: {name: median}, result}."""
    lines = text.strip().splitlines()
    if not lines:
        return None
    try:
        result = json.loads(lines[-1])
    except json.JSONDecodeError:
        return None
    head = next((ln for ln in lines if ln.startswith("# workload=")), None)
    if head is None:
        return None
    fields = dict(kv.split("=", 1) for kv in head[2:].split())
    metrics = {}
    for ln in lines:
        if ln.startswith("metric "):
            parts = ln.split()
            kv = dict(p.split("=", 1) for p in parts[2:])
            metrics[parts[1]] = float(kv["median"])
    return {"workload": fields["workload"], "seed": int(fields["seed"]),
            "trace": fields.get("trace") == "1", "metrics": metrics, "result": result}


def load_runs(directory: str) -> dict[tuple[str, int], dict]:
    runs = {}
    for name in sorted(os.listdir(directory)):
        path = os.path.join(directory, name)
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            r = parse_run(f.read())
        if r is not None and not r["trace"]:
            runs[(r["workload"], r["seed"])] = r
    return runs


def verdict(parent: list[float], change: list[float], better: str, bound: float) -> dict:
    """The verdict for paired samples (parent[i] pairs with change[i])."""
    sign = 1.0 if better == "higher" else -1.0
    wins = sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0)
    pq1, pmed, pq3 = stats.quartiles(parent)
    cq1, cmed, cq3 = stats.quartiles(change)
    gain = sign * (cmed - pmed)
    spread = (pq3 - pq1) / abs(pmed) if pmed else float("inf")
    all_better = min(sign * c for c in change) > max(sign * p for p in parent)
    n = len(parent)
    if n >= MIN_PAIRS and wins >= WIN_SHARE * n and gain > pq3 - pq1:
        v = "improved"
    elif n < MIN_PAIRS and not all_better:
        v = "unresolved"
    elif spread > bound and not all_better:
        v = "unresolved"
    elif -gain > bound * abs(pmed):
        v = "worse"
    else:
        v = "unchanged"
    return {"parent": (pmed, pq1, pq3), "change": (cmed, cq1, cq3),
            "pairs": n, "wins": wins, "verdict": v}


def compare(parent: dict, change: dict, spec: dict) -> list[dict]:
    bounds = {m["name"]: (m["better"], m["bound"]) for m in spec["end_to_end"]}
    for name, better in EXTRA.items():
        bounds[name] = (better, bounds["job_s"][1])
    rows = []
    for wl in sorted({w for w, _ in parent} & {w for w, _ in change}):
        seeds = sorted(s for (w, s) in parent if w == wl and (w, s) in change)
        for name, (better, bound) in bounds.items():
            pairs = [(parent[(wl, s)]["metrics"].get(name), change[(wl, s)]["metrics"].get(name))
                     for s in seeds]
            pairs = [(p, c) for p, c in pairs if p is not None and c is not None]
            if not pairs:
                continue
            v = verdict([p for p, _ in pairs], [c for _, c in pairs], better, bound)
            rows.append({"workload": wl, "metric": name, **v})
        att = [sum(r["result"]["attempted"] for r in side.values() if r["workload"] == wl)
               for side in (parent, change)]
        bad = [sum(r["result"]["failed"] for r in side.values() if r["workload"] == wl)
               for side in (parent, change)]
        rate = [b / a if a else 0.0 for a, b in zip(att, bad)]
        rows.append({"workload": wl, "metric": "error_rate",
                     "parent": (rate[0], rate[0], rate[0]), "change": (rate[1], rate[1], rate[1]),
                     "pairs": len(seeds), "wins": 0,
                     "verdict": "worse" if rate[1] > rate[0] else "unchanged"})
    return rows


def summary(runs: dict) -> dict:
    out: dict = {}
    for (wl, _), r in sorted(runs.items()):
        w = out.setdefault(wl, {"runs": 0, "attempted": 0, "failed": 0, "metrics": {}})
        w["runs"] += 1
        w["attempted"] += r["result"]["attempted"]
        w["failed"] += r["result"]["failed"]
        for name, v in r["metrics"].items():
            w["metrics"].setdefault(name, []).append(v)
    for w in out.values():
        for name, vals in w["metrics"].items():
            q1, med, q3 = stats.quartiles(vals)
            w["metrics"][name] = {"median": med, "q1": q1, "q3": q3, "n": len(vals),
                                  "spread": (q3 - q1) / abs(med) if med else None}
    return out


def main(argv: list[str]) -> int:
    if len(argv) == 2 and argv[0] == "--summary":
        print(json.dumps(summary(load_runs(argv[1])), indent=1))
        return 0
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    rows = compare(load_runs(argv[0]), load_runs(argv[1]), spec)
    if not rows:
        print("no workload has runs on both sides", file=sys.stderr)
        return 1
    fmt = "{:<14} {:<22} {:>32} {:>32} {:>5} {:>4}  {}"
    print(fmt.format("workload", "metric", "parent median [q1, q3]",
                     "change median [q1, q3]", "pairs", "wins", "verdict"))
    for r in rows:
        side = [f"{m:.4g} [{a:.4g}, {b:.4g}]" for m, a, b in (r["parent"], r["change"])]
        print(fmt.format(r["workload"], r["metric"], *side, r["pairs"], r["wins"], r["verdict"]))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
