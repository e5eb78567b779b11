"""Run the benchmark over many seeds and summarise the spread.

    python3 perfbench/baseline.py runs --out perfbench/baseline/set1.json \\
        --workloads imdb_etl,imdb_query --seeds 1-10 [--trace 1]
    python3 perfbench/baseline.py summary perfbench/baseline/set1.json \\
        perfbench/baseline/set2.json --traced perfbench/baseline/traced.json

``runs`` starts one ``run.py`` process per (workload, seed), one at a time,
and stores each parsed result with its wall time.  ``summary`` prints, per
workload and end-to-end metric, each set's median and quartile spread
(IQR / median, from ``statistics.quantiles(n=4)``), the drift between the
two sets' medians, and the tracing overhead: the traced run's median
operation time against the untraced sets' median.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.metrics import tail_percentile  # noqa: E402


def run_seconds() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)["run_seconds"]


def parse_seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def runs(args) -> None:
    records = []
    for workload in args.workloads.split(","):
        for seed in parse_seeds(args.seeds):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                   "--seed", str(seed), "--seconds", str(run_seconds()),
                   "--trace", str(args.trace)]
            t0 = time.perf_counter()
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
            elapsed = time.perf_counter() - t0
            lines = proc.stdout.strip().splitlines()
            result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
            records.append({"workload": workload, "seed": seed, "trace": args.trace,
                            "returncode": proc.returncode, "elapsed_s": elapsed,
                            "result": result})
            print(f"{workload} seed={seed} rc={proc.returncode} {elapsed:.1f}s", flush=True)
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(records, f, indent=1)
        f.write("\n")


def _values(records, workload):
    out: dict[str, list[float]] = {}
    for r in records:
        if r["workload"] == workload and r["result"]:
            for name, m in r["result"]["metrics"].items():
                out.setdefault(name, []).append(m["value"])
    return out


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def summary(args) -> None:
    sets = []
    for path in args.sets:
        with open(path) as f:
            sets.append(json.load(f))
    traced = None
    if args.traced:
        with open(args.traced) as f:
            traced = json.load(f)
    workloads = sorted({r["workload"] for r in sets[0]})
    for w in workloads:
        print(f"== {w}")
        per_set = [_values(s, w) for s in sets]
        for name in per_set[0]:
            cells = []
            for vals in per_set:
                v = vals.get(name, [])
                cells.append(f"median {statistics.median(v):.4g} spread {spread(v):.3f} (n={len(v)})"
                             if len(v) >= 2 else "n<2")
            drift = ""
            if len(per_set) > 1 and per_set[1].get(name):
                a, b = (statistics.median(p[name]) for p in per_set[:2])
                drift = f" drift {(b - a) / a:+.3f}"
            print(f"  {name:28s} " + " | ".join(cells) + drift)
        elapsed = [r["elapsed_s"] for s in sets for r in s if r["workload"] == w]
        print(f"  wall per run: median {statistics.median(elapsed):.1f}s max {max(elapsed):.1f}s")
        samples = [r["result"]["attempted"] for s in sets for r in s
                   if r["workload"] == w and r["result"]]
        print(f"  timed operations per run: {min(samples)}-{max(samples)}; highest percentile "
              f"with 10 samples beyond it: {tail_percentile(min(samples))}")
        if traced:
            t = _values(traced, w).get("trace.op_p50_s")
            u = [v for p in per_set for v in p.get("op_p50_s", [])]
            if t and u:
                ratio = statistics.median(t) / statistics.median(u) - 1
                print(f"  tracing overhead on op_p50_s: {ratio:+.3f} "
                      f"(traced median {statistics.median(t):.4g}s over {len(t)} run(s))")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("runs")
    r.add_argument("--out", required=True)
    r.add_argument("--workloads", default="imdb_etl,imdb_query")
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--trace", type=int, choices=(0, 1), default=0)
    s = sub.add_parser("summary")
    s.add_argument("sets", nargs="+")
    s.add_argument("--traced")
    args = ap.parse_args()
    runs(args) if args.cmd == "runs" else summary(args)


if __name__ == "__main__":
    main()
