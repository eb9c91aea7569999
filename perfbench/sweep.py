#!/usr/bin/env python3
"""Run the benchmark over several seeds and record every result.

Usage (from the repository root):
  python3 perfbench/sweep.py --out runs.jsonl --seeds 1-10 \
      [--workloads artifact_build_serve,stream_replay] [--trace 0] [--report-only]

Each run appends one line {"workload", "seed", "trace", "result"} to --out,
where "result" is the run's final JSON line. At the end it prints, per
workload and metric, the median, the quartiles and the spread (distance
between the quartiles as a share of the median) next to the metric's
bound from BENCHMARK.json; --report-only prints that report for an
existing file without running anything. perfbench/compare.py compares two
such files.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def summary(values):
    q1, q2, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (values[0],) * 3
    med = statistics.median(values)
    return med, q1, q3, (q3 - q1) / med if med else 0.0


def report(records, spec):
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"] + spec["per_layer"]}
    by = {}
    for r in records:
        for name, m in r["result"]["metrics"].items():
            by.setdefault((r["workload"], r["trace"], name), []).append(m["value"])
    for (wl, trace, name), vals in sorted(by.items()):
        med, q1, q3, spread = summary(vals)
        b = bounds.get(name)
        flag = "" if b is None else ("  ok" if spread <= b / 3 else ("  WIDE" if spread > b else "  >bound/3"))
        print(f"{wl:22s} t{trace} {name:36s} n={len(vals):2d} median={med:.6g} "
              f"q1={q1:.6g} q3={q3:.6g} spread={spread:.4f}"
              f"{'' if b is None else f' bound={b}'}{flag}")
    bad = [r for r in records if not r["result"]["correct"]]
    for r in bad:
        print(f"NOT CORRECT: {r['workload']} seed {r['seed']} failed={r['result']['failed']}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--report-only", action="store_true")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if not a.report_only:
        workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
        seconds = spec["run_seconds"]
        for seed in seeds(a.seeds):
            for wl in workloads:
                cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                       "--seed", str(seed), "--seconds", str(seconds), "--trace", str(a.trace)]
                p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
                lines = p.stdout.strip().splitlines()
                if p.returncode != 0 or not lines:
                    sys.stderr.write(p.stdout[-2000:] + p.stderr[-2000:])
                    sys.exit(f"run failed: {wl} seed {seed}")
                with open(a.out, "a") as f:
                    f.write(json.dumps({"workload": wl, "seed": seed, "trace": a.trace,
                                        "result": json.loads(lines[-1])}) + "\n")
                print(f"{wl} seed {seed}: {lines[-1][:160]}", flush=True)
    report(load(a.out), spec)


if __name__ == "__main__":
    main()
