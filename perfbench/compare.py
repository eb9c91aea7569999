#!/usr/bin/env python3
"""Compare two result sets recorded by perfbench/sweep.py.

Usage: python3 perfbench/compare.py BASE.jsonl CHANGE.jsonl

For every workload and end-to-end metric it prints each side's median and
quartiles, the change of the median as a share of the base median (positive
= worse, by the metric's direction) and a verdict against the metric's
bound in BENCHMARK.json:
  regressed   the change's median is worse by more than the bound;
  improved    better by more than the base's own quartile spread;
  unresolved  the base's spread is wider than the bound, so a move inside
              it cannot be told from noise;
  same        otherwise.
A moved row (regressed or improved) is labelled "work changed" when any
work counter of the traced runs moved by more than 1% on that workload,
else "same work": only wall time moved, so host load is the first suspect.
The work counters are the per-layer counts that repeat run to run on one
seed (README.md, "Traced run"); counts that follow adaptive-execution or
timing decisions are left out. Without traced runs in both files the row
says so.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = ["sources.input_rows", "operators.shuffle_records", "staging.jobs",
        "staging.bytes_written", "graphs.kcore_rounds", "graphs.jobs_per_serve",
        "streams.batches_per_query"]
WORK_TOLERANCE = 0.01


def load(path):
    by = {}
    with open(path) as f:
        for line in f:
            if line.strip():
                r = json.loads(line)
                for name, m in r["result"]["metrics"].items():
                    by.setdefault((r["workload"], r["trace"], name), []).append(m["value"])
    return by


def stats(vals):
    q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [vals[0]] * 3
    return statistics.median(vals), q[0], q[2]


def main():
    base, change = load(sys.argv[1]), load(sys.argv[2])
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = sorted({k[0] for k in base} & {k[0] for k in change})
    for wl in workloads:
        moved_counters = []
        traced = any((wl, 1, n) in base and (wl, 1, n) in change for n in WORK)
        for name in WORK:
            a, b = base.get((wl, 1, name)), change.get((wl, 1, name))
            if a and b:
                ma, mb = statistics.median(a), statistics.median(b)
                if abs(mb - ma) > WORK_TOLERANCE * max(abs(ma), 1e-12):
                    moved_counters.append(f"{name} {ma:.6g}->{mb:.6g}")
        for m in spec["end_to_end"]:
            a, b = base.get((wl, 0, m["name"])), change.get((wl, 0, m["name"]))
            if not a or not b:
                continue
            (ma, a1, a3), (mb, b1, b3) = stats(a), stats(b)
            sign = 1 if m["better"] == "lower" else -1
            worse = sign * (mb - ma) / ma if ma else 0.0
            spread = (a3 - a1) / ma if ma else 0.0
            if worse > m["bound"]:
                verdict = "regressed"
            elif -worse > spread and -worse > 0:
                verdict = "improved"
            elif spread > m["bound"]:
                verdict = "unresolved"
            else:
                verdict = "same"
            label = ""
            if verdict in ("regressed", "improved"):
                label = ("work changed" if moved_counters else "same work") if traced \
                    else "no traced runs to tell"
            print(f"{wl:22s} {m['name']:12s} base {ma:.6g} [{a1:.6g}, {a3:.6g}] "
                  f"change {mb:.6g} [{b1:.6g}, {b3:.6g}] worse {worse:+.3f} "
                  f"(bound {m['bound']}) {verdict} {label}".rstrip())
        for c in moved_counters:
            print(f"{wl:22s}   counter moved: {c}")


if __name__ == "__main__":
    main()
