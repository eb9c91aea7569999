#!/usr/bin/env python3
"""Benchmark command: build the engine, generate the seeded corpus, run one
workload in a fresh JVM, check every output against its oracle, and print
the metrics as the last stdout line.

Usage (from the repository root):
  python3 perfbench/run.py --workload stream_replay --seed 42 --seconds 10 --trace 0

--trace 0 prints the end-to-end metrics; --trace 1 prints the per-layer
metrics of the same workload, measured with the listener collector on, and
the tracing overhead against an untraced run of the same seed (recorded by
an earlier --trace 0 run of the same sources, else made first).
Workloads, metrics and the layer map are described in perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)
import gen  # noqa: E402
import oracle  # noqa: E402

# corpus size per workload, as a multiple of scale factor 0.1
SCALES = {"artifact_build_serve": 0.25, "stream_replay": 1.0}
RUN_BUDGET_S = 170
JVM_HEAP = "3g"
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
BUILD_INPUTS = ["build.sbt", "project", "src/main", "perfbench/harness"]


def log(msg):
    print(msg, flush=True)


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    for rel in BUILD_INPUTS:
        top = os.path.join(ROOT, rel)
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, dirs, files in os.walk(top)
            if "target" not in os.path.relpath(d, top).split(os.sep) for f in files)
        for p in paths:
            if p.endswith((".scala", ".sbt", ".properties")):
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the engine plus the harness sources into .perfbench/target
    with the repository's own sbt build; skipped when no input changed.
    Returns the classpath and the sources' stamp."""
    stamp_file = os.path.join(STATE, "build.stamp")
    cp_file = os.path.join(STATE, "classpath.txt")
    stamp = source_stamp()[:16]
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip(), stamp
    os.makedirs(STATE, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           'set Compile / unmanagedSourceDirectories += baseDirectory.value / "perfbench" / "harness"',
           'set target := baseDirectory.value / ".perfbench" / "target"',
           "compile", "export Compile / fullClasspath"]
    t = time.time()
    p = subprocess.run(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                       capture_output=True, text=True, timeout=850)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or ".perfbench" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail(f"build failed (sbt exit {p.returncode})")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"perfbench build_s {time.time() - t:.1f}")
    return lines[-1], stamp


def run_jvm(classpath, workload, data, seed, seconds, trace, run_dir, deadline):
    out = os.path.join(run_dir, "out")
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    for d in (out, tmp, local):
        os.makedirs(d, exist_ok=True)
    # Engine.session puts spill and streaming checkpoints on /dev/shm when
    # that holds at least 16 GiB; the benchmark writes only inside its
    # checkout, so it pins the disk-backed scratch (see README.md).
    env = dict(os.environ, SPARK_GRAFT_TMPFS="0", SPARK_LOCAL_DIRS=local,
               SPARK_GRAFT_CPUS=str(os.cpu_count()))
    cmd = ["java", "-cp", classpath, *ADD_OPENS, f"-Xmx{JVM_HEAP}",
           "-XX:-UsePerfData",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
           "graft.perfbench.Harness", "--workload", workload, "--data", data,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
           "--out", out]
    with open(os.path.join(run_dir, "jvm.log"), "w") as jlog:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdin=subprocess.DEVNULL,
                                stdout=jlog, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("run exceeded its time budget")
    if code != 0 or not os.path.isfile(os.path.join(out, "result.json")):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"harness JVM failed (exit {code})")
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f), out


def remove_scratch(run_dir):
    for d in ("tmp", "local", "warehouse"):
        shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)


def tail(latencies):
    """Highest percentile with at least 10 samples beyond it: the 11th
    largest sample. Below 20 samples that percentile would not reach the
    median, so the maximum is reported instead."""
    xs = sorted(latencies)
    n = len(xs)
    if n < 20:
        return xs[-1], 100.0
    return xs[n - 11], 100.0 * (n - 10) / n


def remember(record, ops_per_s):
    os.makedirs(os.path.dirname(record), exist_ok=True)
    with open(record, "w") as f:
        json.dump({"ops_per_s": ops_per_s}, f)


def measure(classpath, a, data, trace, deadline):
    """One fresh-JVM run of the workload plus its oracle check."""
    run_dir = os.path.join(STATE, "runs", f"{a.workload}-{a.seed}-t{trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        t_jvm = time.time()
        res, out = run_jvm(classpath, a.workload, data, a.seed, a.seconds, trace, run_dir, deadline)
        t_oracle = time.time()
        # deleting the engine's scratch is I/O-bound and the oracle is
        # CPU-bound: overlap them
        scratch = threading.Thread(target=remove_scratch, args=(run_dir,))
        scratch.start()
        verdicts, recalls = oracle.check(out, data, os.path.join(STATE, "oracle", os.path.basename(data)))
        if trace:
            os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
            shutil.copy(os.path.join(out, "spans.jsonl"),
                        os.path.join(STATE, "traces", f"{a.workload}-seed{a.seed}.jsonl"))
        t_check = time.time()
        scratch.join()
        log(f"perfbench trace={trace} jvm_s {t_oracle - t_jvm:.1f} oracle_s {t_check - t_oracle:.1f} "
            f"cleanup_s {time.time() - t_oracle:.1f}")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    samples = [dict(zip(("name", "cycle", "start", "end", "ok"), s)) for s in res["samples"]]
    bad_ops = {n for n, (ok, _) in verdicts.items() if not ok}
    failed = sum(1 for s in samples if not s["ok"] or s["name"] in bad_ops)
    correct = failed == 0 and not bad_ops and not res["errors"]
    lat = [s["end"] - s["start"] for s in samples if s["cycle"] > 0]
    return res, samples, verdicts, recalls, failed, correct, lat


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SCALES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    deadline = time.time() + RUN_BUDGET_S
    if not os.path.isfile(os.path.join(ROOT, "src/main/scala/graft/SparkEntry.scala")):
        fail("engine sources not found next to perfbench/")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    classpath, stamp = build()
    deadline = max(deadline, time.time() + RUN_BUDGET_S - 20)  # a cold build is not billed
    scale = SCALES[a.workload]
    data = os.path.join(STATE, "data", f"s{scale:g}-seed{a.seed}")
    t = time.time()
    made = gen.generate(data, a.seed, scale)
    gen_s = time.time() - t
    log(f"perfbench workload={a.workload} seed={a.seed} scale={scale:g}x_sf0.1 "
        f"nproc={os.cpu_count()} gen_s={gen_s:.2f}{'' if made else ' (cached)'}")

    # ops/s of the untraced run of this seed, sources, settings and length,
    # which a traced run's overhead is measured against
    with open(__file__, "rb") as f:
        settings = hashlib.sha256(f.read()).hexdigest()[:8]
    record = os.path.join(STATE, "untraced",
                          f"{stamp}-{settings}-{a.workload}-seed{a.seed}-{a.seconds:g}s.json")
    untraced_ops = None
    if a.trace:
        if os.path.isfile(record):
            with open(record) as f:
                untraced_ops = json.load(f)["ops_per_s"]
        else:
            log("perfbench no untraced run of this seed recorded: running one first")
            *_, failed0, correct0, lat0 = measure(classpath, a, data, 0, deadline)
            if not correct0:
                fail(f"the untraced run failed its checks ({failed0} ops failed)")
            untraced_ops = len(lat0) / sum(lat0)
            remember(record, untraced_ops)
    res, samples, verdicts, recalls, failed, correct, lat = measure(classpath, a, data, a.trace, deadline)
    attempted = len(samples)
    for name, (ok, detail) in sorted(verdicts.items()):
        log(f"oracle {'PASS' if ok else 'FAIL'} {name}: {detail}")
    for name, err in res["errors"].items():
        log(f"error {name}: {err}")

    by_op = {}
    for s in samples:
        by_op.setdefault(s["name"], []).append((s["cycle"], s["end"] - s["start"]))
    for name, xs in sorted(by_op.items()):
        warm = [d for c, d in xs if c > 0]
        log(f"op {name} warm-up_s={sum(d for c, d in xs if c == 0):.4f} "
            f"n={len(warm)} median_s={statistics.median(warm):.4f}")
    ops_per_s = len(lat) / sum(lat)
    tail_s, tail_pct = tail(lat)
    e2e = {
        "setup_s": res["setup_s"],
        "ops_per_s": ops_per_s,
        "op_p50_s": statistics.median(lat),
        "op_tail_s": tail_s,
        "peak_rss_mb": res["peak_rss_mb"],
        "retained_heap_mb": res["retained_heap_mb"],
    }
    if not a.trace and correct:
        remember(record, ops_per_s)
    log(f"setup_s {res['setup_s']:.3f} s (session {res['session_start_s']:.3f} s, "
        f"build {sum(res['build_s'].values()):.3f} s, warm-up cycle {res['warmup_s']:.3f} s; "
        f"input generation {gen_s:.2f} s not included)")
    log(f"ops_per_s {ops_per_s:.4f} 1/s over {len(lat)} ops in {res['cycles']} timed cycles; "
        f"op_p50_s {e2e['op_p50_s']:.4f} s; op_tail_s {tail_s:.4f} s = p{tail_pct:.1f} of {len(lat)} samples")
    log(f"failed_frac {failed / attempted:.4f} ({failed}/{attempted}, warm-up included); "
        f"peak_rss_mb {res['peak_rss_mb']:.1f} MB; retained_heap_mb {res['retained_heap_mb']:.1f} MB")
    if res["build_s"]:
        log(f"build_s {sum(res['build_s'].values()):.3f} s; ann_recall_at_10 "
            f"{statistics.mean(recalls.values()) if recalls else 0:.4f}")

    if a.trace:
        layers = dict(res["layers"])
        for fam, r in recalls.items():
            layers[f"similarity.recall_at_10.{fam}"] = r
        layers["similarity.recall_at_10"] = statistics.mean(recalls.values()) if recalls else 0.0
        layers["trace.overhead_frac"] = (untraced_ops - ops_per_s) / untraced_ops
        log(f"trace.overhead_frac {layers['trace.overhead_frac']:.4f} "
            f"(untraced {untraced_ops:.4f} 1/s, traced {ops_per_s:.4f} 1/s)")
        chosen = {m["name"]: layers.get(m["name"], 0.0) for m in spec["per_layer"]}
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    else:
        chosen = {m["name"]: e2e[m["name"]] for m in spec["end_to_end"]}
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    metrics = {k: {"value": v, "unit": units[k]} for k, v in chosen.items()}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)


if __name__ == "__main__":
    main()
