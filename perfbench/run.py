#!/usr/bin/env python3
"""Session benchmark for the graft engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds the engine and the runner from
source when they changed (sbt, offline), then starts one JVM with
`Sessions.local(nproc)` and drives one workload as a closed loop with
one client: the queries of `workloads.json`, one after another, each
forced with `queryExecution.toRdd.count()` as graft.Bench does.

A run is one cold pass on a fresh session with an empty IndexStore
root, then the workload's fixed number of warm passes on the same
session. The cold pass pays what a one-shot job pays: session state
(memos, checkpoints, IndexStore artifacts) and JIT warm-up. The
warm-pass count is fixed, not timed, because later passes run faster
while the JIT settles; it is sized so that a run measures about S
seconds on a 4-core box (the report records the measured time). The seed permutes the query order
of every pass and nothing else. After the last warm pass, each of its
results is fingerprinted and checked against `expected/<workload>.json`.

Each JVM gets its own java.io.tmpdir (which also holds the IndexStore
root and the engine's temp dirs) and SPARK_LOCAL_DIRS; both are
deleted after the run and the bytes left in them are recorded.

With --trace 0 the last stdout line carries the end-to-end metrics;
with --trace 1 the per-layer metrics, taken from spans recorded around
the runner's calls and from listener events. Reports, spans and the
JVM log go to perfbench/out/.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

import metrics

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
OUT = os.path.join(HERE, "out")
# a run without a build ends within RUN_LIMIT_S; a build adds at most
# BUILD_LIMIT_S
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 700
# set-ups per run: the first, from JVM start, is setup_s; the in-JVM
# context restarts after it are reported beside it
SETUPS = 3

# what the engine's own build passes to a forked JVM (build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def data_dir():
    """The read-only seed-42 sf0.1 fixture (TESTDATA.md); graft.Bench
    reads the same directory and honours the same override."""
    return os.environ.get("SPARK_GRAFT_SF_DIR",
                          os.path.join(os.path.expanduser("~"), "testdata", "sf0.1"))


def source_stamp():
    h = hashlib.sha256()
    paths = ["build.sbt", "project/build.properties", "src/main",
             "perfbench/build.sbt", "perfbench/project/build.properties",
             "perfbench/src"]
    for rel in paths:
        top = os.path.join(ROOT, rel)
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Classpath of the engine plus the runner, rebuilt when the sources
    changed since the last build in this checkout."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main")):
        fail("no engine sources next to the benchmark (build.sbt, src/main)")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            old_stamp, cp = f.read().split("\n", 1)
        if old_stamp == stamp and all(os.path.exists(p) for p in cp.split(":")):
            return cp.strip(), 0.0
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.monotonic()
    proc = run_bounded(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, timeout=BUILD_LIMIT_S,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    lines = [l for l in proc[1].splitlines() if l.strip()]
    if proc[0] != 0 or not lines or lines[-1].startswith("["):
        print("\n".join(lines[-40:]), file=sys.stderr)
        fail("build failed")
    cp = lines[-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cp)
    return cp, time.monotonic() - t0


def run_bounded(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the whole group if it
    outlives `timeout`, and wait until it has ended."""
    proc = subprocess.Popen(cmd, start_new_session=True, text=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        fail(f"{cmd[0]} did not finish within {timeout:.0f} s")
    return proc.returncode, out or ""


def heap():
    """The tier-1 heap rule: half the RAM in whole GiB, within 2..8 g."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


def du(path):
    total = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            try:
                total += os.lstat(os.path.join(d, f)).st_size
            except OSError:
                pass
    return total


def cpu_times():
    """Aggregate jiffies from /proc/stat: (busy, steal, total)."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[0] + v[1] + v[2] + v[5] + v[6], v[7], sum(v[:8])


def git_head():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(cp, plan, tag, budget_s):
    """One JVM in a fresh run directory; returns (output, bytes left)."""
    run_dir = os.path.join(WORK, f"{tag}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp, local = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    plan_file, out_file = os.path.join(run_dir, "plan.json"), os.path.join(run_dir, "out.json")
    with open(plan_file, "w") as f:
        json.dump(plan, f)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{heap()}", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={tmp}",
        "-cp", cp, "perfbench.Runner", "run", plan_file, out_file]
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    os.makedirs(OUT, exist_ok=True)
    log_path = os.path.join(OUT, f"{tag}.log")
    try:
        with open(log_path, "w") as log:
            rc, _ = run_bounded(cmd, timeout=budget_s, cwd=run_dir, env=env,
                                stdout=log, stderr=subprocess.STDOUT)
        if rc != 0 or not os.path.exists(out_file):
            with open(log_path) as log:
                print("".join(log.readlines()[-30:]), file=sys.stderr)
            fail(f"runner exited with {rc}; log in {log_path}")
        with open(out_file) as f:
            out = json.load(f)
        left = {"tmp_bytes": du(tmp), "local_dirs_bytes": du(local),
                "tmp_entries": sorted(os.listdir(tmp))[:50]}
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    return out, left


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    t_start = time.monotonic()

    with open(os.path.join(HERE, "workloads.json")) as f:
        workloads = json.load(f)
    if args.workload not in workloads:
        fail(f"unknown workload {args.workload!r}; have {sorted(workloads)}")
    w = workloads[args.workload]
    with open(os.path.join(HERE, "expected", f"{args.workload}.json")) as f:
        expected = json.load(f)["queries"]
    data = data_dir()
    if not os.path.isdir(data):
        fail(f"fixture directory {data} not found")

    cp, build_s = build()
    load_before, cpu_before = os.getloadavg(), cpu_times()
    # the last warm pass is checked, after it ran: a fingerprint re-runs
    # its query, about one more pass of work
    checked = [w["warm_passes"]]
    rng = random.Random(args.seed)
    orders = []
    for _ in range(1 + w["warm_passes"]):
        order = list(w["queries"])
        rng.shuffle(order)
        orders.append(order)
    plan = {"data": data, "cores": len(os.sched_getaffinity(0)),
            "trace": bool(args.trace), "setups": SETUPS,
            "checked_passes": checked, "orders": orders}
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    budget = RUN_LIMIT_S - (time.monotonic() - t_start - build_s)
    out, left = run_jvm(cp, plan, tag, budget)
    load_after, cpu_after = os.getloadavg(), cpu_times()
    busy, steal, total = (b - a for a, b in zip(cpu_before, cpu_after))

    attempted, failures = metrics.check(out, expected, checked)
    e2e, latency = metrics.end_to_end(out)
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds,
        "box": {"nproc": plan["cores"], "loadavg_before": load_before,
                "loadavg_after": load_after,
                "cpu_busy_frac": busy / max(total, 1),
                "cpu_steal_frac": steal / max(total, 1), "heap": heap(),
                "heap_max_mb": out["heap_max_mb"],
                "spark_version": out["spark_version"],
                "java_version": out["java_version"],
                "git_head": git_head(), "source_sha256": source_stamp()},
        "build_s": build_s,
        "query_orders": [[q["name"] for q in p["queries"]] for p in out["passes"]],
        "passes": [{"kind": p["kind"], "wall_s": p["wall_s"],
                    "query_wall_s": {q["name"]: q["wall_s"] for q in p["queries"]}}
                   for p in out["passes"]],
        "setup_runs_s": out["setup_s"],
        "cold_index_root_empty": out["cold_index_root_empty"],
        "left_behind": left,
        "attempted": attempted, "failed": len(failures),
        "failed_frac": len(failures) / attempted,
        "failures": failures,
        "measured_s": sum(p["wall_s"] for p in out["passes"]),
        "end_to_end": e2e,
        "query_latency": latency,
    }
    units = {k: "s" for k in e2e}
    units["resident_mb"] = "MB"
    if args.trace:
        layer_metrics, self_ms = metrics.layers(out)
        report["per_layer"] = layer_metrics
        report["self_ms"] = self_ms
        spans_path = os.path.join(OUT, f"{tag}.spans.json")
        with open(spans_path, "w") as f:
            json.dump(metrics.spans(out), f)
        report["spans_file"] = os.path.relpath(spans_path, ROOT)
        report["tracing_overhead"] = tracing_overhead(args.workload, e2e["warm_s"])
        shown = {k: {"value": v, "unit": unit_of(k)} for k, v in layer_metrics.items()}
    else:
        shown = {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}
    with open(os.path.join(OUT, f"{tag}.json"), "w") as f:
        json.dump(report, f, indent=1)

    print(f"workload {args.workload} seed {args.seed}: {len(out['passes'])} passes, "
          f"{attempted} queries run, {len(failures)} failed; "
          f"load {load_before[0]:.2f} -> {load_after[0]:.2f}, "
          f"steal {report['box']['cpu_steal_frac']:.3f}")
    print(f"  failed_frac {report['failed_frac']:.4f}; context restart "
          f"{latency['setup_restart_s']:.3f} s; warm query latency over "
          f"{latency['samples']} samples: query_p50_s {latency['query_p50_s']:.4f} s, "
          f"query_p90_s {latency['query_p90_s']:.4f} s (p{latency['supported_percentile']} "
          f"is the highest percentile with 10 samples beyond it)")
    for msg in failures[:20]:
        print(f"  FAILED {msg}")
    if args.trace:
        for layer, v in report["self_ms"].items():
            print(f"  self time {layer:6s} cold {v['cold']:10.1f} ms  warm {v['warm']:10.1f} ms")
        print(f"  tracing overhead: {json.dumps(report['tracing_overhead'])}")
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": shown}))


def unit_of(name):
    base = name.rsplit(".", 1)[0].split(".", 1)[1]
    if base.endswith("_ms"):
        return "ms"
    if base.endswith("_bytes"):
        return "bytes"
    if base.endswith("_mb"):
        return "MB"
    if base == "reuse_ratio":
        return "ratio"
    return "count"


def tracing_overhead(workload, traced_warm_s):
    """Traced minus untraced warm_s, against the median of the untraced
    reports of this workload already in perfbench/out."""
    untraced = []
    for name in os.listdir(OUT):
        if name.startswith(f"{workload}-seed") and name.endswith("-trace0.json"):
            with open(os.path.join(OUT, name)) as f:
                untraced.append(json.load(f)["end_to_end"]["warm_s"])
    if not untraced:
        return {"traced_warm_s": traced_warm_s, "untraced_runs": 0}
    base = statistics.median(untraced)
    return {"traced_warm_s": traced_warm_s, "untraced_warm_s": base,
            "untraced_runs": len(untraced), "gap_s": traced_warm_s - base,
            "gap_frac": (traced_warm_s - base) / base}


if __name__ == "__main__":
    main()
