"""Arithmetic over one run's raw output: end-to-end metrics, per-layer
metrics, self time per layer, spans and the output check.

The JVM side (`Runner.scala`) records wall times, query phase stamps,
plan statistics, and job and stage records from the listener bus. All
derived numbers are computed here, so the arithmetic is pinned by
`test_metrics.py` without a Spark session.
"""
import math
import statistics

# layer -> metric names; each is reported as <layer>.<name>.cold and
# <layer>.<name>.warm
LAYERS = {
    "SparkEntry": ["build_ms", "build_jobs"],
    "plans": ["analysis_ms", "optimization_ms", "planning_ms", "nodes",
              "exchanges", "scans", "cached_scans"],
    "Tables": ["input_records", "input_bytes", "scan_ms", "serial_scan_ms"],
    "Sessions": ["jobs", "stages", "tasks", "job_union_ms", "driver_gap_ms",
                 "run_ms", "cpu_ms", "gc_ms", "shuffle_write_bytes",
                 "shuffle_read_bytes", "shuffle_records", "fetch_wait_ms",
                 "spill_bytes"],
    "functions": ["codegen_ms", "aggregate_ms", "sort_ms",
                  "broadcast_build_ms", "topk_ms"],
    "SessionCaches": ["persisted_rdds", "new_persisted", "reuse_ratio",
                      "heap_mb"],
    "IndexStore": ["artifacts_built", "disk_mb", "staging_left"],
}

# summed over a stage's tasks by the listener
STAGE_SUMS = ["input_records", "input_bytes", "run_ms", "cpu_ms", "gc_ms",
              "shuffle_write_bytes", "shuffle_read_bytes", "shuffle_records",
              "fetch_wait_ms", "spill_bytes"]
# read from the final physical plan by the runner
PLAN_STATS = ["analysis_ms", "optimization_ms", "planning_ms", "nodes",
              "exchanges", "scans", "cached_scans", "codegen_ms",
              "aggregate_ms", "sort_ms", "broadcast_build_ms", "topk_ms"]
# recorded once per pass by the runner
PASS_STATS = ["persisted_rdds", "new_persisted", "heap_mb", "artifacts_built",
              "disk_mb", "staging_left"]


def union_ms(intervals):
    """Length of the union of [start, end] intervals. Overlapping jobs
    count once, so the union never exceeds the wall that holds them."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo, hi):
    """The parts of `intervals` that lie inside [lo, hi]."""
    return [(max(s, lo), min(e, hi)) for s, e in intervals
            if min(e, hi) > max(s, lo)]


def gap_ms(lo, hi, intervals):
    """Wall time of [lo, hi] not covered by any interval: for the exec
    span and its jobs, the driver gap between jobs."""
    return max(0.0, hi - lo) - union_ms(clip(intervals, lo, hi))


def percentile(values, pct):
    """The pct-th percentile by linear interpolation between order
    statistics (statistics.quantiles, inclusive method)."""
    if len(values) == 1:
        return float(values[0])
    return statistics.quantiles(values, n=100, method="inclusive")[pct - 1]


def supported_percentile(n, beyond=10):
    """Highest whole percentile with at least `beyond` of n samples
    above it."""
    return max(0, math.floor(100 * (n - beyond) / n)) if n > beyond else 0


def end_to_end(out):
    """(gated metrics, ungated detail). setup_s is the first set-up, from
    JVM start: across two sets of ten runs its median moved 2-4 %, the
    median of the in-JVM context restarts 6-13 %. The restarts and the
    per-query percentiles are reported, not gated: a run holds 25 to 55
    warm query samples, too few for a steady tail."""
    passes = out["passes"]
    warm = passes[1:]
    lat = [q["wall_s"] for p in warm for q in p["queries"]]
    return {
        "setup_s": out["setup_s"][0],
        "cold_s": passes[0]["wall_s"],
        "warm_s": statistics.median(p["wall_s"] for p in warm),
        "resident_mb": out["resident_mb"],
    }, {
        "setup_restart_s": statistics.median(out["setup_s"][1:]),
        "samples": len(lat),
        "query_p50_s": statistics.median(lat),
        "query_p90_s": percentile(lat, 90),
        "supported_percentile": supported_percentile(len(lat)),
    }


def _by_query(records):
    grouped = {}
    for r in records:
        grouped.setdefault(r["query"], []).append(r)
    return grouped


def _job_interval(j):
    return (j["start"], j["end"] if j["end"] >= j["start"] else j["start"])


def query_layers(q, jobs, stages):
    """Per-layer values of one traced query from its spans."""
    t0, tb, tp, t1 = q["t0"], q["t_built"], q["t_planned"], q["t1"]
    job_iv = [_job_interval(j) for j in jobs]
    stage_iv = [(s["start"], s["end"]) for s in stages]
    scans = [s for s in stages if s.get("input_bytes", 0) > 0 or s.get("input_records", 0) > 0]
    # over the whole query: the engine runs eager jobs while building
    union = union_ms(clip(job_iv, t0, t1))
    v = {
        "build_ms": tb - t0,
        "build_jobs": sum(1 for s, _ in job_iv if s < tb),
        "scan_ms": sum(s["end"] - s["start"] for s in scans),
        "serial_scan_ms": sum(s["end"] - s["start"] for s in scans if s["tasks"] == 1),
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": sum(s["tasks"] for s in stages),
        "job_union_ms": union,
        "driver_gap_ms": (t1 - t0) - union,
    }
    for k in STAGE_SUMS:
        v[k] = sum(s.get(k, 0.0) for s in stages)
    for k in PLAN_STATS:
        v[k] = q[k]
    # self time: a span's wall minus what its children cover. The query
    # span is covered by build, plan and exec, so it has none; a phase's
    # children are the jobs that ran in it.
    stage_union = union_ms(clip(stage_iv, t0, t1))
    self_ms = {
        "build": gap_ms(t0, tb, job_iv),
        "plan": gap_ms(tb, tp, job_iv),
        "exec": gap_ms(tp, t1, job_iv),
        "job": union - stage_union,
        "stage": stage_union,
    }
    return v, self_ms


def pass_layers(p, jobs_by_q, stages_by_q):
    """Per-layer values of one traced pass: query values summed, plus the
    pass-level cache and index counters."""
    names = [n for ns in LAYERS.values() for n in ns]
    v = dict.fromkeys(names, 0.0)
    self_ms = {}
    for q in p["queries"]:
        if q["error"]:
            continue
        qv, qs = query_layers(q, jobs_by_q.get(q["id"], []), stages_by_q.get(q["id"], []))
        for k, x in qv.items():
            v[k] += x
        for k, x in qs.items():
            self_ms[k] = self_ms.get(k, 0.0) + x
    for k in PASS_STATS:
        v[k] = p[k]
    v["reuse_ratio"] = 1.0 - p["new_persisted"] / max(p["persisted_rdds"], 1)
    return v, self_ms


def layers(out):
    """(metrics, self time) of a traced run: each layer metric and each
    layer's self time for the cold pass and the median warm pass."""
    jobs_by_q, stages_by_q = _by_query(out["jobs"]), _by_query(out["stages"])
    per_pass = [pass_layers(p, jobs_by_q, stages_by_q) for p in out["passes"]]
    metrics, self_ms = {}, {}
    for layer, names in LAYERS.items():
        for n in names:
            metrics[f"{layer}.{n}.cold"] = per_pass[0][0][n]
            metrics[f"{layer}.{n}.warm"] = statistics.median(v[n] for v, _ in per_pass[1:])
    for k in per_pass[0][1]:
        self_ms[k] = {"cold": per_pass[0][1][k],
                      "warm": statistics.median(s[k] for _, s in per_pass[1:])}
    return metrics, self_ms


def spans(out):
    """Every span of a traced run: query, its build/plan/exec children,
    and the jobs and stages the listener tagged with the query."""
    result = []
    for p in out["passes"]:
        for q in p["queries"]:
            qid = q["id"]
            result.append({"id": qid, "parent": None, "name": "query",
                           "start": q["t0"], "end": q["t1"], "error": q["error"]})
            if q["error"]:
                continue
            for name, s, e in (("build", q["t0"], q["t_built"]),
                               ("plan", q["t_built"], q["t_planned"]),
                               ("exec", q["t_planned"], q["t1"])):
                result.append({"id": f"{qid}/{name}", "parent": qid,
                               "name": name, "start": s, "end": e})
    by_id = {s["id"]: s for s in result}
    for j in out["jobs"]:
        parent = j["query"]
        for name in ("build", "plan", "exec"):
            sp = by_id.get(f"{j['query']}/{name}")
            if sp and sp["start"] <= j["start"] <= sp["end"]:
                parent = sp["id"]
        result.append({"id": f"job{j['id']}", "parent": parent, "name": "job",
                       "start": j["start"], "end": j["end"]})
    for s in out["stages"]:
        parent = f"job{s['job']}" if s["job"] >= 0 else s["query"]
        result.append({"id": f"stage{s['id']}.{s['attempt']}", "parent": parent,
                       "name": "stage", "start": s["start"], "end": s["end"],
                       "tasks": s["tasks"]})
    return result


def check(out, expected, checked_passes):
    """(attempted, failures): every query run counts as attempted; a run
    fails when it threw, or when a checked pass's fingerprint differs
    from the expected value (rows and schema always, the content hash
    where the expected value carries one)."""
    attempted, failures = 0, []
    for p in out["passes"]:
        for q in p["queries"]:
            attempted += 1
            where = f"pass {p['pass']} {q['name']}"
            if q["error"]:
                failures.append(f"{where}: {q['error']}")
                continue
            if p["pass"] not in checked_passes:
                continue
            fp, want = q.get("fingerprint") or {}, expected.get(q["name"])
            if want is None:
                failures.append(f"{where}: no expected value")
            elif "error" in fp:
                failures.append(f"{where}: fingerprint failed: {fp['error']}")
            else:
                keys = ["rows", "schema"] + (["hash"] if "hash" in want else [])
                bad = [k for k in keys if fp.get(k) != want[k]]
                if bad:
                    failures.append(f"{where}: " + ", ".join(
                        f"{k} {fp.get(k)!r} != expected {want[k]!r}" for k in bad))
    return attempted, failures
