#!/usr/bin/env python3
"""Certifies the expected fingerprints in perfbench/expected/.

    python3 perfbench/certify.py [WORKLOAD ...]

For the queries of each workload (all workloads by default):
  1. graft.Verify dumps each result to parquet;
  2. tools/check_oracles.py compares each dump against its DuckDB oracle;
  3. the runner fingerprints each query twice in one session and the
     dump once; all three must agree.
A query whose oracle passes gets rows, schema and content hash as its
expected value. A query without an oracle gets rows and schema only.
A failing oracle or a disagreement stops the certification.
"""
import json
import os
import shutil
import subprocess
import sys

import run

HERE, ROOT = run.HERE, run.ROOT


def java(cp, *args, env=None):
    cmd = [os.path.join(os.environ["JAVA_HOME"], "bin", "java")
           if os.environ.get("JAVA_HOME") else "java"]
    cmd += [x for p in run.ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += [f"-Xmx{run.heap()}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, *args]
    subprocess.run(cmd, check=True, env=env)


def main():
    with open(os.path.join(HERE, "workloads.json")) as f:
        workloads = json.load(f)
    names = sys.argv[1:] or sorted(workloads)
    queries = sorted({q for w in names for q in workloads[w]["queries"]})
    data = run.data_dir()
    cp, _ = run.build()
    work = os.path.join(run.WORK, "certify")
    shutil.rmtree(work, ignore_errors=True)
    dumps = os.path.join(work, "verify")
    os.makedirs(dumps)
    try:
        env = dict(os.environ, SPARK_GRAFT_ONLY=",".join(queries),
                   SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))))
        java(cp, "graft.Verify", data, dumps, env=env)
        oracle_json = os.path.join(work, "oracles.json")
        subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_oracles.py"),
                        data, dumps, *queries],
                       env=dict(os.environ, GRAFT_JSON_OUT=oracle_json))
        with open(oracle_json) as f:
            oracles = json.load(f)
        plan = os.path.join(work, "plan.json")
        with open(plan, "w") as f:
            json.dump({"data": data, "cores": len(os.sched_getaffinity(0)),
                       "queries": queries, "verify_dir": dumps}, f)
        fps_path = os.path.join(work, "fingerprints.json")
        java(cp, "perfbench.Runner", "certify", plan, fps_path)
        with open(fps_path) as f:
            fps = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    problems, certified = [], {}
    for q in queries:
        live, dump = fps[q]["live"], fps[q]["dump"]
        if any("error" in x for x in live + [dump]):
            problems.append(f"{q}: {live} / {dump}")
            continue
        if live[0] != live[1]:
            problems.append(f"{q}: two runs differ: {live}")
            continue
        oracle = oracles.get(q)
        if oracle is None:
            if (dump["rows"], dump["schema"]) != (live[0]["rows"], live[0]["schema"]):
                problems.append(f"{q}: dump differs from live: {dump} vs {live[0]}")
                continue
            certified[q] = {"rows": live[0]["rows"], "schema": live[0]["schema"],
                            "oracle": "none"}
        elif not (oracle["rows_match"] and oracle["schema_match"] and oracle["hash_match"]):
            problems.append(f"{q}: oracle mismatch: {oracle}")
        elif dump != live[0]:
            problems.append(f"{q}: dump differs from live: {dump} vs {live[0]}")
        else:
            certified[q] = dict(live[0], oracle="pass")
    if problems:
        print("\n".join(problems), file=sys.stderr)
        sys.exit(1)
    import duckdb
    stamp = {"data": os.path.basename(data.rstrip("/")), "git_head": run.git_head(),
             "duckdb": duckdb.__version__}
    for w in names:
        path = os.path.join(HERE, "expected", f"{w}.json")
        with open(path, "w") as f:
            json.dump({"certified": stamp,
                       "queries": {q: certified[q] for q in workloads[w]["queries"]}},
                      f, indent=1, sort_keys=True)
        print(f"wrote {os.path.relpath(path, ROOT)}")


if __name__ == "__main__":
    main()
