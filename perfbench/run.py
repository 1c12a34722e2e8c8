#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as one JSON line.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <suite_batch|query_mix>
      --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source (perfbench/build.py), runs
the harness in one JVM, checks the outputs (for query_mix against DuckDB),
and prints {"correct", "attempted", "failed", "metrics"} as the last line of
stdout. With --trace 0 the metrics are the end-to-end figures; with
--trace 1 they are the per-layer figures, and the spans and listener counts
are written to perfbench/out/traces/. A wrong output makes "correct" false
and is named on stderr; the exit code is then still 0. Exits 2, printing no
result, when the run could not finish.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
import build  # noqa: E402

WORKLOADS = ("suite_batch", "query_mix")
# query_mix reads the vendored sf0.01 tables, and its q84 check the sf0.1
# events in data/sf0.1
DATA = os.path.join(BENCH, "data")
OUT = os.path.join(BENCH, "out")
RUN_LIMIT_S = 170
UNITS = {"setup_s": "s", "wall_s": "s", "turns_per_s": "turns/s",
         "query_geomean_s": "s", "rss_peak_mb": "MB"}
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def layer_unit(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if "bytes" in name:
        return "bytes"
    if name.endswith(("_frac", "_ratio", "_x")):
        return "ratio"
    return "count"


def run_jvm(args, work, result_file, deadline):
    opens = []
    for p in JVM_OPENS:
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + opens + [
        # a fixed heap and young generation keep the resident peak from
        # depending on when G1 chooses to grow the heap
        "-Xms3g", "-Xmx3g", "-Xmn768m", "-Xss16m", f"-Djava.io.tmpdir={tmp}",
        # no hsperfdata file in the system temp directory
        "-XX:-UsePerfData",
        f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
        "-cp", build.classpath(), "graft.perfbench.PerfBench",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--data", DATA,
        "--out", result_file, "--launch-ms", str(int(time.time() * 1000))]
    os.makedirs(os.path.join(OUT, "logs"), exist_ok=True)
    log = os.path.join(OUT, "logs", f"{args.workload}-{args.seed}-t{args.trace}.log")
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, stdout=err, stderr=err, cwd=work)
        try:
            p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            build.fail(f"the run exceeded {RUN_LIMIT_S}s (log: {log})")
    if p.returncode != 0 or not os.path.exists(result_file):
        build.fail(f"the harness exited with {p.returncode} (log: {log})")
    return log


def check_queries(res, problems):
    """Compares every query output with its DuckDB oracle; returns failures."""
    from oracle import Oracle
    checks = res["checks"]
    sql = json.load(open(checks["oracle_sql"]))
    oracles = {}
    failed = 0
    verdicts = {}
    for o in checks["outputs"]:
        if o["data"] not in oracles:
            oracles[o["data"]] = Oracle(o["data"], sql)
        why = oracles[o["data"]].check(o["query"], o["dir"])
        key = f'{o["query"]} {o["what"]}'
        verdicts[key] = why or "ok"
        if why:
            problems.append(f"{key}: {why}")
            # the untraced timed operations whose result this output is
            failed += o["covers"]
    checks["oracle"] = verdicts
    checks["oracle_notes"] = {f'{q} {os.path.relpath(d, BENCH)}': n
                              for d, o in oracles.items()
                              for q, n in o.notes.items()}
    return failed


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    build.build()
    deadline = time.time() + RUN_LIMIT_S
    work = os.path.join(OUT, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result_file = os.path.join(work, "result.json")
        log = run_jvm(args, work, result_file, deadline)
        res = json.load(open(result_file))
        if "error" in res:
            build.fail(f"{res['error']} (log: {log})")
        problems = list(res["checks"].get("problems", []))
        failed = res["failed"]
        if args.workload == "query_mix":
            failed += check_queries(res, problems)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e = dict(res["e2e"], setup_s=res["setup_s"], rss_peak_mb=res["rss_peak_mb"])
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "run_id": res["run_id"], "turns": res.get("turns"),
              "table_bytes": res.get("table_bytes"), "heap_peak_mb": res["heap_peak_mb"],
              "setup": {k: res.get(k) for k in ("session_ready_s", "prep_s", "warmup_s")},
              "untraced": {k: v for k, v in res["untraced"].items() if k != "outputs"},
              "attempted": res["attempted"], "failed": failed, "e2e": e2e,
              "problems": problems,
              "oracle_notes": res["checks"].get("oracle_notes", {})}
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "runs.jsonl"), "a") as fh:
        fh.write(json.dumps(record) + "\n")
    if args.trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)}
                   for k, v in res["per_layer"].items()}
        os.makedirs(os.path.join(OUT, "traces"), exist_ok=True)
        trace = {k: res[k] for k in ("run_id", "workload", "seed", "spans",
                                     "listener", "per_layer", "untraced", "traced")}
        trace["checks"] = res["checks"]
        with open(os.path.join(OUT, "traces", f"{res['run_id']}.json"), "w") as fh:
            json.dump(trace, fh)
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in UNITS.items()}
    correct = failed == 0 and not problems
    for p in problems:
        print(f"perfbench: INCORRECT: {p}", file=sys.stderr)
    for k, n in record["oracle_notes"].items():
        print(f"perfbench: note: {k}: {n}", file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
