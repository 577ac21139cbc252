#!/usr/bin/env python3
"""graft benchmark: one command for every workload, metric and check.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Workloads: extract_batched, sql_extract_heavy, corpus_ops (see
perfbench/README.md); `all` runs the three in one JVM and prefixes each
metric with its workload. Builds the engine and the harness from source on the
first run (perfbench/build.py), runs the harness in one JVM at local[4],
checks every output, prints each metric by name with its unit, and ends
with one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics of BENCHMARK.json, --trace 1 its
per-layer metrics. Exits non-zero when an output is wrong or a step fails.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("extract_batched", "sql_extract_heavy", "corpus_ops")
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 880

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=1):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)
    sys.exit(code)


def report(workload, rec, declared, trace):
    """Check, print and return (correct, attempted, failed, metrics) for one
    workload's record."""
    attempted, failed, problems = rec["attempted"], rec["failed"], list(rec["problems"])
    if workload == "corpus_ops":
        import oracle
        arts = rec["artifacts"]
        with open(arts["oracle_sql"]) as f:
            verdicts = oracle.compare(arts["tables"], arts["results"], json.load(f))
        bad = {q for q, v in verdicts.items() if v is not None}
        bad |= {p.split(" ", 1)[0] for p in problems}
        problems += [f"{q}: {v}" for q, v in sorted(verdicts.items()) if v is not None]
        failed = len(bad)

    values = rec["metrics"]
    missing = [m["name"] for m in declared if m["name"] not in values]
    if missing:
        fail(f"{workload}: harness did not report {missing}", 4)
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}
    for name, m in metrics.items():
        print(f"{workload} {name} = {m['value']} {m['unit']}")
    print(f"{workload} failed_frac = {failed / max(1, attempted)} "
          f"({failed} of {attempted} attempted)")
    print(f"{workload} weather = {json.dumps(rec['weather'])}")
    if not trace:
        print(f"{workload} passes = {values['passes']:.0f}, setup samples = {rec['setup_samples']}")
    for p in problems:
        print(f"{workload} FAILED CHECK: {p}")
    return failed == 0 and not problems, attempted, failed, metrics


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    start = time.monotonic()
    names = WORKLOADS if a.workload == "all" else (a.workload,)

    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = spec["per_layer"] if a.trace else spec["end_to_end"]

    try:
        cp = build.build()
    except build.BuildError as e:
        fail(f"build failed: {e}", 2)
    built = time.monotonic() - start > 30
    limit = (BUILD_LIMIT_S if built or len(names) > 1 else RUN_LIMIT_S) - (time.monotonic() - start)

    run_dir = os.path.join(build.OUT, "runs", f"{a.workload}-trace{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    record_path = os.path.join(run_dir, "record.json")
    log_path = os.path.join(run_dir, "jvm.log")
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join(cp), "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", run_dir, "--out", record_path])
    with open(log_path, "w") as log:
        try:
            rc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir,
                                timeout=max(10, limit)).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    if rc != 0 or not os.path.exists(record_path):
        with open(log_path) as log:
            tail = log.read()[-3000:]
        fail(f"harness exited with {rc}; log tail:\n{tail}", 3)
    with open(record_path) as f:
        recs = json.load(f)
    results = {w: report(w, recs[w], declared, a.trace) for w in names}

    # keep the record, log and spans; drop inputs and outputs
    for entry in os.listdir(run_dir):
        p = os.path.join(run_dir, entry)
        if os.path.isdir(p):
            for sub in os.listdir(p):
                if sub != "trace.jsonl":
                    q = os.path.join(p, sub)
                    shutil.rmtree(q) if os.path.isdir(q) else os.remove(q)

    correct = all(r[0] for r in results.values())
    if len(names) == 1:
        metrics = results[names[0]][3]
    else:
        metrics = {f"{w}.{k}": v for w, r in results.items() for k, v in r[3].items()}
    print(json.dumps({"correct": correct,
                      "attempted": sum(r[1] for r in results.values()),
                      "failed": sum(r[2] for r in results.values()),
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
