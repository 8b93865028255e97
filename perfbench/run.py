#!/usr/bin/env python3
"""graft serving benchmark: one command for every workload.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Builds graft and the harness from source (perfbench/build.py), generates the
seeded inputs (perfbench/gen.py, perfbench/tables.py), runs the workload in
one JVM with Spark at local[<cores>], checks every answer, and prints as its
last line one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json, with
--trace 1 its per-layer metrics. The line before it holds the workload's
other figures (error_rate, ttfb_p50_ms, mb_per_s, append_commit_s,
visible_s, batch_s, host steal) and the first errors, if any.
"""
import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import tables  # noqa: E402

# BENCHMARK.json lists dashboard and pipeline; export and append run the same
# way from this command (see perfbench/README.md)
WORKLOADS = ("dashboard", "pipeline", "export", "append")
RUN_TIMEOUT_S = 170  # every run must end within 180 s once built

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def metric_names(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def run_jvm(classpath, args, run_dir, deadline):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:+UseParallelGC",
           "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main"] + args
    log = open(os.path.join(run_dir, "jvm.log"), "w")
    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT)
    try:
        proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit("perfbench: the run did not finish in time (see %s)" % log.name)
    finally:
        log.close()
    if proc.returncode != 0:
        raise SystemExit("perfbench: harness exited with %d (see %s)" % (proc.returncode, log.name))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classpath = build.ensure_built()
    names = metric_names(a.trace)
    deadline = time.time() + RUN_TIMEOUT_S
    run_dir = os.path.join(build.BUILD, "runs", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        t0 = time.time()
        # a traced run measures every layer, so it needs both inputs
        if a.workload != "pipeline" or a.trace:
            gen.generate(a.seed, run_dir)
        if a.workload == "pipeline" or a.trace:
            tables.generate(a.seed, os.path.join(run_dir, "tables"))
        gen_s = time.time() - t0
        run_jvm(classpath, ["--workload", a.workload, "--run-dir", run_dir,
                            "--seconds", str(a.seconds), "--trace", str(a.trace),
                            "--seed", str(a.seed),
                            "--out", os.path.join(run_dir, "result.json")],
                run_dir, deadline)
        with open(os.path.join(run_dir, "result.json")) as f:
            res = json.load(f)
        tables.check(run_dir, res)
    finally:
        # the JVM log and the spans of the last run of each workload stay
        keep = os.path.join(build.BUILD, "last")
        os.makedirs(keep, exist_ok=True)
        for name in ("jvm.log", "spans.ndjson"):
            if os.path.exists(os.path.join(run_dir, name)):
                shutil.copy(os.path.join(run_dir, name),
                            os.path.join(keep, "%s-%s" % (a.workload, name)))
        shutil.rmtree(run_dir, ignore_errors=True)

    figures = res["layers"] if a.trace else res["metrics"]
    missing = [n for n in names if n not in figures or figures[n]["value"] is None
               or not math.isfinite(figures[n]["value"])]
    details = dict(res["details"])
    details["data_gen_s"] = {"value": gen_s, "unit": "s"}
    if a.trace:
        details.update(res["metrics"])
    attempted = max(1, int(res["attempted"]))
    failed = int(res["failed"])
    details["error_rate"] = {"value": failed / attempted, "unit": "ratio"}
    print(json.dumps({"workload": a.workload, "seed": a.seed, "details": details,
                      "errors": res["errors"], "missing": missing}))
    if missing:
        raise SystemExit("perfbench: no value for %s" % ", ".join(missing))
    print(json.dumps({
        "correct": failed == 0 and not res["errors"],
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: figures[n] for n in names},
    }))


if __name__ == "__main__":
    main()
