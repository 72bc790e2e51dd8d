#!/usr/bin/env python3
"""Run one benchmark workload from the root of a checkout.

    python3 perfbench/run.py --workload ann_query --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Builds the program and the benchmark from source on first use (see
build.py), runs the workload in one JVM with Spark in local mode on
every core, and passes its output through: `METRIC` lines, then, as the
last stdout line, the JSON result. Everything the run writes goes under
.bench_build/ in the checkout, and its per-run work directory is removed
when the run ends. See perfbench/README.md for workloads and metrics.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

import build

WORKLOADS = ("ann_query", "vector_batch", "corpus_curate", "index_churn")
RUN_TIMEOUT_S = 170
SELFTEST_TIMEOUT_S = 900

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def java_cmd(classes, work, main, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    cp = os.pathsep.join([classes] + build.spark_jars())
    props = {
        "spark.ui.enabled": "false",
        "spark.sql.session.timeZone": "UTC",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "java.io.tmpdir": os.path.join(work, "tmp"),
        "derby.system.home": os.path.join(work, "derby"),
    }
    os.makedirs(props["java.io.tmpdir"], exist_ok=True)
    return (["java", "-Xmx3g", "-Xms3g", "-XX:+UseParallelGC", "-XX:-UsePerfData"] + opens +
            [f"-D{k}={v}" for k, v in props.items()] + ["-cp", cp, main] + args)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")

    try:
        classes = build.ensure_built()
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2

    work = os.path.join(build.ROOT, ".bench_build", "work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.selftest:
            cmd = java_cmd(classes, work, "graft.perfbench.SelfTest", ["--work", os.path.join(work, "runs")])
            return subprocess.run(cmd, cwd=work, timeout=SELFTEST_TIMEOUT_S).returncode
        trace_out = os.path.join(build.ROOT, ".bench_build", "traces",
                                 f"{a.workload}-seed{a.seed}.jsonl")
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", os.path.join(work, "runs")]
        if a.trace:
            args += ["--trace-out", trace_out]
        proc = subprocess.run(java_cmd(classes, work, "graft.perfbench.PerfBench", args),
                              cwd=work, stdout=subprocess.PIPE, text=True, timeout=RUN_TIMEOUT_S)
        out = proc.stdout.rstrip("\n")
        last = out.rsplit("\n", 1)[-1] if out else ""
        try:
            json.loads(last)
        except ValueError:
            sys.stdout.write(out + "\n" if out else "")
            print(f"perfbench: no result line (exit {proc.returncode})", file=sys.stderr)
            return proc.returncode or 1
        sys.stdout.write(out + "\n")
        sys.stdout.flush()
        return proc.returncode
    except subprocess.TimeoutExpired:
        print("perfbench: run timed out", file=sys.stderr)
        return 124
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
