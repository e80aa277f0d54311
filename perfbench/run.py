"""Benchmark entry point.

    python3 perfbench/run.py --workload cron_extract --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selfcheck

Builds the program from source (perfbench/build.py), generates the
workload's inputs from the seed (perfbench/gen.py), runs one JVM with
local[N] (N = min(4, nproc)) that drives the program's public functions
in a closed loop, checks every output (perfbench/check.py), and prints
one JSON line: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end metrics; with --trace 1 they
are the per-layer metrics of a traced run. A run whose output check
fails prints no numbers and exits non-zero.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = ("cron_extract", "ingest_gate")
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
JVM_TIMEOUT_S = 160


def jvm_cmd(cp, work, main, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    # The young generation is fixed at 1 GB, so how far the collector
    # chose to grow it does not move peak RSS; the old generation grows
    # on demand up to the 3 GB cap, so memory the program retains shows,
    # as does its native memory. No perf-data file, and temp files under
    # the run's directory: a run writes only inside the checkout.
    return (["java", "-Xmx3g", "-Xmn1g", "-XX:-UseAdaptiveSizePolicy", "-Xss8m", "-XX:+UseParallelGC",
             "-XX:-UsePerfData", "-Djava.awt.headless=true",
             "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
             "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
            + opens + ["-cp", cp, main] + args)


def run_jvm(cmd, log):
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return -9


def fail(msg, log=None):
    if log and os.path.exists(log):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
    sys.stderr.write("perfbench: " + msg + "\n")
    sys.exit(1)


def selfcheck(cp):
    work = os.path.join(HERE, ".work", "selfcheck-%d" % os.getpid())
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    try:
        log = os.path.join(work, "jvm.log")
        code = run_jvm(jvm_cmd(cp, work, "perfbench.SelfCheck", []), log)
        with open(log) as fh:
            print(fh.read().strip().splitlines()[-1])
        return code
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selfcheck", action="store_true")
    a = ap.parse_args()

    import build
    cp = build.build()
    if a.selfcheck:
        sys.exit(selfcheck(cp))
    if not a.workload:
        ap.error("--workload is required")

    import check
    import gen
    import metrics

    work = os.path.join(HERE, ".work", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    inp = os.path.join(work, "in")
    os.makedirs(os.path.join(work, "tmp"))
    try:
        facts = gen.generate(a.workload, a.seed, inp)
        out = os.path.join(work, "result.json")
        log = os.path.join(work, "jvm.log")
        cpus = min(4, os.cpu_count() or 1)
        launch_ms = int(time.time() * 1000)
        cmd = jvm_cmd(cp, work, "perfbench.Main", [
            "--workload", a.workload, "--in", inp, "--work", work, "--out", out,
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--cpus", str(cpus),
            "--launch-ms", str(launch_ms)])
        code = run_jvm(cmd, log)
        if code != 0 or not os.path.exists(out):
            fail("workload JVM exited with %d" % code, log)
        with open(out) as fh:
            res = json.load(fh)
        ok, why, quality = check.CHECKS[a.workload](work, inp, facts, res)
        if not ok:
            fail("output check failed: " + why)
        if a.trace:
            m = metrics.per_layer(a.workload, res, facts, quality)
            keep = os.path.join(HERE, ".out")
            os.makedirs(keep, exist_ok=True)
            with open(os.path.join(keep, "%s-trace.json" % a.workload), "w") as fh:
                json.dump({"workload": a.workload, "seed": a.seed, "setup_done_ns": res["setup_done_ns"],
                           "calls": res["calls"], "trace": res["trace"], "metrics": m}, fh)
        else:
            m = metrics.end_to_end(a.workload, res, facts, quality)
        print(json.dumps({"correct": True, "attempted": res["attempted"], "failed": res["failed"],
                          "metrics": {k: {"value": v, "unit": u} for k, (v, u) in m.items()}}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
