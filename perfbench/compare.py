"""Parent-vs-change comparison of benchmark runs.

Record alternating pairs (the side that runs first alternates, both
sides get the same seed):

    python3 perfbench/compare.py record --parent ../parent --change . \\
        --workload cron_extract --pairs 10 --out runs.jsonl

Judge them:

    python3 perfbench/compare.py judge runs.jsonl --claim cron_extract:call_p50_s

Every recorded pair counts. The claimed metric on the claimed workload is
a gain only when the change wins at least 9/10 of all pairs (ties count
for neither; a pair whose change run failed or is missing is lost) and
the medians differ, in the better direction, by more than the parent's
interquartile range. A change with more failed runs or failed calls than
the parent fails the verdict on that workload. Every other end-to-end metric on every workload must keep the
change's median within the metric's bound of the parent's; a metric whose
spread (interquartile range / median, on either side) exceeds its bound
is reported "unresolved" unless every change run beats every parent run.
One row per workload.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load_bench(path):
    with open(path) as fh:
        b = json.load(fh)
    return {m["name"]: m for m in b["end_to_end"]}, b["run_seconds"]


def record(a):
    _, seconds = load_bench(os.path.join(a.change, "BENCHMARK.json"))
    with open(a.out, "a") as out:
        for i in range(a.pairs):
            seed = a.seed0 + i
            sides = [("parent", a.parent), ("change", a.change)]
            if i % 2:
                sides.reverse()
            for side, root in sides:
                r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", a.workload,
                                    "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                                   cwd=root, stdout=subprocess.PIPE, text=True)
                lines = r.stdout.strip().splitlines()
                res = json.loads(lines[-1]) if r.returncode == 0 and lines else None
                out.write(json.dumps({"side": side, "workload": a.workload, "pair": i,
                                      "seed": seed, "result": res}) + "\n")
                out.flush()


def spread(xs):
    if len(xs) < 2:
        return float("inf")
    q = statistics.quantiles(xs, n=4)
    return (q[2] - q[0]) / abs(statistics.median(xs)) if statistics.median(xs) else float("inf")


def iqr(xs):
    q = statistics.quantiles(xs, n=4)
    return q[2] - q[0]


def judge(a):
    metrics, _ = load_bench(a.bench)
    runs = [json.loads(x) for x in open(a.runs) if x.strip()]
    claim_w, claim_m = a.claim.split(":") if a.claim else (None, None)
    ok = lambda r: r is not None and r["correct"]
    verdict_ok = True
    for w in sorted({r["workload"] for r in runs}):
        # every recorded pair counts; a side that crashed, failed its
        # output check or was never recorded has no result in its pair
        pairs = {}
        for r in runs:
            if r["workload"] == w:
                pairs.setdefault(r["pair"], {"parent": None, "change": None})[r["side"]] = r["result"]
        pairs = [p for _, p in sorted(pairs.items())]
        bad_runs = {s: sum(1 for p in pairs if not ok(p[s])) for s in ("parent", "change")}
        bad_calls = {s: sum(p[s]["failed"] for p in pairs if ok(p[s])) for s in ("parent", "change")}
        # more failed runs or failed calls than the parent is a regression
        # whatever the timings say
        fails_ok = bad_runs["change"] <= bad_runs["parent"] and bad_calls["change"] <= bad_calls["parent"]
        verdict_ok &= fails_ok
        cells = []
        for name, spec in metrics.items():
            p = [x["parent"]["metrics"][name]["value"] for x in pairs if ok(x["parent"])]
            c = [x["change"]["metrics"][name]["value"] for x in pairs if ok(x["change"])]
            if len(p) < 2 or len(c) < 2:
                cells.append("%s=no-data" % name)
                verdict_ok = False
                continue
            lower = spec["better"] == "lower"
            better = (lambda x, y: x < y) if lower else (lambda x, y: x > y)
            mp, mc = statistics.median(p), statistics.median(c)
            if (w, name) == (claim_w, claim_m):
                # a pair is won only when both sides produced a correct
                # result and the change's is better; a failed or missing
                # change run is a lost pair
                wins = sum(1 for x in pairs if ok(x["parent"]) and ok(x["change"]) and
                           better(x["change"]["metrics"][name]["value"], x["parent"]["metrics"][name]["value"]))
                gap = (mp - mc) if lower else (mc - mp)
                gain = wins >= 0.9 * len(pairs) and gap > iqr(p) and fails_ok
                verdict_ok &= gain
                cells.append("%s=%s(claim: %d/%d won, gap %.4g vs parent IQR %.4g)"
                             % (name, "GAIN" if gain else "NOT-MET", wins, len(pairs), gap, iqr(p)))
                continue
            worse = (mc - mp) / abs(mp) if lower else (mp - mc) / abs(mp)
            if max(spread(p), spread(c)) > spec["bound"] and \
                    not all(better(x, y) for x in c for y in p):
                status = "unresolved"
            elif worse > spec["bound"]:
                status = "REGRESSION"
                verdict_ok = False
            else:
                status = "ok"
            cells.append("%s=%s(%.4g->%.4g %s)" % (name, status, mp, mc, spec["unit"]))
        print("%-14s pairs=%d failed runs(parent/change)=%d/%d failed calls=%d/%d%s  %s"
              % (w, len(pairs), bad_runs["parent"], bad_runs["change"], bad_calls["parent"],
                 bad_calls["change"], "" if fails_ok else " FAILURE-REGRESSION", "  ".join(cells)))
    return 0 if verdict_ok else 1


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("record")
    r.add_argument("--parent", required=True)
    r.add_argument("--change", required=True)
    r.add_argument("--workload", required=True)
    r.add_argument("--pairs", type=int, default=10)
    r.add_argument("--seed0", type=int, default=1000)
    r.add_argument("--out", required=True)
    j = sub.add_parser("judge")
    j.add_argument("runs")
    j.add_argument("--claim", help="workload:metric the change claims to improve")
    j.add_argument("--bench", default=os.path.join(os.path.dirname(HERE), "BENCHMARK.json"))
    a = ap.parse_args()
    if a.cmd == "record":
        record(a)
        return 0
    return judge(a)


if __name__ == "__main__":
    sys.exit(main())
