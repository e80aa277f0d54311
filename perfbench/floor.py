"""Decompose the per-call floor from a traced run's spans.

    python3 perfbench/run.py --workload cron_extract --seed 1 --seconds 10 --trace 1
    python3 perfbench/floor.py perfbench/.out/cron_extract-trace.json

For each span of the timed top-level calls, prints the mean time and
how it splits into time inside Spark jobs, driver time between jobs and
driver time outside them, with the planning phases (analysis,
optimization, planning) that driver time contains; then the operator
row counts of each SQL execution of one call, leaves first."""
import json
import statistics
import sys

from metrics import TOP_SPAN, Trace


def main(path):
    d = json.load(open(path))
    t = Trace(d)
    workload = d["workload"]
    tops = t.named(TOP_SPAN[workload])
    calls = [c["seconds"] for c in d["calls"] if c["ok"]]
    print("%s: %d timed calls, mean call %.3f s, mean top span %.3f s"
          % (workload, len(tops), statistics.mean(calls), statistics.mean(t.dur(i) for i in tops)))
    print("| span | mean s | jobs | in jobs s | between jobs s | outside jobs s | analysis s | optimize s | plan s |")
    print("|---|---|---|---|---|---|---|---|---|")
    names = sorted({t.spans[c]["name"] for top in tops for c in t.subtree(top)},
                   key=lambda n: min(t.spans[c]["t0_ns"] - t.spans[top]["t0_ns"]
                                     for top in tops for c in t.subtree(top) if t.spans[c]["name"] == n))
    for name in names:
        ids = [c for top in tops for c in t.subtree(top) if t.spans[c]["name"] == name]
        rows = []
        for i in ids:
            sub = t.subtree(i)
            in_jobs = sum(b - a for a, b in t.job_busy(i)) / 1e3
            gaps = t.job_gap_s(i)
            ph = [t.stat(sub, k) / 1e3 for k in ("analysis_ms", "optimization_ms", "planning_ms")]
            rows.append([t.dur(i), t.stat(sub, "jobs"), in_jobs, gaps, t.dur(i) - in_jobs - gaps] + ph)
        mean = [statistics.mean(col) for col in zip(*rows)]
        print("| %s | %s |" % (name, " | ".join("%.3f" % x if k != 1 else "%.1f" % x
                                              for k, x in enumerate(mean))))
    print("(planning phases run on the driver between or before jobs, so they are part of the "
          "'between' and 'outside' columns, not additional to them; a streaming query's jobs run on "
          "its own thread and are attributed to the span that started it)")
    one = tops[len(tops) // 2]
    print("\noperator rows of one call (execution id: operator=rows out, plan order):")
    for i in t.subtree(one):
        ops = t.stats.get(i, {}).get("operator_rows", [])
        by_exec = {}
        for ex, op, n in ops:
            by_exec.setdefault(ex, []).append("%s=%d" % (op, n))
        for ex, lst in by_exec.items():
            print("  %s exec %s: %s" % (t.spans[i]["name"], ex, ", ".join(reversed(lst))))


if __name__ == "__main__":
    main(sys.argv[1])
