"""Metrics from one run's result file.

End-to-end metrics share one set of names across workloads (every run
reports every one of them); what each measures on each workload is in
perfbench/README.md. Per-layer metrics come from the traced run's spans;
a layer a workload never enters reads 0 there."""
import statistics

UNIT_CALL = {"cron_extract": "cron.day", "ingest_gate": "ingest.tick"}
TOP_SPAN = {"cron_extract": "cron:runForDay", "ingest_gate": "ingest:tick"}


def _samples(res, name):
    return [c["seconds"] for c in res["calls"] if c["ok"] and c["name"] == name]


def end_to_end(workload, res, facts, quality):
    unit = _samples(res, UNIT_CALL[workload])
    if workload == "cron_extract":
        calls = res["extra"]["per_call"]
        ok = [c for c, r in zip(calls, (x for x in res["calls"] if x["name"] == "cron.day")) if r["ok"]]
        per_day_in = facts["input_bytes"] / facts["days"]
        write_amp = statistics.mean(c["written"]["bytes"] for c in ok) / per_day_in
    else:
        ticks = [t for t in res["extra"]["per_tick"] if "written" in t]
        write_amp = (sum(t["written"]["bytes"] for t in ticks)
                     / sum(t["staged_bytes"] for t in ticks))
    return {
        "setup_s": (res["setup_s"], "s"),
        "call_p50_s": (statistics.median(unit), "s"),
        "answer_recall": (quality["answer_recall"], "ratio"),
        "write_amp": (write_amp, "ratio"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
        "retained_heap_mb": (res["retained_heap_mb"], "MB"),
    }


class Trace:
    """Spans of one traced run, with self times and per-span counters."""

    def __init__(self, res):
        tr = res["trace"]
        self.spans = {s["id"]: s for s in tr["spans"]}
        self.stats = {int(k): v for k, v in tr["stats"].items()}
        self.children = {}
        for s in tr["spans"]:
            self.children.setdefault(s["parent"], []).append(s["id"])
        self.setup_end = res["setup_done_ns"]

    def dur(self, i):
        s = self.spans[i]
        return (s["t1_ns"] - s["t0_ns"]) / 1e9

    def self_time(self, i):
        return self.dur(i) - sum(self.dur(c) for c in self.children.get(i, []))

    def named(self, name, with_setup=False):
        """Spans called `name` that started after set-up (or at all)."""
        return [i for i, s in self.spans.items()
                if s["name"] == name and (with_setup or s["t0_ns"] >= self.setup_end)]

    def subtree(self, i):
        out = [i]
        for c in self.children.get(i, []):
            out += self.subtree(c)
        return out

    def stat(self, ids, key):
        return sum(self.stats.get(i, {}).get(key, 0) for i in ids)

    def job_busy(self, top):
        """Merged intervals (ms) during which at least one job of the
        span's subtree ran; jobs can overlap (broadcasts run beside the
        job that waits for them)."""
        merged = []
        for a, b in sorted(x for i in self.subtree(top)
                           for x in self.stats.get(i, {}).get("job_intervals_ms", [])):
            if merged and a <= merged[-1][1]:
                merged[-1][1] = max(merged[-1][1], b)
            else:
                merged.append([a, b])
        return merged

    def job_gap_s(self, top):
        """Driver time between the jobs of one call."""
        iv = self.job_busy(top)
        return sum(b[0] - a[1] for a, b in zip(iv, iv[1:])) / 1e3


def _mean(xs):
    return statistics.mean(xs) if xs else 0.0


def per_layer(workload, res, facts, quality):
    t = Trace(res)
    tops = t.named(TOP_SPAN[workload])
    n = max(1, len(tops))
    inside = [i for top in tops for i in t.subtree(top)]
    per = lambda key: t.stat(inside, key) / n

    def spans_s(name, with_setup=False):
        return _mean([t.dur(i) for i in t.named(name, with_setup)])

    def jobs(name, with_setup=False):
        return _mean([t.stat(t.subtree(i), "jobs") for i in t.named(name, with_setup)])

    scan_rows = t.stat(inside, "scan_rows")
    m = {}
    # extract
    ext = t.named("extract:Extractor.queryDataForDay")
    sinks = t.named("sink:ExtractOps.writeDailyCsv")
    m["extract.build_s"] = (spans_s("extract:Extractor.queryDataForDay"), "s")
    m["extract.build_jobs"] = (jobs("extract:Extractor.queryDataForDay"), "count")
    m["extract.rows_in"] = (_mean([t.stat([i], "window_rows") for i in sinks]), "count")
    rows_out = quality.get("rows_out", {})
    m["extract.rows_out"] = (_mean(list(rows_out.values())) if ext else 0.0, "count")
    # spark, per unit call
    m["spark.analysis_s"] = (per("analysis_ms") / 1e3, "s")
    m["spark.optimize_s"] = (per("optimization_ms") / 1e3, "s")
    m["spark.plan_s"] = (per("planning_ms") / 1e3, "s")
    m["spark.jobs"] = (per("jobs"), "count")
    m["spark.stages"] = (per("stages"), "count")
    m["spark.tasks"] = (per("tasks"), "count")
    m["spark.job_gap_s"] = (_mean([t.job_gap_s(i) for i in tops]), "s")
    m["spark.task_s"] = (per("task_ms") / 1e3, "s")
    m["spark.gc_s"] = (per("gc_ms") / 1e3, "s")
    m["spark.shuffle_bytes"] = (per("shuffle_bytes"), "bytes")
    m["spark.spill_bytes"] = (per("spill_bytes"), "bytes")
    # sources
    m["sources.bytes_read"] = (per("input_bytes"), "bytes")
    m["sources.rows_read"] = (scan_rows / n, "count")
    m["sources.rows_used_ratio"] = (t.stat(inside, "window_rows") / scan_rows if scan_rows else 0.0,
                                    "ratio")
    # operators
    m["operators.agg_s"] = (per("agg_ms") / 1e3, "s")
    m["operators.sort_s"] = (per("sort_ms") / 1e3, "s")
    m["operators.peak_mem_bytes"] = (max([t.stats.get(i, {}).get("peak_mem_bytes", 0) for i in inside] or [0]),
                                     "bytes")
    # sink
    m["sink.write_s"] = (spans_s("sink:ExtractOps.writeDailyCsv"), "s")
    calls = res["extra"].get("per_call", []) if workload == "cron_extract" else []
    m["sink.bytes_written"] = (_mean([c["written"]["bytes"] for c in calls]), "bytes")
    m["sink.files"] = (_mean([c["written"]["files"] for c in calls]), "count")
    # ext.Dedup, reached through the doc gate
    m["dedup.gate_s"] = (spans_s("streaming:StreamingDedupGate.gateAndIngest"), "s")
    m["dedup.gate_jobs"] = (jobs("streaming:StreamingDedupGate.gateAndIngest"), "count")
    m["dedup.near_pairs"] = (quality.get("near_pairs", 0.0), "count")
    m["dedup.true_pair_ratio"] = (quality.get("true_pair_ratio", 0.0), "ratio")
    m["dedup.pair_recall"] = (quality.get("pair_recall", 0.0), "ratio")
    # ext.AnnIndex
    # the index is built once, on the first (set-up) batch
    m["ann.build_s"] = (spans_s("ann:AnnIndex.ivfPqIndexWrite", True), "s")
    m["ann.build_jobs"] = (jobs("ann:AnnIndex.ivfPqIndexWrite", True), "count")
    m["ann.append_s"] = (spans_s("ann:AnnIndex.ivfPqIndexAppend"), "s")
    m["ann.probe_build_s"] = (spans_s("ann:AnnIndex.ivfPqTopKIndexed"), "s")
    m["ann.probe_exec_s"] = (spans_s("ann:collect"), "s")
    m["ann.probe_jobs"] = (jobs("ann:probe"), "count")
    m["ann.recall_at_10"] = (quality.get("tick_recall", 0.0), "ratio")
    # streaming
    gates = t.named("streaming:StreamingDedupGate.gateAndIngest") + \
        t.named("streaming:IndexedEmbeddingGate.gateAndIngest")
    m["streaming.gate_s"] = (_mean([t.dur(i) for i in gates]), "s")
    store_bytes = 0
    for i in inside:
        for path, b in t.stats.get(i, {}).get("scan_bytes_by_path", {}).items():
            if "/sigs" in path or "/store/" in path:
                store_bytes += b
    m["streaming.history_bytes_read"] = (store_bytes / n if workload == "ingest_gate" else 0.0, "bytes")
    ticks = [x for x in res["extra"].get("per_tick", []) if "written" in x]
    m["streaming.bytes_written"] = (_mean([x["written"]["bytes"] for x in ticks]), "bytes")
    m["streaming.compact_s"] = (spans_s("streaming:compact"), "s")
    life = [t.dur(a) + t.dur(b) for a, b in zip(t.named("streaming:StreamingExtract.startFileSink"),
                                                 t.named("streaming:awaitTermination"))]
    m["streaming.extract_lifecycle_s"] = (_mean(life), "s")
    mb = [t.spans[i]["attrs"].get("microbatches", 0) for i in t.named("streaming:StreamingExtract.startFileSink")]
    m["streaming.microbatches"] = (_mean(mb), "count")
    m["streaming.emb_near_recall"] = (quality.get("emb_near_recall", 0.0), "ratio")
    # the trace itself: traced unit-call median (minus the untraced
    # call_p50_s = tracing overhead) and the share of each call's wall
    # time its spans' self times account for
    unit = _samples(res, UNIT_CALL[workload])
    m["trace.call_p50_s"] = (statistics.median(unit), "s")
    covered = [sum(t.self_time(i) for i in t.subtree(top)) for top in tops]
    m["trace.self_time_coverage"] = (sum(covered) / sum(unit) if unit else 0.0, "ratio")
    return m
