"""Output checks, one per workload. Each returns (ok, reason, quality),
where quality holds the numbers the checks measure on the way (recall,
output rows) for the metrics."""
import glob
import os

import duckdb
import numpy as np

CRON_TYPES = ["click", "purchase", "signup", "view"]   # the cron filter's regex
EMB_THRESHOLD = 0.45   # the embedding gate's threshold in Workloads.ingestGate
# The fixture's vectors have no cluster structure, so IVF-PQ recall@10 is
# low on them (about 0.3); answers drawn at random would score about
# 10 / (vectors arrived), 0.01-0.06 here.
ANN_RECALL_FLOOR = 0.2


def _one_csv(d):
    parts = glob.glob(os.path.join(d, "part-*.csv"))
    return parts[0] if len(parts) == 1 else None


def cron_extract(work, inp, facts, res):
    """Every day the loop wrote equals DuckDB's arg_max per 1 s bin over
    the generated parquet (same window, same series filter)."""
    con = duckdb.connect()
    days = sorted({c["day"] for c in res["extra"]["per_call"]})
    ok_calls = [c for c in res["calls"] if c["ok"]]
    if not ok_calls:
        return False, "no successful call", {}
    cols = ",\n  ".join(
        "arg_max(value, ts) FILTER (WHERE event_type = '%s') AS %s" % (t, t) for t in CRON_TYPES)
    ev = os.path.join(inp, "events.parquet")
    rows = {}
    for day in days:
        csv = _one_csv(os.path.join(work, "csv", "cron_%s.csv" % day))
        if csv is None:
            return False, "day %s: expected one CSV part file" % day, {}
        header = open(csv).readline().strip().split(",")
        if header != CRON_TYPES + ["ts"]:
            return False, "day %s: unexpected header %s" % (day, header), {}
        got = ("SELECT ts, %s FROM read_csv('%s', header=true, columns={%s, 'ts': 'VARCHAR'})"
               % (", ".join(CRON_TYPES), csv, ", ".join("'%s': 'DOUBLE'" % t for t in CRON_TYPES)))
        want = ("SELECT strftime(date_trunc('second', ts), '%%Y-%%m-%%dT%%H:%%M:%%S.000') AS ts, %s "
                "FROM '%s' WHERE ts >= TIMESTAMP '%s' AND ts < TIMESTAMP '%s' + INTERVAL 1 DAY "
                "AND event_type IN (%s) GROUP BY 1"
                % (cols.replace("\n  ", " "), ev, day, day, ", ".join("'%s'" % t for t in CRON_TYPES)))
        diff = con.sql("SELECT count(*) FROM ((%s EXCEPT ALL %s) UNION ALL (%s EXCEPT ALL %s))"
                       % (got, want, want, got)).fetchone()[0]
        if diff:
            return False, "day %s: %d rows differ from the DuckDB arg_max oracle" % (day, diff), {}
        rows[day] = con.sql("SELECT count(*) FROM (%s)" % want).fetchone()[0]
    return True, "", {"rows_out": rows, "answer_recall": 1.0}


def _shingles(text):
    w = text.split(" ")
    return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}


def _jaccard(a, b):
    x, y = _shingles(a), _shingles(b)
    return len(x & y) / max(1, len(x | y))


def _recall_at_10(neighbors, qvecs, vn, arrived):
    """Recall@10 of probe answers against brute-force cosine over the
    `arrived` vectors. `qvecs` maps each asked query id to its vector;
    every asked query must be answered with 10 ranked distinct arrived
    ids. A returned neighbor counts as a hit when its cosine reaches the
    exact 10th-best one, so ties at the 10th place are not misses.
    Returns (recall, error)."""
    by_q = {}
    for q, nb, rank in neighbors:
        by_q.setdefault(q, []).append((rank, nb))
    if set(by_q) != set(qvecs):
        return 0.0, "answered %d queries, asked %d" % (len(set(by_q) & set(qvecs)), len(qvecs))
    hits = 0
    for q, lst in by_q.items():
        got = [nb for _, nb in lst]
        if sorted(r for r, _ in lst) != list(range(1, 11)) or len(set(got)) != 10 \
                or any(not (0 <= nb < len(vn) and arrived[nb]) for nb in got):
            return 0.0, "query %d: not 10 ranked distinct ids of arrived vectors" % q
        v = qvecs[q].astype(np.float64)
        sims = np.where(arrived, vn @ (v / np.linalg.norm(v)), -np.inf)
        tenth = np.sort(sims)[-10]
        hits += sum(1 for nb in got if sims[nb] >= tenth - 1e-9)
    return hits / (10 * len(by_q)), ""


def _ann_recall(ex, facts):
    """Recall@10 of the tick probes (each against the vectors arrived up
    to its batch) and of the final index over the recall query set.
    Returns (tick recall, final recall, error)."""
    vecs = facts["vectors"].astype(np.float64)
    vn = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    ids = np.arange(len(vecs))
    query = ids % facts["query_every"] == 0
    hits = total = 0
    for t in ex["per_tick"]:
        b = t["batch"]
        asked = {int(q): facts["vectors"][q] for q in ids[query & (facts["vec_batch"] == b)]}
        r, err = _recall_at_10(t["neighbors"], asked, vn, ~query & (facts["vec_batch"] <= b))
        if err:
            return 0.0, 0.0, "batch %d: %s" % (b, err)
        hits += r * len(asked)
        total += len(asked)
    asked = {facts["recall_id0"] + i: v for i, v in enumerate(facts["recall_queries"])}
    final, err = _recall_at_10(ex["recall_probe"], asked, vn, ~query)
    if err:
        return 0.0, 0.0, "recall probe: " + err
    return hits / total, final, ""


def _emb_verdicts(rows, facts, threshold):
    """Every embedding-gate verdict against brute force over the vectors
    ingested before its batch: the exact tier must name the smallest
    earlier id with a bit-identical vector; a near verdict must name an
    earlier vector whose cosine (rounded to 4 places, as the gate does)
    is the reported one, reaches the threshold and is no better than
    the best earlier cosine. The near tier is LSH, so a vector whose best
    earlier cosine reaches the threshold may go unflagged; the share
    flagged is returned as recall. Returns (recall, error)."""
    v = facts["vectors"]
    vn = v.astype(np.float64) / np.linalg.norm(v.astype(np.float64), axis=1, keepdims=True)
    ids = np.arange(len(v))
    ingested = ids % facts["query_every"] != 0
    got = {r[0]: r for r in rows}
    if len(got) != len(rows) or set(got) != set(ids[ingested].tolist()):
        return 0.0, "embedding verdicts: %d rows for %d ingested vectors" % (len(rows), ingested.sum())
    tol = 5e-5 + 1e-9
    pos = found = 0
    for x in ids[ingested]:
        _, exact, near, near_cos, is_new = got[x]
        earlier = ingested & (facts["vec_batch"] < facts["vec_batch"][x])
        same = ids[earlier & np.all(v == v[x], axis=1)]
        if exact != (int(same.min()) if len(same) else None):
            return 0.0, "vector %d: exact_dup_id %s, brute force %s" % (x, exact, same[:1])
        sims = np.where(earlier, vn @ vn[x], -np.inf)
        best = sims.max() if earlier.any() else -np.inf
        if near is not None:
            if not earlier[near] or abs(near_cos - sims[near]) > tol or near_cos < threshold \
                    or near_cos > best + tol:
                return 0.0, "vector %d: near_dup_id %d at %.4f, brute force %.6f (best %.6f)" % (
                    x, near, near_cos, sims[near], best)
        if is_new != (exact is None and near is None):
            return 0.0, "vector %d: is_new %s contradicts its ids" % (x, is_new)
        if best >= threshold - 1e-9:
            pos += 1
            found += near is not None
    return (found / pos if pos else 1.0), ""


def ingest_gate(work, inp, facts, res):
    """Doc- and embedding-gate verdicts of every batch equal the batch
    Dedup references (compared inside the run); doc verdicts recall the
    planted copies; every embedding verdict agrees with brute-force
    cosine; ANN answers are scored against brute-force cosine; the
    streaming-extract output equals DuckDB's arg_max/count over the
    staged events for exactly the 1 s bins the final watermark closed."""
    ex = res["extra"]
    for key, gate in (("verdict_mismatches", "doc"), ("emb_verdict_mismatches", "embedding")):
        if ex[key]:
            return False, "%d %s verdicts differ from the batch reference" % (ex[key], gate), {}
    ticks = ex["ticks"]
    con = duckdb.connect()
    con.sql("SET TimeZone = 'UTC'")
    root = os.path.join(work, "ingest")
    planted = facts["planted_docs"]
    flagged = con.sql("SELECT doc_id, near_dup_id FROM read_parquet('%s/verdicts/**/*.parquet') "
                      "WHERE NOT is_new" % root).fetchall()
    flagged_ids = {d for d, _ in flagged}
    pair_recall = sum(1 for d in planted if d in flagged_ids) / len(planted)
    if pair_recall < 0.8:
        return False, "doc gate flagged %.3f of planted copies (< 0.8)" % pair_recall, {}
    texts = facts["texts"]
    near = [(d, h) for d, h in flagged if h is not None]
    true_ratio = sum(1 for d, h in near if _jaccard(texts[d], texts[h]) >= 0.5) / len(near) if near else 0.0

    rows = con.sql("SELECT doc_id, exact_dup_id, near_dup_id, near_cos, is_new "
                   "FROM read_parquet('%s/emb_verdicts/**/*.parquet')" % root).fetchall()
    emb_recall, err = _emb_verdicts(rows, facts, EMB_THRESHOLD)
    if err:
        return False, err, {}

    tick_recall, recall, err = _ann_recall(ex, facts)
    if err:
        return False, err, {}
    for what, r in (("tick probes", tick_recall), ("final index", recall)):
        if r < ANN_RECALL_FLOOR:
            return False, "ANN recall@10 of the %s %.3f (< %.2f)" % (what, r, ANN_RECALL_FLOOR), {}

    staged = ", ".join("'%s'" % os.path.join(inp, "events_b%d.parquet" % i) for i in range(ticks))
    out = glob.glob(os.path.join(root, "stream_out", "**", "*.parquet"), recursive=True)
    if not out or not ex["watermark"]:
        return False, "streaming extract emitted nothing after %d ticks" % ticks, {}
    wm = ex["watermark"].rstrip("Z").replace("T", " ")
    emitted, extra_rows, missing = con.sql(
        "WITH o AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value, n_points FROM read_parquet([%s])), "
        "r AS (SELECT date_trunc('second', ts) AS ts, event_type, arg_max(value, ts) AS value, "
        "count(*) AS n_points FROM read_parquet([%s]) GROUP BY 1, 2 "
        "HAVING date_trunc('second', ts) + INTERVAL 1 SECOND <= TIMESTAMP '%s') "
        "SELECT (SELECT count(*) FROM o), (SELECT count(*) FROM (SELECT * FROM o EXCEPT ALL SELECT * FROM r)), "
        "(SELECT count(*) FROM (SELECT * FROM r EXCEPT ALL SELECT * FROM o))"
        % (", ".join("'%s'" % p for p in out), staged, wm)).fetchone()
    if extra_rows or missing:
        return False, ("streaming extract: %d rows not in the oracle, %d oracle bins closed by the "
                       "watermark %s missing" % (extra_rows, missing, wm)), {}
    return True, "", {"answer_recall": recall, "tick_recall": tick_recall, "pair_recall": pair_recall, "true_pair_ratio": true_ratio,
                      "near_pairs": len(near) / ticks, "emb_near_recall": emb_recall,
                      "emitted": emitted}


CHECKS = {"cron_extract": cron_extract, "ingest_gate": ingest_gate}
