"""Seeded input generators. The same seed gives the same files; the
program only ever sees the parquet written here. Each generator also
returns the facts the checks and metrics need (planted copies, vectors,
input sizes), which never reach the program."""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute  # noqa: F401  (pa.compute)
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
CRON_START = dt.datetime(2024, 1, 1)
CRON_DAYS = 30
CRON_POINTS = 100_000
DIM = 64


def _events(rng, start, seconds, n, first_id):
    """n points at distinct microsecond times in [start, start+seconds),
    time-ordered, over the five series."""
    us = rng.choice(seconds * 1_000_000, size=n, replace=False)
    us.sort()
    ts = np.datetime64(start, "us") + us.astype("timedelta64[us]")
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 5000, n, dtype=np.int64)),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.uniform(0, 200, n), 2)),
        "props": pa.array(['{"k": %d}' % k for k in rng.integers(0, 100, n)]),
    })


def cron_extract(rng, d):
    """A table shaped like the fixture's events: 100k points, 5 series,
    30 days; the cron runs the days in a seeded order."""
    t = _events(rng, CRON_START, CRON_DAYS * 86400, CRON_POINTS, 0)
    pq.write_table(t, os.path.join(d, "events.parquet"))
    days = [CRON_START.date() + dt.timedelta(days=i) for i in range(CRON_DAYS)]
    order = [days[i] for i in rng.permutation(CRON_DAYS)]
    with open(os.path.join(d, "days.txt"), "w") as fh:
        fh.write("\n".join(x.isoformat() for x in order))
    return {"days": CRON_DAYS, "input_bytes": os.path.getsize(os.path.join(d, "events.parquet"))}


# ingest_gate inputs take their shape from the fixture tables the
# registry's gate cells run on (FIXTURES.md, sf0.1), split into arrival
# batches:
# - documents: 5000 docs over a 30-word vocabulary, 10-100 words each
#   (uniform); 250 (5%) are another doc's text with " dup" appended and
#   8 are exact copies of another doc;
# - embeddings: 2000 unit-norm Gaussian 64-d vectors (labels 0-9 carry
#   no geometry); 144 pairs reach cosine 0.45, none are identical;
# - events: the cron_extract table (100k points, 5 series, 30 days).
# The embedding gate's threshold is the 0.45 of the registry's
# streaming_indexed_gate_replay cell; the ANN queries are the held-out
# vec_id % 10 == 0 slice, the split decontaminate_embedding uses.
# Five batches: two set-up ticks (empty and with-history path) and three
# timed ticks, one of which compacts.
FIXTURE_WORDS = ("a agg batch big column customer data fast filter group hash join key line "
                 "merge order part query row scan slow small sort spark stream table the "
                 "value vector window").split()
INGEST_BATCHES = 5
INGEST_DOCS = 5000
DOC_NEAR_RATE = 250 / 5000
DOC_EXACT_RATE = 8 / 5000
INGEST_VECS = 2000
QUERY_EVERY = 10
INGEST_DAYS = 30
# answer_recall is scored on the final index with this many more queries
# drawn like the fixture's vectors, so that it measures the index rather
# than the sampling of the 200 tick queries
RECALL_QUERIES = 1000
RECALL_ID0 = 10_000_000


def _doc_texts(rng):
    """Fixture-shaped docs in arrival order; copies are of earlier docs.
    Returns (texts, {copy id: source id})."""
    texts, planted = [], {}
    for i in range(INGEST_DOCS):
        r = rng.random()
        if i and r < DOC_NEAR_RATE + DOC_EXACT_RATE:
            j = int(rng.integers(0, i))
            texts.append(texts[j] if r < DOC_EXACT_RATE else texts[j] + " dup")
            planted[i] = j
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(FIXTURE_WORDS[j] for j in rng.integers(0, len(FIXTURE_WORDS), n)))
    return texts, planted


def _vec_table(ids, v):
    return pa.table({"vec_id": pa.array(np.asarray(ids, dtype=np.int64)),
                     "embedding": pa.array(list(v), type=pa.list_(pa.float32()))})


def ingest_gate(rng, d):
    """Five arrival batches of fixture-shaped docs, vectors and events
    (see the constants above). Batch i carries a fifth of each table by
    id (events: by day); its held-out vectors are its ANN queries."""
    texts, planted_docs = _doc_texts(rng)
    v = rng.normal(0, 1, (INGEST_VECS, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    ev = _events(rng, CRON_START, INGEST_DAYS * 86400, CRON_POINTS, 0)
    day = (pa.compute.cast(ev["ts"], pa.int64()).to_numpy() // 86_400_000_000
           - np.datetime64(CRON_START, "D").astype(np.int64))
    doc_b = np.array_split(np.arange(INGEST_DOCS), INGEST_BATCHES)
    vec_b = np.array_split(np.arange(INGEST_VECS), INGEST_BATCHES)
    day_b = np.array_split(np.arange(INGEST_DAYS), INGEST_BATCHES)
    vec_batch = np.zeros(INGEST_VECS, dtype=np.int64)
    for b in range(INGEST_BATCHES):
        ids = doc_b[b]
        pq.write_table(pa.table({"doc_id": pa.array(ids, type=pa.int64()),
                                 "text": pa.array([texts[i] for i in ids])}),
                       os.path.join(d, f"docs_b{b}.parquet"))
        vec_batch[vec_b[b]] = b
        held = vec_b[b] % QUERY_EVERY == 0
        pq.write_table(_vec_table(vec_b[b][~held], v[vec_b[b][~held]]), os.path.join(d, f"vecs_b{b}.parquet"))
        pq.write_table(_vec_table(vec_b[b][held], v[vec_b[b][held]]), os.path.join(d, f"queries_b{b}.parquet"))
        days = np.isin(day, day_b[b])
        pq.write_table(ev.filter(pa.array(days)), os.path.join(d, f"events_b{b}.parquet"))
    rq = rng.normal(0, 1, (RECALL_QUERIES, DIM))
    rq = (rq / np.linalg.norm(rq, axis=1, keepdims=True)).astype(np.float32)
    pq.write_table(_vec_table(RECALL_ID0 + np.arange(RECALL_QUERIES), rq),
                   os.path.join(d, "recall_queries.parquet"))
    with open(os.path.join(d, "ingest_batches.txt"), "w") as fh:
        fh.write(str(INGEST_BATCHES))
    doc_batch = [b for b, ids in enumerate(doc_b) for _ in ids]
    # the gate checks a batch against history, so only copies of a doc
    # from an earlier batch are its to find
    planted = [c for c, j in planted_docs.items() if doc_batch[j] < doc_batch[c]]
    return {"planted_docs": planted,
            "texts": texts, "vectors": v, "vec_batch": vec_batch, "query_every": QUERY_EVERY,
            "recall_queries": rq, "recall_id0": RECALL_ID0}


GENERATORS = {"cron_extract": cron_extract, "ingest_gate": ingest_gate}


def generate(workload, seed, d):
    os.makedirs(d, exist_ok=True)
    return GENERATORS[workload](np.random.default_rng(seed), d)
