"""Seeded inputs for the benchmark's workloads.

    python3 perfbench/gen.py <out_dir> --seed <n>

The seed is the only input: both workloads read the same files for a seed.

``events``: dense series for the PromQL and ETL workloads.

Writes ``events.parquet`` with exactly the fixture's parquet schema
(event_id, ts as a microsecond TIMESTAMP without time zone, user_id,
event_type, value, props), so the
program ingests it unchanged through ``EventsIngest``.  Each series is one
(event_type, user_id) pair with a fixed ``props.k`` label, scraped every
``STEP`` seconds (with jitter inside the slot) over the ``DAYS`` days that end
at the pack's pinned evaluation time (2024-01-30 23:59:59 UTC):

* ``purchase`` and ``error`` are counters that reset now and then;
* ``click``, ``signup`` and ``view`` are gauges (a bounded random walk).

Values keep two decimals, like the fixture, so the DECIMAL(20,6) sums of the
program and of the DuckDB oracles are exact.

``documents`` and ``embeddings``: a curation corpus with the fixture's
schemas (doc_id, text, lang, source, n_chars; vec_id, embedding float[64],
label) and value vocabularies, with planted near-duplicate documents.
"""
import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
COUNTERS = {"purchase", "error"}
TE = 1706659199  # 2024-01-30T23:59:59Z, Pinned.Te in the query pack

# The input's shape: USERS x 5 metrics = 100 series over 2024-01-28..30, one
# sample every STEP seconds (a quarter of the smallest range window in the
# dashboard mix, 10 min, is 150 s), and a corpus of CORPUS_DOCS documents and
# as many embeddings.
USERS = 20
DAYS = 3
STEP = 120
CORPUS_DOCS = 500
SHAPE = {"series": USERS * len(EVENT_TYPES), "days": DAYS, "step_s": STEP,
         "first_day": "2024-01-28", "last_day": "2024-01-30",
         "corpus_docs": CORPUS_DOCS}


def generate(seed):
    rng = np.random.default_rng(seed)
    n = DAYS * 86400 // STEP
    base = TE - DAYS * 86400 + 1
    cols = {"ts": [], "user_id": [], "event_type": [], "cents": [], "k": []}
    for u in range(USERS):
        k = int(rng.integers(0, 100))
        for et in EVENT_TYPES:
            # whole-second scrape slots with jitter strictly inside a slot, so
            # samples of one series never share a second
            sec = base + np.arange(n, dtype=np.int64) * STEP \
                + rng.integers(0, STEP, n)
            us = sec * 1_000_000 + rng.integers(0, 1_000_000, n)
            if et in COUNTERS:
                inc = rng.integers(0, 500, n)
                cents = np.cumsum(inc)
                # counter resets: restart from the increment at ~1 in 400
                resets = np.flatnonzero(rng.random(n) < 1 / 400)
                for r in resets:
                    cents[r:] -= cents[r] - inc[r]
            else:
                walk = np.cumsum(rng.integers(-300, 301, n))
                cents = 5000 + np.abs(walk) % 40000 + 1
            cols["ts"].append(us)
            cols["user_id"].append(np.full(n, u, dtype=np.int64))
            cols["event_type"].append(np.full(n, et, dtype=object))
            cols["cents"].append(cents.astype(np.int64))
            cols["k"].append(np.full(n, k, dtype=np.int64))
    ts = np.concatenate(cols["ts"])
    order = np.argsort(ts, kind="stable")
    k = np.concatenate(cols["k"])[order]
    return pa.table({
        "event_id": pa.array(np.arange(len(ts), dtype=np.int64)),
        "ts": pa.array(ts[order], type=pa.timestamp("us")),
        "user_id": pa.array(np.concatenate(cols["user_id"])[order]),
        "event_type": pa.array(np.concatenate(cols["event_type"])[order],
                               type=pa.string()),
        "value": pa.array(np.concatenate(cols["cents"])[order] / 100.0),
        "props": pa.array(['{"k": %d}' % v for v in k], type=pa.string()),
    })


WORDS = ("row the query stream fast spark line small customer group value hash "
         "batch sort data big filter dup key agg scan slow table part a merge "
         "window order column join vector").split()
LANGS = ["en"] * 3 + ["zh", "de", "fr", "es"]


def corpus(seed):
    """documents and embeddings tables of the curation corpus: CORPUS_DOCS
    documents, and as many 64-dimensional embeddings around 10 centroids."""
    rng = np.random.default_rng(seed + 1_000_003)
    docs = vectors = CORPUS_DOCS
    dim, labels = 64, 10
    texts = []
    for i in range(docs):
        if i >= 10 and rng.random() < 0.1:
            # near-duplicate of an earlier document: a few words replaced
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), 2):
                words[j] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            words = [WORDS[j] for j in rng.integers(0, len(WORDS), int(rng.integers(10, 110)))]
        texts.append(" ".join(words))
    documents = pa.table({
        "doc_id": pa.array(np.arange(docs, dtype=np.int64)),
        "text": pa.array(texts, type=pa.string()),
        "lang": pa.array([LANGS[j] for j in rng.integers(0, len(LANGS), docs)],
                         type=pa.string()),
        "source": pa.array(["src%d" % j for j in rng.integers(0, 20, docs)],
                           type=pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    centroids = rng.normal(size=(labels, dim))
    label = rng.integers(0, labels, vectors)
    v = centroids[label] + rng.normal(scale=0.8, size=(vectors, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(vectors, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })
    return {"documents": documents, "embeddings": embeddings}


def _save(out_dir, name, table):
    tmp = os.path.join(out_dir, name + ".parquet.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(out_dir, name + ".parquet"))


def write(out_dir, seed):
    """Write events.parquet, documents.parquet and embeddings.parquet into
    out_dir; return the events row count."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in corpus(seed).items():
        _save(out_dir, name, table)
    table = generate(seed)
    _save(out_dir, "events", table)
    return table.num_rows


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args()
    print(write(a.out_dir, a.seed))
