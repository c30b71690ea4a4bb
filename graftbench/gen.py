"""Seeded input generator for the graft benchmark.

Every table is a pure function of the seed and the size arguments: the
same seed gives byte-identical inputs. The program under test receives
only the parquet files written here; what the checks need to know about
the inputs (record count, planted near-duplicate clusters) is returned
to the caller and never written next to them.

  python3 graftbench/gen.py <workload> <seed> <out_dir>
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

T0_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
HOUR_US = 3_600_000_000
# Event rate of the sf0.1 events table: 100,000 events over 30 days.
EVENTS_PER_HOUR = 100_000 / (30 * 24)
# sf0.1 has 100,000 events over 1,500 users, and a customer dim ten
# times the size of the active user set.
EVENTS_PER_USER = 100_000 / 1_500
DIM_PER_USER = 10
# Events of a file may be up to this much older than the newest event
# of the files before it: out of order, but below the 47-minute HOP
# watermark delay, so no event is ever late.
MAX_DISORDER_US = 40 * 60 * 1_000_000
EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])

# The sf0.1 documents table: every word drawn uniformly from these 30,
# 10-100 words per document, and 5% of the documents a copy of another
# document with " dup" appended.
CORPUS_VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter", "group",
    "hash", "join", "key", "line", "merge", "order", "part", "query", "row", "scan",
    "slow", "small", "sort", "spark", "stream", "table", "the", "value", "vector", "window"]
DUP_SHARE = 0.05
# sf0.1's `lang` labels (independent of the text) and 20 sources.
LANG_LABELS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
# Doc-id namespace per token-disjoint copy (graft.ScaleGen's rule).
COPY_ID_SHIFT = 10_000_000


def write_files(table, directory, n_files, mtime0=1_700_000_000):
    """Split `table` into `n_files` equal parquet files with increasing
    modification times (the file stream source replays in mtime order)."""
    os.makedirs(directory, exist_ok=True)
    per = -(-table.num_rows // n_files)
    for i in range(n_files):
        path = os.path.join(directory, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(i * per, per), path)
        os.utime(path, (mtime0 + i, mtime0 + i))


def events_table(rng, n_files, per_file, n_users):
    """Changelog events at sf0.1's rate, type mix and value shape, file
    by file in event-time order with bounded disorder; Zipf(1)-skewed
    users; `error` is the delete row-kind."""
    n = n_files * per_file
    span_us = int(per_file / EVENTS_PER_HOUR * HOUR_US)
    file_start = T0_US + (np.arange(n) // per_file) * span_us
    late = rng.random(n) < 0.3
    ts = file_start + rng.integers(0, span_us, n) - late * rng.integers(0, MAX_DISORDER_US, n)
    weights = 1.0 / np.arange(1, n_users + 1)
    user_rank = rng.choice(n_users, n, p=weights / weights.sum())
    # the active users are a random tenth of the dim's key space
    user_id = rng.choice(n_users * DIM_PER_USER, n_users, replace=False)[user_rank]
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(user_id, pa.int64()),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def customer_table(rng, events, n_users):
    """The customer dim, TPC-H shaped as in sf0.1 (c_acctbal uniform in
    [-999.99, 9999.99], so about 9% are <= 0, the divide guard), with
    8% of the active users left out (the left join's nulls) and 1% of
    the balances exactly 0."""
    keys = np.arange(n_users * DIM_PER_USER)
    active = np.unique(events.column("user_id").to_numpy())
    absent = rng.choice(active, int(round(0.08 * len(active))), replace=False)
    keys = keys[~np.isin(keys, absent)]
    bal = rng.integers(-99_999, 1_000_000, len(keys)) / 100.0
    bal[rng.random(len(keys)) < 0.01] = 0.0
    return pa.table({
        "c_custkey": pa.array(keys, pa.int64()),
        "c_name": pa.array([f"Customer#{k:09d}" for k in keys]),
        "c_nationkey": pa.array(rng.integers(0, 25, len(keys)), pa.int32()),
        "c_acctbal": pa.array(bal, pa.float64()),
        "c_mktsegment": pa.array(SEGMENTS[rng.integers(0, 5, len(keys))]),
    })


def base_corpus(rng, n_docs):
    """A corpus of sf0.1's shape. Each "dup" document is a planted
    near-duplicate of a random original (3-word-shingle Jaccard >= 0.875,
    one extra shingle); an original drawn more than once forms a
    larger cluster. Returns (doc ids, texts, clusters as id lists)."""
    ids = rng.permutation(n_docs)
    n_dup = int(round(DUP_SHARE * n_docs))
    # lengths evenly spread over 10-100 in a seeded order, so that every
    # seed gives a corpus of the same size
    lengths = rng.permutation(np.linspace(10, 100, n_docs - n_dup).round().astype(int))
    texts = [" ".join(rng.choice(CORPUS_VOCAB, n)) for n in lengths]
    members = {}
    for _ in range(n_dup):
        orig = int(rng.integers(n_docs - n_dup))
        members.setdefault(orig, [orig]).append(len(texts))
        texts.append(texts[orig] + " dup")
    clusters = [sorted(int(ids[i]) for i in m) for m in members.values()]
    return ids, texts, clusters


def corpus_table(rng, base_docs, copies):
    """`copies` token-disjoint copies of a generated sf0.1-shaped corpus
    (graft.ScaleGen's rule: copy k > 0 suffixes every token with `_c<k>`
    and shifts doc ids by k * 10,000,000), rows in a seeded random order
    so that cluster members land in different micro-batches."""
    ids, texts, clusters = base_corpus(rng, base_docs)
    all_ids, all_texts, all_clusters = [], [], []
    for k in range(copies):
        shift = k * COPY_ID_SHIFT
        all_ids += [int(i) + shift for i in ids]
        all_texts += texts if k == 0 else [
            " ".join(f"{w}_c{k}" for w in t.split(" ")) for t in texts]
        all_clusters += [[d + shift for d in c] for c in clusters]
    n = len(all_ids)
    order = rng.permutation(n)
    labels = rng.choice(len(LANG_LABELS), base_docs, p=LANG_P)
    sources = rng.integers(0, 20, base_docs)
    return pa.table({
        "doc_id": pa.array([all_ids[i] for i in order], pa.int64()),
        "text": pa.array([all_texts[i] for i in order]),
        "lang": pa.array([LANG_LABELS[labels[i % base_docs]] for i in order]),
        "source": pa.array([f"src{sources[i % base_docs]}" for i in order]),
        "n_chars": pa.array([len(all_texts[i]) for i in order], pa.int64()),
    }), all_clusters


# Input sizes per workload, for the measured rounds and for the warm-up.
SIZES = {
    "engagement_stream": {"files": 16, "per_file": 2_500},
    "corpus_stream": {"base_docs": 800, "copies": 3, "per_file": 150},
}
WARM_SIZES = {
    "engagement_stream": {"files": 1, "per_file": 500},
    "corpus_stream": {"base_docs": 150, "copies": 1, "per_file": 150},
}


def generate(workload, seed, out_dir, sizes):
    """Write one workload's inputs to `out_dir` (the program's input
    dir) and return the truth the checks need."""
    rng = np.random.default_rng([seed, len(workload)])
    os.makedirs(out_dir, exist_ok=True)
    truth = {"workload": workload, "seed": seed}
    if workload == "corpus_stream":
        table, clusters = corpus_table(rng, sizes["base_docs"], sizes["copies"])
        write_files(table, os.path.join(out_dir, "documents.parquet"),
                    -(-table.num_rows // sizes["per_file"]))
        truth.update(records=table.num_rows, clusters=clusters)
    else:
        n_users = int(round(sizes["files"] * sizes["per_file"] / EVENTS_PER_USER))
        ev = events_table(rng, sizes["files"], sizes["per_file"], n_users)
        write_files(ev, os.path.join(out_dir, "events.parquet"), sizes["files"])
        pq.write_table(customer_table(rng, ev, n_users),
                       os.path.join(out_dir, "customer.parquet"))
        truth.update(records=ev.num_rows)
    return truth


if __name__ == "__main__":
    wl, sd, out = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    print(json.dumps(generate(wl, sd, out, SIZES[wl])))
