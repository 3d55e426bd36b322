"""Seeded batch inputs for `batch_iterative`.

The tables follow graft.GenData's schema and distributions (uniform key
draws, Exp(50) event values over 30 days of 2024-01, 10-100 word documents
over its 31-word vocabulary, unit-sphere embeddings), at the sizes given in
config.json. GenData takes no seed; this generator takes one, so a claim can
be re-checked on an unseen seed.

`documents` also carries planted near-duplicate chains: each chain is a path
of `chain_len` documents where neighbours share about 2/3 of their 5-word
shingles (Jaccard >= 0.5, d2's threshold) and documents two steps apart share
less than half. The chain length, not chance collisions, therefore sets how
many rounds `Dedup.connectedComponents` needs, and the chains are the ground
truth for d12's precision and recall.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "dup",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "de", "es", "fr", "zh"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
JAN_2024_US = 1704067200000000

# A chain document has CHAIN_WORDS words; each step rewrites STEP_EDITS
# words at slot centres 5 apart, so the 5-word shingles they touch are
# disjoint, and consecutive steps use disjoint slots.
CHAIN_WORDS = 80
STEP_EDITS = 3
SLOT = 5


def _write(table, path, files):
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    for i in range(files):
        lo, hi = n * i // files, n * (i + 1) // files
        pq.write_table(table.slice(lo, hi - lo),
                       os.path.join(path, f"part-{i:05d}.parquet"))


def _chain(rng, length):
    words = list(rng.integers(0, len(VOCAB), CHAIN_WORDS))
    slots = np.arange(SLOT // 2, CHAIN_WORDS, SLOT)
    docs, prev = [list(words)], set()
    while len(docs) < length:
        free = [s for s in slots if s not in prev]
        picked = rng.choice(free, STEP_EDITS, replace=False)
        for p in picked:
            words[p] = (words[p] + 1 + rng.integers(0, len(VOCAB) - 1)) % len(VOCAB)
        prev = set(int(p) for p in picked)
        docs.append(list(words))
    return [" ".join(VOCAB[w] for w in d) for d in docs]


def documents(rng, n, chains, chain_len):
    lens = rng.integers(10, 101, n)
    texts = [" ".join(VOCAB[w] for w in rng.integers(0, len(VOCAB), k)) for k in lens]
    p = rng.random(n)
    other = rng.integers(1, len(LANGS), n)
    langs = [LANGS[0] if p[i] < 0.412 else LANGS[other[i]] for i in range(n)]
    ids = rng.choice(n, chains * chain_len, replace=False)
    planted = []
    for c in range(chains):
        members = [int(x) for x in ids[c * chain_len:(c + 1) * chain_len]]
        for doc_id, text in zip(members, _chain(rng, chain_len)):
            texts[doc_id] = text
        planted.append(members)
    table = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    return table, planted


def events(rng, n, users):
    u = lambda: (rng.integers(0, 10**9, n) + 0.5) / 1e9
    ts = JAN_2024_US + (u() * 30.0 * 86400 * 1e6).astype(np.int64)
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(np.floor(u() * users).astype(np.int64), pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)], pa.string()),
        "value": pa.array(np.round(-np.log(1.0 - u()) * 50.0, 2), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
    })


def embeddings(rng, n, dim=64):
    v = rng.standard_normal((n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32), pa.int32()),
    })


def generate(out, seed, cfg):
    """Write documents/events/embeddings under `out` (one parquet directory
    per table, like GenData) and return the planted chains and the number
    of input rows the queries read."""
    rng = np.random.default_rng([seed, 0x9e3779b9])
    docs, planted = documents(rng, cfg["documents"], cfg["chains"], cfg["chain_len"])
    _write(docs, os.path.join(out, "documents.parquet"), 4)
    _write(events(rng, cfg["events"], cfg["users"]), os.path.join(out, "events.parquet"), 8)
    _write(embeddings(rng, cfg["embeddings"]), os.path.join(out, "embeddings.parquet"), 2)
    return {"planted": planted, "input_rows": cfg["documents"] + cfg["events"]}
