"""Seeded input generators, one per workload.

Every input set is a pure function of (workload, seed, size, label): the
same arguments give the same files. A workload's sets are written once to
``<root>/<workload>-s<seed>-n<size>-k<sets>/`` and reused by later runs
with the same arguments; generation is never timed. Sets ``w0, w1, ...`` are the
untimed warm-up operations' inputs and sets ``0, 1, ...`` feed the timed
operations, one set per operation, so no operation reads what an earlier
one read.

Text is letters-only lowercase words of 4-9 letters: the engine's cleaner
strips digits and punctuation, so ``w00123x``-style words would collapse
every bill to a handful of tokens. Bills are drawn from topic vocabularies
(so k-means has clusters to find) and come in near-duplicate families whose
members differ from the family base by a known word-edit rate; rate 0 is an
exact duplicate. Family members are spread across states.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import string

import pyarrow as pa
import pyarrow.parquet as pq

N_STATES = 50
N_TOPICS = 8
TOPIC_WORDS = 300
SHARED_WORDS = 2000
TOPIC_SHARE = 0.8

# word-edit rate of each member of a near-duplicate family against the
# family base: the base, an exact duplicate and three edited copies
# (token-set Jaccard to the base ~1.0, ~0.98, ~0.94, ~0.82 at 200 words)
FAMILY_EDITS = (0.0, 0.0, 0.01, 0.03, 0.10)

SIZES = {
    "lsh_match": 1000,       # bills per set
    "tfidf_pipeline": 250,   # bills per set
    "ingest_merge": 400,     # bills in the starting snapshot
}
INGEST_BATCH = 40            # rows per ingest batch
INGEST_UPDATE_EDIT = 0.03    # word-edit rate of a new version of a bill


class Words:
    """Topic vocabularies drawn from one seeded stream."""

    def __init__(self, rng: random.Random):
        seen: set[str] = set()
        pool: list[str] = []
        while len(pool) < N_TOPICS * TOPIC_WORDS + SHARED_WORDS:
            w = "".join(rng.choice(string.ascii_lowercase) for _ in range(rng.randint(4, 9)))
            if w not in seen:
                seen.add(w)
                pool.append(w)
        self.topics = [pool[i * TOPIC_WORDS:(i + 1) * TOPIC_WORDS] for i in range(N_TOPICS)]
        self.shared = pool[N_TOPICS * TOPIC_WORDS:]

    def word(self, rng: random.Random, topic: int) -> str:
        pool = self.topics[topic] if rng.random() < TOPIC_SHARE else self.shared
        return rng.choice(pool)

    def bill(self, rng: random.Random, topic: int) -> list[str]:
        return [self.word(rng, topic) for _ in range(rng.randint(160, 240))]

    def edit(self, rng: random.Random, words: list[str], topic: int, n_edits: int) -> list[str]:
        out = list(words)
        for i in rng.sample(range(len(out)), n_edits):
            out[i] = self.word(rng, topic)
        return out


def family_bills(rng: random.Random, words: Words, n: int) -> list[tuple[int, int, int, list[str]]]:
    """``n`` bills as (family, topic, state, words), in families of
    FAMILY_EDITS members (the last family may be cut short), shuffled."""
    out = []
    fam = 0
    while len(out) < n:
        topic = fam % N_TOPICS  # equal topic sizes
        base = words.bill(rng, topic)
        for rate in FAMILY_EDITS[: n - len(out)]:
            member = words.edit(rng, base, topic, round(len(base) * rate))
            out.append((fam, topic, rng.randint(1, N_STATES), member))
        fam += 1
    rng.shuffle(out)
    return out


def _bill_table(rows: list[dict]) -> pa.Table:
    cols = ("primary_key", "content", "year", "state", "docid", "docversion")
    types = (pa.string(), pa.string(), pa.int64(), pa.int64(), pa.string(), pa.string())
    data = {c: pa.array([r[c] for r in rows], t) for c, t in zip(cols, types)}
    data["length"] = pa.array([len(r["content"]) for r in rows], pa.int64())
    return pa.table(data)


def _bill(pk: str, state: int, words: list[str], version: str = "IN") -> dict:
    return {"primary_key": pk, "content": " ".join(words), "year": 2010,
            "state": state, "docid": pk, "docversion": version}


def _lsh_match(rng, words, n, d):
    bills = family_bills(rng, words, n)
    texts = [" ".join(w) for *_, w in bills]
    pq.write_table(pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": ["en"] * n,
        "source": [f"st{s:02d}" for _, _, s, _ in bills],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(d, "documents.parquet"))


def _tfidf_pipeline(rng, words, n, d):
    with open(os.path.join(d, "bills.json"), "w") as f:
        for i, (fam, _, state, w) in enumerate(family_bills(rng, words, n)):
            f.write(json.dumps(_bill(f"b{i:05d}f{fam:04d}", state, w)) + "\n")


def _ingest_snapshot(rng, words, n, path):
    bills = family_bills(rng, words, n)
    pq.write_table(_bill_table(
        [_bill(f"c{i:06d}", s, w) for i, (_, _, s, w) in enumerate(bills)]
    ), path)
    return [(t, w) for _, t, _, w in bills]


def _ingest_batch(rng, words, snap, label, d):
    """One batch against the starting snapshot's keys: 80 % new versions of
    existing keys, 10 % fresh bills and 10 % planted near-duplicates (one
    word edited) of bills whose keys no batch updates. Keys of the first
    half of the snapshot are update targets, the second half are
    near-duplicate sources. The planted pairs go to ``planted.json``."""
    n_upd, n_new = INGEST_BATCH * 8 // 10, INGEST_BATCH // 10
    n_dup = INGEST_BATCH - n_upd - n_new
    half = len(snap) // 2
    rows, planted = [], []
    for k in rng.sample(range(half), n_upd):
        topic, w = snap[k]
        w = words.edit(rng, w, topic, round(len(w) * INGEST_UPDATE_EDIT))
        rows.append(_bill(f"c{k:06d}", rng.randint(1, N_STATES), w, f"V{label}"))
    for j in range(n_new):
        w = words.bill(rng, rng.randrange(N_TOPICS))
        rows.append(_bill(f"n{label}x{j:03d}", rng.randint(1, N_STATES), w))
    for j, k in enumerate(rng.sample(range(half, len(snap)), n_dup)):
        topic, w = snap[k]
        pk = f"d{label}x{j:03d}"
        rows.append(_bill(pk, rng.randint(1, N_STATES), words.edit(rng, w, topic, 1)))
        planted.append([pk, f"c{k:06d}"])
    rng.shuffle(rows)
    pq.write_table(_bill_table(rows), os.path.join(d, "batch.parquet"))
    with open(os.path.join(d, "planted.json"), "w") as f:
        json.dump(planted, f)


_SET_MAKERS = {
    "lsh_match": _lsh_match,
    "tfidf_pipeline": _tfidf_pipeline,
}


def ensure_inputs(root: str, workload: str, seed: int, n_warm: int, n_sets: int) -> str:
    """Generate (or reuse) the warm-up sets ``w0..`` and timed sets
    ``0..n_sets-1`` of one workload and seed; returns their directory.
    ``ingest_merge`` also gets the starting snapshot ``snapshot.parquet``."""
    n = SIZES[workload]
    base = os.path.join(root, f"{workload}-s{seed}-n{n}-w{n_warm}-k{n_sets}")
    if os.path.exists(os.path.join(base, "DONE")):
        return base
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base)
    rng = random.Random(f"{workload}/{seed}")
    words = Words(rng)
    snap = None
    if workload == "ingest_merge":
        snap = _ingest_snapshot(rng, words, n, os.path.join(base, "snapshot.parquet"))
    for label in [f"w{i}" for i in range(n_warm)] + [str(i) for i in range(n_sets)]:
        d = os.path.join(base, label)
        os.makedirs(d)
        if snap is not None:
            _ingest_batch(rng, words, snap, label, d)
        else:
            _SET_MAKERS[workload](rng, words, n, d)
    open(os.path.join(base, "DONE"), "w").close()
    return base
