"""Expected results computed apart from the engine: Python md5 tokenizing,
exact set Jaccard, numpy cosine and a pandas upsert. None of this imports
the engine's package.

Each check raises ``Mismatch`` with a short reason on the first violation.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

# the engine's cleaner strips these characters after lowercasing
_STRIP = re.compile(r"[0-9,:;?!.]")
_P = 2038074743          # shingle hash modulus
_B = 1000003             # shingle rolling-hash multiplier

# lsh_match parameters (document_match defaults) and the recall slack
MATCH_THRESHOLD = 90.0
MATCH_HASHES, MATCH_BANDS = 32, 4
RECALL_SLACK = 0.05


class Mismatch(AssertionError):
    pass


def check(cond: bool, msg: str) -> None:
    if not cond:
        raise Mismatch(msg)


def read_parquet(path: str) -> pd.DataFrame:
    return pq.read_table(path).to_pandas()


def token_ids(text: str) -> list[int]:
    """Ordered 60-bit token ids: the first 15 hex digits of each token's md5."""
    toks = [t for t in _STRIP.sub("", text.lower()).split(" ") if t]
    return [int(hashlib.md5(t.encode()).hexdigest()[:15], 16) for t in toks]


def shingle_ids(text: str, n: int = 3) -> set[int]:
    ids = [x % _P for x in token_ids(text)]
    out = set()
    for i in range(len(ids) - n + 1):
        acc = 0
        for x in ids[i:i + n]:
            acc = (acc * _B + x) % _P
        out.add(acc)
    return out


def jaccard(a: set, b: set) -> float:
    inter = float(len(a & b))
    union = len(a) + len(b) - inter
    return 100.0 * inter / union if union > 0 else 0.0


def round_half_up(x: float, places: int = 4) -> float:
    """Spark's ``round`` on a double: half-up on the shortest decimal form."""
    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-places), ROUND_HALF_UP))


def _check_pair_shape(df: pd.DataFrame, threshold: float) -> None:
    check(bool((df.pk1 < df.pk2).all()), "a pair has pk1 >= pk2")
    check(not df.duplicated(["pk1", "pk2"]).any(), "a pair is repeated")
    check(bool((df.similarity >= threshold).all()), "a pair is below the threshold")


def qualifying_pairs(sets: dict[str, frozenset], threshold: float) -> dict[tuple, float]:
    """Every pair with Jaccard >= threshold, exactly: all-pairs intersection
    sizes from one product of the 0/1 document-token matrix."""
    keys = sorted(k for k, s in sets.items() if s)
    col: dict[int, int] = {}
    rows, cols = [], []
    for i, k in enumerate(keys):
        for x in sets[k]:
            rows.append(i)
            cols.append(col.setdefault(x, len(col)))
    m = np.zeros((len(keys), len(col)), dtype=np.float32)
    m[rows, cols] = 1.0
    inter = np.rint(m @ m.T).astype(np.int64)  # exact: counts < 2**24
    size = np.diag(inter)
    out = {}
    for i, j in zip(*np.nonzero(np.triu(inter, 1))):
        inter_ij = float(inter[i, j])
        jac = 100.0 * inter_ij / (size[i] + size[j] - inter_ij)
        if jac >= threshold:
            a, b = keys[i], keys[j]
            out[(min(a, b), max(a, b))] = jac
    return out


def s_curve(j: float, hashes: int = MATCH_HASHES, bands: int = MATCH_BANDS) -> float:
    r = hashes // bands
    return 1.0 - (1.0 - j ** r) ** bands


class LshMatchTruth:
    """Token sets and the exact qualifying pair set of one documents file,
    computed once per input and cached next to it."""

    def __init__(self, docs_path: str):
        docs = read_parquet(docs_path)
        self.sets = {str(k): frozenset(token_ids(t)) for k, t in zip(docs.doc_id, docs.text)}
        cache = os.path.join(os.path.dirname(docs_path), "qualifying.json")
        if os.path.exists(cache):
            with open(cache) as f:
                self.qualifying = {tuple(p[:2]): p[2] for p in json.load(f)}
        else:
            self.qualifying = qualifying_pairs(self.sets, MATCH_THRESHOLD)
            with open(cache, "w") as f:
                json.dump([[a, b, j] for (a, b), j in self.qualifying.items()], f)
        # exact duplicates: equal non-empty token sets
        by_set: dict[frozenset, list[str]] = {}
        for k, s in self.sets.items():
            if s:
                by_set.setdefault(s, []).append(k)
        self.exact_dups = {(a, b) for ks in by_set.values() for a in ks for b in ks if a < b}


def check_lsh_match(result_dir: str, docs_path: str) -> int:
    """Returns the number of pairs checked."""
    truth = LshMatchTruth(docs_path)
    df = read_parquet(result_dir)
    _check_pair_shape(df, MATCH_THRESHOLD)
    got = set()
    for a, b, sim in zip(df.pk1, df.pk2, df.similarity):
        exact = jaccard(truth.sets[a], truth.sets[b])
        check(sim == round_half_up(exact), f"pair {a},{b}: similarity {sim} != {exact}")
        got.add((a, b))
    check(truth.exact_dups <= got, f"{len(truth.exact_dups - got)} exact duplicates missing")
    q = truth.qualifying
    check(got <= set(q), "a returned pair is not in the exact qualifying set")
    recall = len(got) / len(q) if q else 1.0
    predicted = sum(s_curve(j / 100.0) for j in q.values()) / len(q) if q else 1.0
    check(recall >= predicted - RECALL_SLACK,
          f"recall {recall:.3f} below the S-curve prediction {predicted:.3f} - {RECALL_SLACK}")
    return len(df)


def _cosines(feats: pd.DataFrame, pk1, pk2) -> np.ndarray:
    """100 * |a.b| / (|a| |b|) of the written feature vectors, densified."""
    pos = {pk: i for i, pk in enumerate(feats.primary_key)}
    dim = max(int(v["size"]) for v in feats.features)
    m = np.zeros((len(feats), dim))
    for i, v in enumerate(feats.features):
        if v["type"] == 1:  # dense
            m[i] = v["values"]
        else:
            m[i, np.asarray(v["indices"], dtype=np.int64)] = v["values"]
    gram = m @ m.T
    ia = np.array([pos[k] for k in pk1], dtype=np.int64)
    ib = np.array([pos[k] for k in pk2], dtype=np.int64)
    norm = np.sqrt(np.diag(gram))
    na, nb = norm[ia], norm[ib]
    dot = np.abs(gram[ia, ib])
    with np.errstate(invalid="ignore", divide="ignore"):
        out = 100.0 * dot / (na * nb)
    return np.where((na == 0) | (nb == 0), 0.0, out)


def check_tfidf_pipeline(out: str, top: int) -> int:
    feats = read_parquet(f"{out}/feats")
    pairs = read_parquet(f"{out}/pairs")
    scored = read_parquet(f"{out}/scored")
    light = _read_json_dir(f"{out}/post/light")
    skim = _read_json_dir(f"{out}/post/skim")
    # candidates: exactly the cross-state, same-label pairs, pk1 < pk2
    f = feats[["primary_key", "state", "prediction"]]
    m = f.merge(f, on="prediction", suffixes=("1", "2"))
    m = m[(m.primary_key1 < m.primary_key2) & (m.state1 != m.state2)]
    want = set(zip(m.primary_key1, m.primary_key2))
    got = set(zip(pairs.pk1, pairs.pk2))
    check(len(got) == len(pairs), "a candidate pair is repeated")
    check(got == want, f"candidates differ from the cross-state same-label pairs "
                       f"({len(got - want)} extra, {len(want - got)} missing)")
    # scores: numpy cosine of the written feature vectors
    check(set(zip(scored.pk1, scored.pk2)) == got, "scored pairs differ from candidates")
    want_sim = _cosines(feats, scored.pk1, scored.pk2)
    err = np.abs(scored.similarity.to_numpy() - want_sim)
    check(bool((err <= 1e-9 * np.maximum(1.0, want_sim)).all()),
          f"{int((err > 1e-9 * np.maximum(1.0, want_sim)).sum())} cosine scores differ from numpy")
    # light output: the top-N by (similarity desc, pk1, pk2)
    best = scored.sort_values(["similarity", "pk1", "pk2"], ascending=[False, True, True]).head(top)
    want_light = list(zip(best.pk1, best.pk2, best.similarity))
    got_light = sorted(zip(light.pk1_smaller, light.pk2_larger, light.similarity),
                       key=lambda r: (-r[2], r[0], r[1]))
    check(got_light == want_light, "light output is not the top-N of the scored pairs")
    check(len(skim) == len(want_light), "skim output row count differs from light")
    docs = dict(zip(feats.primary_key, feats.content))
    for a, b, c1, c2 in zip(skim.pk1_smaller, skim.pk2_larger, skim.content1_smaller, skim.content2_larger):
        check(docs[a] == c1 and docs[b] == c2, f"skim content of {a},{b} differs from the input")
    return len(scored)


def _read_json_dir(path: str) -> pd.DataFrame:
    parts = [os.path.join(path, p) for p in sorted(os.listdir(path))
             if p.startswith("part-") and os.path.getsize(os.path.join(path, p)) > 0]
    frames = [pd.read_json(p, lines=True, dtype=False, precise_float=True) for p in parts]
    return pd.concat(frames, ignore_index=True) if frames else pd.DataFrame()


def check_ingest_merge(out: str, snapshot: str, batch: str, planted_path: str) -> int:
    old = read_parquet(snapshot)
    new_rows = read_parquet(batch)
    delta = read_parquet(f"{out}/delta")
    snap = read_parquet(f"{out}/snapshot")
    # every reported pair: exact shingle Jaccard, at or above the threshold
    old_sh = {k: shingle_ids(t) for k, t in zip(old.primary_key, old.content)}
    new_sh = {k: shingle_ids(t) for k, t in zip(new_rows.primary_key, new_rows.content)}
    check(not delta.duplicated(["pk1", "pk2"]).any(), "a delta pair is repeated")
    got = set()
    for a, b, sim in zip(delta.pk1, delta.pk2, delta.similarity):
        exact = jaccard(new_sh[a], old_sh[b])
        check(sim == exact and sim >= 70.0, f"delta pair {a},{b}: {sim} vs exact {exact}")
        got.add((a, b))
    with open(planted_path) as f:
        planted = {tuple(p) for p in json.load(f)}
    check(planted <= got, f"{len(planted - got)} planted near-duplicates not reported")
    # the new snapshot is the pandas upsert of the batch into the old one
    cols = list(old.columns)
    want = pd.concat([old[~old.primary_key.isin(new_rows.primary_key)], new_rows[cols]])
    want = want.sort_values("primary_key").reset_index(drop=True)
    snap = snap[cols].sort_values("primary_key").reset_index(drop=True)
    check(len(snap) == len(want) and snap.equals(want.astype(snap.dtypes.to_dict())),
          "new snapshot differs from the upsert of the batch")
    return len(delta) + len(snap)
