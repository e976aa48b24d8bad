"""Reference answers and checkers. Each checker returns a list of problems
(empty = correct); the benchmark counts every non-empty result as one
failed operation. Checks run outside the timed regions."""

from __future__ import annotations

import importlib.util
import math
import os
import re

import numpy as np

from perfbench.inputs import STOPWORDS

#: distances from the engine and from numpy agree to this absolute
#: tolerance (both float64; only the summation order may differ)
DIST_TOL = 1e-9


def cosine_distances(vecs: np.ndarray, q) -> np.ndarray:
    """1 - cos, the engine's cosine distance (zero-norm rows get 1.0)."""
    q = np.asarray(q, dtype=np.float64)
    qn = np.linalg.norm(q) or 1.0
    xn = np.linalg.norm(vecs, axis=1)
    safe = np.where(xn == 0.0, 1.0, xn)
    d = 1.0 - (vecs @ q) / (safe * qn)
    return np.where(xn == 0.0, 1.0, d)


def brute_force_topk(ids: np.ndarray, vecs: np.ndarray, q, k: int,
                     mask: np.ndarray | None = None) -> tuple[list, list]:
    """Exact cosine top-k over the rows in ``mask``: (ids, distances),
    ordered by (distance, id)."""
    d = cosine_distances(vecs, q)
    pool = np.arange(len(ids)) if mask is None else np.nonzero(mask)[0]
    order = sorted(pool.tolist(), key=lambda i: (d[i], ids[i]))[:k]
    return [int(ids[i]) for i in order], [float(d[i]) for i in order]


def check_exact(got_ids, got_dist, ref_ids, ref_dist) -> list[str]:
    """The exact strategy must return the brute-force top-k. Rank by rank
    the distances agree within DIST_TOL; ids may differ only inside a tie."""
    if len(got_ids) != len(ref_ids):
        return [f"exact: {len(got_ids)} rows, brute force has {len(ref_ids)}"]
    for r, (gi, gd, ri, rd) in enumerate(zip(got_ids, got_dist, ref_ids, ref_dist)):
        if abs(gd - rd) > DIST_TOL:
            return [f"exact: rank {r} distance {gd!r} != brute force {rd!r}"]
        if gi != ri and not any(abs(rd - x) <= DIST_TOL
                                for j, x in enumerate(ref_dist) if j != r):
            return [f"exact: rank {r} id {gi} != brute force {ri}"]
    return []


def recall(got_ids, ref_ids) -> float:
    if not ref_ids:
        return 1.0
    return len(set(got_ids) & set(ref_ids)) / len(ref_ids)


def restriction_mask(flt: dict | None, ids: np.ndarray, labels: np.ndarray):
    """numpy twin of the wire restrictions the request streams use."""
    if flt is None:
        return None
    (tag, (col, val)), = flt.items()
    x = ids if col == "vec_id" else labels
    if tag == "==":
        return x == val
    if tag == "<":
        return x < val
    if tag == "IN":
        return np.isin(x, val)
    raise ValueError(f"no reference for restriction {flt!r}")


# -- LWW ---------------------------------------------------------------------

def lww_replay(initial: dict, initial_ts: int, waves) -> dict:
    """Pure-Python last-write-wins over whole rows: key -> (embedding,
    label, text) for every live key after all waves. ``initial`` maps key ->
    row written at ``initial_ts``."""
    state = {k: (initial_ts, 0, v) for k, v in initial.items()}
    for w in waves:
        for k, emb, label, text, ts, seq, op in w.events:
            cur = state.get(k)
            if cur is not None and (cur[0], cur[1]) >= (ts, seq):
                continue
            state[k] = (ts, seq, None if op == "delete" else (emb, label, text))
    return {k: v for k, (_, _, v) in state.items() if v is not None}


def check_snapshot(rows: dict, expected: dict) -> list[str]:
    """``rows`` (key -> (embedding, label, text)) read back from the live
    snapshot must equal the replay: same keys, same values."""
    problems = []
    if set(rows) != set(expected):
        extra, missing = set(rows) - set(expected), set(expected) - set(rows)
        problems.append(f"snapshot keys: {len(extra)} unexpected "
                        f"{sorted(extra)[:5]}, {len(missing)} missing "
                        f"{sorted(missing)[:5]}")
    for k in sorted(set(rows) & set(expected)):
        (ge, gl, gt), (ee, el, et) = rows[k], expected[k]
        if (gl, gt) != (el, et) or not np.allclose(
                np.asarray(ge, dtype=np.float32), np.asarray(ee, dtype=np.float32),
                rtol=0, atol=0):
            problems.append(f"snapshot key {k}: value differs from LWW replay")
            break
    return problems


# -- BM25 --------------------------------------------------------------------

K1, B = 1.2, 0.75


def analyze(text: str) -> list[str]:
    """The index analyzer: lowercase, split on non-alphanumerics, drop
    stop-words (the corpus vocabulary only holds these two)."""
    return [t for t in re.split("[^a-z0-9]+", text.lower())
            if t and t not in STOPWORDS]


class Bm25Reference:
    """Lucene BM25 (k1=1.2, b=0.75) over an OR of distinct terms, scored in
    plain Python over the same tokens the index sees."""

    def __init__(self, docs: dict):
        self.tf = {d: {} for d in docs}
        self.dl = {}
        for d, text in docs.items():
            toks = analyze(text)
            self.dl[d] = len(toks)
            for t in toks:
                self.tf[d][t] = self.tf[d].get(t, 0) + 1
        self.n = len(docs)
        self.avgdl = sum(self.dl.values()) / self.n if self.n else 0.0
        self.df = {}
        for tfs in self.tf.values():
            for t in tfs:
                self.df[t] = self.df.get(t, 0) + 1

    def scores(self, query: str) -> dict:
        out: dict = {}
        for t in dict.fromkeys(analyze(query)):
            df = self.df.get(t, 0)
            if not df:
                continue
            idf = math.log(1.0 + (self.n - df + 0.5) / (df + 0.5))
            for d, tfs in self.tf.items():
                tf = tfs.get(t)
                if tf:
                    norm = tf * (K1 + 1) / (tf + K1 * (1 - B + B * self.dl[d] / self.avgdl))
                    out[d] = out.get(d, 0.0) + idf * norm
        return out


def check_bm25(got_ids, got_scores, ref_scores: dict, k: int) -> list[str]:
    """Top-k by (score desc, id asc): each returned score matches the
    reference score of that doc, scores are non-increasing, and nothing
    left out scores above the last one returned."""
    tol = 1e-9
    want = min(k, len(ref_scores))
    if len(got_ids) != want:
        return [f"bm25: {len(got_ids)} hits, reference has {want}"]
    for d, s in zip(got_ids, got_scores):
        if d not in ref_scores or abs(ref_scores[d] - s) > tol * max(1.0, abs(s)):
            return [f"bm25: doc {d} score {s!r} != reference {ref_scores.get(d)!r}"]
    if any(a < b - tol for a, b in zip(got_scores, got_scores[1:])):
        return ["bm25: scores not in descending order"]
    if got_scores:
        floor = got_scores[-1]
        returned = set(got_ids)
        better = [d for d, s in ref_scores.items()
                  if d not in returned and s > floor + tol * max(1.0, abs(floor))]
        if better:
            return [f"bm25: doc {better[0]} outscores the last hit but is missing"]
    return []


# -- pipeline oracles -------------------------------------------------------

def correctness_module(root: str):
    """tools/check_correctness.py, imported by path for its row
    normalization and type-family comparison."""
    spec = importlib.util.spec_from_file_location(
        "check_correctness", os.path.join(root, "tools", "check_correctness.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def compare_with_oracle(cc, spark_cols, spark_dtypes, spark_rows,
                        oracle_cols, oracle_schema, oracle_rows) -> list[str]:
    """check_correctness's rule: same column names, same numeric type
    families, same row count, and equal order-insensitive normalized
    values."""
    problems = []
    if sorted(spark_cols) != sorted(oracle_cols):
        problems.append(f"columns {spark_cols} vs {oracle_cols}")
    problems.extend(cc.type_problems(spark_dtypes, oracle_schema))
    if len(spark_rows) != len(oracle_rows):
        problems.append(f"rowcount {len(spark_rows)} vs {len(oracle_rows)}")
    if not problems:
        a = cc.normalize(spark_rows, spark_cols)
        b = cc.normalize(oracle_rows, oracle_cols)
        if a != b:
            diff = [(x, y) for x, y in zip(a, b) if x != y][:2]
            problems.append(f"values differ, first diffs: {diff}")
    return problems


def pair_recall(found_pairs, vecs: np.ndarray, ids: np.ndarray,
                threshold: float) -> float:
    """Share of the exact cosine >= threshold pairs that were found."""
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    cos = unit @ unit.T
    ia, ib = np.nonzero(np.triu(cos >= threshold, k=1))
    exact = {(min(ids[a], ids[b]), max(ids[a], ids[b])) for a, b in zip(ia, ib)}
    if not exact:
        return 1.0
    found = {(min(a, b), max(a, b)) for a, b in found_pairs}
    return len(found & exact) / len(exact)


#: the polynomial and universal hashes' modulus (2^31 - 1)
P31 = 2_147_483_647


def shingle_set(text: str, stopwords, n: int = 3) -> set:
    """The oracle's shingles of one document: lowercase, split on
    non-alphanumerics, stop-words dropped, word n-grams joined by a space,
    each hashed as h = (h * 31 + code point) mod 2^31 - 1."""
    toks = [t for t in re.split("[^a-z0-9]+", (text or "").lower())
            if t and t not in stopwords]
    out = set()
    for i in range(len(toks) - n + 1):
        h = 0
        for c in " ".join(toks[i:i + n]):
            h = (h * 31 + ord(c)) % P31
        out.add(h)
    return out


def minhash_pairs_reference(docs: dict, coeffs, bands: int, rows: int,
                            threshold: float, digits: int, stopwords) -> list[tuple]:
    """dedup_minhash_lsh's oracle in plain Python: per-document signature
    ``min((a*h + b) mod P)`` over its shingle hashes for each (a, b) in
    ``coeffs``; documents sharing all ``rows`` values of any band are
    candidates; candidates whose exact shingle Jaccard is at least
    ``threshold`` are returned as (id_a, id_b, rounded Jaccard), id_a < id_b."""
    sets = {d: s for d, s in ((d, shingle_set(t, stopwords)) for d, t in docs.items()) if s}
    buckets: dict = {}
    for d, hs in sets.items():
        sig = [min((a * h + b) % P31 for h in hs) for a, b in coeffs]
        for band in range(bands):
            buckets.setdefault((band, tuple(sig[band * rows:(band + 1) * rows])), []).append(d)
    cand = {(a, b) for ids in buckets.values() for a in ids for b in ids if a < b}
    out = []
    for a, b in sorted(cand):
        shared = len(sets[a] & sets[b])
        j = shared / (len(sets[a]) + len(sets[b]) - shared)
        if j >= threshold:
            out.append((a, b, round(j, digits)))
    return out


def same_pairs(got, want, tol: float = 1e-9) -> bool:
    """Sorted (id_a, id_b, score) lists agree: same pairs, scores within tol."""
    return len(got) == len(want) and all(
        (ga, gb) == (wa, wb) and abs(gs - ws) <= tol
        for (ga, gb, gs), (wa, wb, ws) in zip(got, want))


def drop_list_reference(pairs, docs) -> list[tuple]:
    """dedup_drop_list from verified near-dup pairs: connected components
    (union-find), every member but the component's minimum id dropped,
    counted per source as (source, n_dropped, chars_dropped)."""
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    out: dict = {}
    for x in list(parent):
        if find(x) != x:
            source, n_chars = docs[x]
            n, c = out.get(source, (0, 0))
            out[source] = (n + 1, c + n_chars)
    return [(s, n, c) for s, (n, c) in out.items()]
