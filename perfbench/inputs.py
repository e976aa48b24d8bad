"""Seeded inputs: the base corpus, its make_sf scaling, request streams and
CDC waves. Every function is a pure function of its arguments, so the same
seed gives byte-identical inputs (pinned by test_perfbench)."""

from __future__ import annotations

import importlib.util
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIMS = 64
N_LABELS = 10
#: the shipped testdata vocabulary (30 content words plus the near-dup
#: marker); "the" and "a" are stop-words and never reach an index
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()
STOPWORDS = {"the", "a"}
QUERY_VOCAB = [w for w in VOCAB if w not in STOPWORDS]
LANGS = (("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.14))

DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                        ("lang", pa.string()), ("source", pa.string()),
                        ("n_chars", pa.int64())])
EMB_SCHEMA = pa.schema([("vec_id", pa.int64()),
                        ("embedding", pa.list_(pa.float32())),
                        ("label", pa.int32())])


#: make_sf seeds a 32-bit RandomState with ``seed * 7_000_003 + replica``,
#: so it takes seeds below 614 only; larger ones are folded into that range
#: (the base tables still use the whole seed)
MAKE_SF_SEEDS = 613


def make_sf_module(root: str):
    """tools/make_sf.py, imported by path (tools/ is not a package)."""
    spec = importlib.util.spec_from_file_location(
        "make_sf", os.path.join(root, "tools", "make_sf.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def base_documents(seed: int, n: int) -> pa.Table:
    """sf0.1-shaped documents: 10-100 tokens over the shipped vocabulary,
    with 5% near-duplicates (a few substitutions plus the ``dup`` marker)
    and 2% exact duplicates, so every dedup stage has work. Lengths and
    duplicate positions are fixed and only the words and the copied
    documents depend on the seed, so every seed gives the stages the same
    amount of work (a corpus without verified pairs, for one, takes a
    cheaper path through the pair stages)."""
    rng = np.random.default_rng([seed, 1])
    words = np.array(VOCAB, dtype=object)
    texts: list[str] = []
    for i in range(n):
        if i % 50 == 49:
            texts.append(texts[int(rng.integers(i))])
            continue
        if i % 20 == 10:
            toks = texts[int(rng.integers(i))].split(" ")
            for p in rng.choice(len(toks), size=max(1, len(toks) // 12),
                                replace=False):
                toks[p] = words[int(rng.integers(len(words)))]
            texts.append(" ".join(toks + ["dup"]))
            continue
        k = 10 + (37 * i) % 91
        texts.append(" ".join(words[rng.integers(len(words), size=k)]))
    langs = [l for l, _ in LANGS]
    lang = rng.choice(len(langs), size=n, p=[p for _, p in LANGS])
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([langs[j] for j in lang], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }, schema=DOC_SCHEMA)


def unit_rows(x: np.ndarray) -> np.ndarray:
    return x / np.linalg.norm(x, axis=1, keepdims=True)


def base_embeddings(seed: int, n: int) -> pa.Table:
    """Unit 64-d float32 vectors around N_LABELS weak cluster centres, like
    the shipped testdata; ``label`` is the cluster, so a label restriction
    selects about one tenth of the rows. Near neighbours come from
    make_sf's noisy replicas."""
    rng = np.random.default_rng([seed, 2])
    centers = unit_rows(rng.normal(size=(N_LABELS, DIMS)))
    label = rng.integers(N_LABELS, size=n).astype(np.int32)
    vecs = unit_rows(0.35 * centers[label]
                     + rng.normal(0.0, 1.0 / np.sqrt(DIMS), size=(n, DIMS)))
    return embeddings_table(np.arange(n, dtype=np.int64), vecs, label)


def embeddings_table(ids, vecs, labels) -> pa.Table:
    flat = np.asarray(vecs, dtype=np.float32).ravel()
    offsets = np.arange(0, (len(ids) + 1) * DIMS, DIMS, dtype=np.int32)
    emb = pa.ListArray.from_arrays(pa.array(offsets), pa.array(flat, pa.float32()))
    return pa.table({"vec_id": pa.array(ids, pa.int64()), "embedding": emb,
                     "label": pa.array(labels, pa.int32())}, schema=EMB_SCHEMA)


@dataclass
class Corpus:
    docs: pa.Table
    emb: pa.Table
    dir: str

    @property
    def vectors(self) -> np.ndarray:
        return np.asarray(self.emb.column("embedding").to_pylist(), dtype=np.float64)


def make_corpus(root: str, out: str, seed: int, base_docs: int, doc_factor: int,
                base_vecs: int, emb_factor: int) -> Corpus:
    """Base tables scaled by tools/make_sf.py's own replicators (documents:
    seeded token shuffle + substitutions per replica; embeddings: seeded
    noise per replica), written as ``documents.parquet`` and
    ``embeddings.parquet`` under ``out`` — the layout the registry reads."""
    sf = make_sf_module(root)
    sf_seed = seed % MAKE_SF_SEEDS
    docs = sf.scale_documents(base_documents(seed, base_docs), doc_factor, sf_seed)
    emb = sf.scale_embeddings(base_embeddings(seed, base_vecs), emb_factor, sf_seed)
    os.makedirs(out, exist_ok=True)
    pq.write_table(docs, os.path.join(out, "documents.parquet"))
    pq.write_table(emb, os.path.join(out, "embeddings.parquet"))
    return Corpus(docs, emb, out)


# -- request streams -------------------------------------------------------

@dataclass(frozen=True)
class Request:
    due: float          # seconds after the phase start
    index: str          # route's index name
    body: bytes         # JSON request body
    kind: str           # "ann" or "bm25"


def poisson_due_times(rng, rate: float, n: int) -> list[float]:
    """Due times of ``n`` Poisson arrivals at ``rate`` per second. The count
    is fixed rather than the window, so every seed sends the same mix."""
    return np.cumsum(rng.exponential(1.0 / rate, size=n)).tolist()


def query_vector(rng, vecs: np.ndarray) -> list[float]:
    """A corpus vector plus noise: queries land where the data is."""
    v = vecs[int(rng.integers(len(vecs)))] + rng.normal(0.0, 0.05, DIMS)
    return [round(float(x), 6) for x in v / np.linalg.norm(v)]


def ann_body(vector, flt=None, limit: int = 10) -> bytes:
    import json

    body = {"vector": vector, "limit": limit}
    if flt is not None:
        body["filter"] = {"restrictions": [flt], "allow_filtering": True}
    return json.dumps(body).encode()


def selectivity_filter(kind: str, n_rows: int, rng) -> dict:
    """Wire restriction selecting about 1%, 10% or 50% of the corpus."""
    if kind == "1%":
        return {"<": ["vec_id", max(1, n_rows // 100)]}
    if kind == "10%":
        return {"==": ["label", int(rng.integers(N_LABELS))]}
    start = int(rng.integers(N_LABELS))
    return {"IN": ["label", [(start + j) % N_LABELS for j in range(N_LABELS // 2)]]}


def ann_ram_stream(seed: int, vecs, rate: float, n: int) -> list[Request]:
    """Exact and HNSW indexes behind armed serving caches; a third of the
    requests carry a label restriction."""
    rng = np.random.default_rng([seed, 10])
    out = []
    for i, due in enumerate(poisson_due_times(rng, rate, n)):
        flt = ({"==": ["label", int(rng.integers(N_LABELS))]}
               if i % 3 == 2 else None)
        out.append(Request(due, ("ram_exact", "ram_hnsw")[i % 2],
                           ann_body(query_vector(rng, vecs), flt), "ann"))
    return out


def ann_spark_stream(seed: int, vecs, rate: float, n: int) -> list[Request]:
    """Persisted IVF and LSH; every other request filtered at 1%, 10% or
    50% selectivity in turn."""
    rng = np.random.default_rng([seed, 11])
    out = []
    for i, due in enumerate(poisson_due_times(rng, rate, n)):
        flt = (selectivity_filter(("1%", "10%", "50%")[(i // 2) % 3], len(vecs), rng)
               if i % 2 == 1 else None)
        out.append(Request(due, ("spark_ivf", "spark_lsh")[(i // 2) % 2],
                           ann_body(query_vector(rng, vecs), flt), "ann"))
    return out


def bm25_query(rng) -> str:
    """1-3 distinct terms, drawn Zipf-style (p ∝ 1/rank) over a seeded
    ranking of the vocabulary."""
    ranked = [QUERY_VOCAB[j] for j in rng.permutation(len(QUERY_VOCAB))]
    p = 1.0 / np.arange(1, len(ranked) + 1)
    k = int(rng.integers(1, 4))
    picks = rng.choice(len(ranked), size=k, replace=False, p=p / p.sum())
    return " ".join(ranked[j] for j in picks)


def bm25_stream(seed: int, rate: float, n: int) -> list[Request]:
    import json

    rng = np.random.default_rng([seed, 12])
    return [Request(due, "docs", json.dumps({"query": bm25_query(rng),
                                            "limit": 10}).encode(), "bm25")
            for due in poisson_due_times(rng, rate, n)]


# -- CDC waves -------------------------------------------------------------

@dataclass
class Wave:
    """One CDC micro-batch. ``events`` rows are
    (id, embedding, label, text, ts, seq, op); ``stale`` ids carry an
    older write timestamp than the key's current one and must lose LWW."""
    events: list
    upserted: list = field(default_factory=list)
    inserted: list = field(default_factory=list)
    deleted: list = field(default_factory=list)
    stale: list = field(default_factory=list)


def item_text(rng) -> str:
    k = int(rng.integers(10, 41))
    return " ".join(QUERY_VOCAB[j] for j in rng.integers(len(QUERY_VOCAB), size=k))


def cdc_waves(seed: int, initial_ids, initial_ts: int, n_waves: int,
              upserts: int, inserts: int, deletes: int, stale: int) -> list[Wave]:
    """Waves over a keyspace that starts as ``initial_ids``, all written at
    ``initial_ts``. Write timestamps increase through the waves; a stale
    event reuses a live key untouched in its wave with a timestamp below
    that key's current one."""
    rng = np.random.default_rng([seed, 20])
    live = {int(k): int(initial_ts) for k in initial_ids}
    next_id = max(live) + 1
    ts = int(initial_ts) + 1000
    waves = []
    for _ in range(n_waves):
        keys = sorted(live)
        pick = rng.choice(len(keys), size=upserts + deletes + stale, replace=False)
        chosen = [keys[j] for j in pick]
        up, dele, st = (chosen[:upserts], chosen[upserts:upserts + deletes],
                        chosen[upserts + deletes:])
        ins = list(range(next_id, next_id + inserts))
        next_id += inserts
        w = Wave([], upserted=up, inserted=ins, deleted=dele, stale=st)
        for seq, k in enumerate(up + ins):
            ts += 1
            v = unit_rows(rng.normal(size=(1, DIMS)))[0].astype(np.float32)
            w.events.append((k, [float(x) for x in v], int(rng.integers(N_LABELS)),
                             item_text(rng), ts, seq, "upsert"))
            live[k] = ts
        for k in dele:
            ts += 1
            w.events.append((k, None, None, None, ts, 0, "delete"))
            del live[k]
        for k in st:
            v = unit_rows(rng.normal(size=(1, DIMS)))[0].astype(np.float32)
            w.events.append((k, [float(x) for x in v], int(rng.integers(N_LABELS)),
                             item_text(rng), live[k] - 1 - int(rng.integers(100)),
                             0, "upsert"))
        order = rng.permutation(len(w.events))
        w.events = [w.events[j] for j in order]
        waves.append(w)
    return waves
