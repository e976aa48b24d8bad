"""Tests of the benchmark itself (no Spark session needed):
python3 -m pytest perfbench -q"""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pytest

from perfbench import checks, inputs, stats
from perfbench.loadgen import run_open_loop
from perfbench.trace import Tracer, parse_metric, union_ms

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# -- inputs are a function of the seed ----------------------------------------

def test_same_seed_same_corpus_bytes(tmp_path):
    a = inputs.make_corpus(ROOT, str(tmp_path / "a"), 7, 120, 2, 60, 2)
    b = inputs.make_corpus(ROOT, str(tmp_path / "b"), 7, 120, 2, 60, 2)
    c = inputs.make_corpus(ROOT, str(tmp_path / "c"), 8, 120, 2, 60, 2)
    # past make_sf's 32-bit seed range, and its fold of 8
    big = inputs.make_corpus(ROOT, str(tmp_path / "d"), 8 + inputs.MAKE_SF_SEEDS, 120, 2,
                             60, 2)
    assert big.docs.num_rows == 240 and big.emb.num_rows == 120
    for t in ("documents.parquet", "embeddings.parquet"):
        ba = (tmp_path / "a" / t).read_bytes()
        assert ba == (tmp_path / "b" / t).read_bytes()
        assert ba != (tmp_path / "c" / t).read_bytes()
        assert (tmp_path / "c" / t).read_bytes() != (tmp_path / "d" / t).read_bytes()
    assert a.docs.num_rows == 240 and a.emb.num_rows == 120
    assert a.docs.schema == inputs.DOC_SCHEMA and a.emb.schema == inputs.EMB_SCHEMA
    assert c.docs.num_rows == 240


def test_same_seed_same_requests_and_waves():
    vecs = inputs.unit_rows(np.random.default_rng(0).normal(size=(50, inputs.DIMS)))
    for make in (lambda s: inputs.ann_ram_stream(s, vecs, 50.0, 100),
                 lambda s: inputs.ann_spark_stream(s, vecs, 5.0, 20),
                 lambda s: inputs.bm25_stream(s, 5.0, 20)):
        assert make(3) == make(3)
        assert make(3) != make(4)
    w1 = inputs.cdc_waves(3, range(100), 1000, 3, 5, 3, 2, 2)
    w2 = inputs.cdc_waves(3, range(100), 1000, 3, 5, 3, 2, 2)
    assert [w.events for w in w1] == [w.events for w in w2]
    assert [w.events for w in w1] != [w.events for w in inputs.cdc_waves(
        4, range(100), 1000, 3, 5, 3, 2, 2)]


def test_stale_events_are_older_than_the_live_write():
    waves = inputs.cdc_waves(5, range(50), 1000, 4, 4, 2, 2, 2)
    current = {k: 1000 for k in range(50)}
    for w in waves:
        assert len(w.stale) == 2
        for k, _, _, _, ts, _, op in sorted(w.events, key=lambda e: e[4]):
            if k in w.stale:
                assert ts < current[k]
            else:
                current[k] = ts


# -- the tail rule ------------------------------------------------------------

@pytest.mark.parametrize("n,pct", [(19, None), (20, 50.0), (39, 50.0), (40, 75.0),
                                   (100, 90.0), (199, 90.0), (200, 95.0),
                                   (1000, 99.0), (10000, 99.9)])
def test_tail_needs_ten_samples_beyond(n, pct):
    values = list(np.random.default_rng(n).permutation(n).astype(float))
    got = stats.tail(values)
    if pct is None:
        assert got is None
        return
    assert got[0] == pct
    assert sum(v > got[1] for v in values) >= 10
    higher = [p for p in stats.TAIL_PCTS if p > pct]
    for p in higher:
        assert sum(v > stats.percentile(values, p) for v in values) < 10


def test_percentile_is_nearest_rank():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert stats.percentile(xs, 50) == 3.0
    assert stats.percentile(xs, 100) == 5.0
    assert stats.median([1.0, 2.0, 3.0, 4.0]) == 2.5


# -- open loop ---------------------------------------------------------------

def test_open_loop_counts_latency_from_due_time():
    """A stall in one request delays the ones queued behind it, and their
    latency includes that wait."""
    reqs = [inputs.Request(0.01 * i, "ix", b"{}", "ann") for i in range(6)]
    stalled = reqs[1]

    def send(r):
        if r is stalled:
            time.sleep(0.3)
        return 200, b"{}"

    outs = run_open_loop(reqs, send, clients=1)
    assert outs[0].latency_ms < 100
    assert outs[1].latency_ms >= 290
    for o in outs[2:]:
        assert o.late_ms >= 200 and o.latency_ms >= 200


# -- checkers reject corrupted results ----------------------------------------

def _vectors(n=200, seed=0):
    rng = np.random.default_rng(seed)
    return np.arange(n) * 3, inputs.unit_rows(rng.normal(size=(n, inputs.DIMS)))


def test_exact_checker():
    ids, vecs = _vectors()
    q = vecs[5] + 0.01
    ref_ids, ref_d = checks.brute_force_topk(ids, vecs, q, 10)
    assert checks.check_exact(ref_ids, ref_d, ref_ids, ref_d) == []
    swapped = [ref_ids[1], ref_ids[0], *ref_ids[2:]]
    assert checks.check_exact(swapped, ref_d, ref_ids, ref_d)
    assert checks.check_exact(ref_ids, [d + 1e-6 for d in ref_d], ref_ids, ref_d)
    assert checks.check_exact(ref_ids[:9], ref_d[:9], ref_ids, ref_d)


def test_restriction_mask_and_recall():
    ids, vecs = _vectors()
    labels = ids % 10
    m = checks.restriction_mask({"==": ["label", 3]}, ids, labels)
    assert set(ids[m] % 10) == {3}
    m = checks.restriction_mask({"<": ["vec_id", 30]}, ids, labels)
    assert list(ids[m]) == list(range(0, 30, 3))
    m = checks.restriction_mask({"IN": ["label", [1, 2]]}, ids, labels)
    assert set(ids[m] % 10) == {1, 2}
    assert checks.recall([1, 2, 3], [1, 2, 4, 5]) == 0.5


def test_bm25_checker():
    docs = {i: t for i, t in enumerate(
        ["spark spark join", "join table", "spark table window", "window",
         "the spark"])}
    ref = checks.Bm25Reference(docs).scores("spark window")
    top = sorted(ref.items(), key=lambda kv: (-kv[1], kv[0]))[:2]
    ids, scores = [d for d, _ in top], [s for _, s in top]
    assert checks.check_bm25(ids, scores, ref, 2) == []
    assert checks.check_bm25(ids, [scores[0] * 1.01, scores[1]], ref, 2)
    assert checks.check_bm25(ids[::-1], scores[::-1], ref, 2)
    worst = min(ref, key=ref.get)
    assert checks.check_bm25([ids[0], worst], [scores[0], ref[worst]], ref, 2)


def test_lww_replay_and_snapshot_checker():
    vec = [0.5] * 4
    initial = {1: (vec, 1, "a"), 2: (vec, 2, "b")}
    waves = [inputs.Wave([(1, [1.0] * 4, 5, "new", 20, 0, "upsert"),
                          (2, None, None, None, 21, 0, "delete"),
                          (1, [9.0] * 4, 9, "stale", 5, 0, "upsert"),
                          (3, vec, 3, "c", 22, 0, "upsert")])]
    expected = checks.lww_replay(initial, 10, waves)
    assert expected == {1: ([1.0] * 4, 5, "new"), 3: (vec, 3, "c")}
    assert checks.check_snapshot(dict(expected), expected) == []
    assert checks.check_snapshot({**expected, 2: (vec, 2, "b")}, expected)
    assert checks.check_snapshot({**expected, 1: ([9.0] * 4, 9, "stale")}, expected)
    assert checks.check_snapshot({1: expected[1]}, expected)


def test_oracle_comparison_rejects_changed_values():
    import pyarrow as pa

    cc = checks.correctness_module(ROOT)
    schema = pa.schema([("k", pa.int64()), ("v", pa.float64())])
    rows = [(1, 0.5), (2, 0.25)]
    dtypes = [("k", "bigint"), ("v", "double")]
    assert checks.compare_with_oracle(cc, ["k", "v"], dtypes, rows, ["v", "k"], schema,
                                      [(0.25, 2), (0.5, 1)]) == []
    assert checks.compare_with_oracle(cc, ["k", "v"], dtypes, rows, ["k", "v"], schema,
                                      [(1, 0.5), (2, 0.26)])
    assert checks.compare_with_oracle(cc, ["k", "v"], dtypes, rows[:1], ["k", "v"],
                                      schema, rows)


def test_drop_list_reference():
    docs = {i: (f"src{i % 2}", 10 * i) for i in range(8)}
    got = sorted(checks.drop_list_reference([(1, 3), (3, 5), (6, 7)], docs))
    # components {1,3,5} keeps 1, {6,7} keeps 6
    assert got == [("src1", 3, 30 + 50 + 70)]
    assert sorted(checks.drop_list_reference([(1, 3)], docs)) != got


def test_minhash_reference_matches_its_oracle(tmp_path):
    """The Python MinHash pipeline the benchmark checks dedup_minhash_lsh
    with returns the registry oracle's rows, and rejects a dropped pair."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from vector_store_spark.functions.hashing import minhash_coeffs
    from vector_store_spark.functions.text import ENGLISH_STOPWORDS
    from vector_store_spark.queries_dedup import _BANDS, _NH, _R
    from vector_store_spark.registry import ROUND, all_queries

    rng = np.random.default_rng(3)
    texts = [" ".join(rng.choice(inputs.VOCAB, size=int(rng.integers(12, 40))))
             for _ in range(60)]
    for i in range(0, 30, 3):      # near-duplicates: one word changed or added
        toks = texts[i].split(" ")
        toks[-1 if i % 2 else 0] = "dup"
        texts.append(" ".join(toks))
    texts.append(texts[4] + " Extra")
    path = str(tmp_path / "documents.parquet")
    pq.write_table(pa.table({"doc_id": pa.array(range(len(texts)), pa.int64()),
                             "text": texts}), path)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
    oracle = sorted(con.execute(all_queries()["dedup_minhash_lsh"].oracle).fetchall())
    con.close()
    ref = checks.minhash_pairs_reference(dict(enumerate(texts)), minhash_coeffs(_NH),
                                         _BANDS, _R, 0.8, ROUND, set(ENGLISH_STOPWORDS))
    assert len(oracle) >= 5
    assert checks.same_pairs(ref, oracle)
    assert not checks.same_pairs(ref[1:], oracle)
    assert not checks.same_pairs([(a, b, j + 1e-3) for a, b, j in ref], oracle)


def test_pair_recall():
    ids, vecs = _vectors(20)
    vecs[1] = vecs[0] + 0.01
    found = [(int(ids[0]), int(ids[1]))]
    assert checks.pair_recall(found, vecs, ids, 0.99) == 1.0
    assert checks.pair_recall([], vecs, ids, 0.99) == 0.0


# -- tracing ----------------------------------------------------------------

def test_self_times_sum_to_wall():
    tr = Tracer()
    with tr.span("op", rid=1) as op:
        with tr.span("a") as a:
            time.sleep(0.01)
            with tr.span("b"):
                time.sleep(0.01)
        time.sleep(0.005)
    tr.add("c", a["end"], a["end"] + 0.002, op["id"])
    selfs = tr.layer_self_times(op["id"])
    assert set(selfs) == {"op", "a", "b", "c"}
    assert sum(selfs.values()) == pytest.approx(op["end"] - op["start"], abs=1e-9)
    assert all(s["rid"] == 1 for s in tr.spans)


def test_metric_parsing_and_intervals():
    assert parse_metric("total (min, med, max (stageId: taskId))\n1.5 KiB (1 B, 2 B, 3 B)") == 1536
    assert parse_metric("total (min, med, max)\n2.0 s (1 ms, 2 ms, 3 ms)") == 2000.0
    assert parse_metric("120 ms") == 120.0
    assert parse_metric("4,096") == 4096.0
    assert union_ms([(0, 10), (5, 20), (30, 40)]) == 30.0


def test_benchmark_json_matches_the_runner():
    import perfbench.run as run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
    assert [(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]] == [
        tuple(m) for m in run.END_TO_END]
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == [
        tuple(m) for m in run.PER_LAYER]
