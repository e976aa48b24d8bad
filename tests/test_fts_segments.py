"""Multi-wave FTS maintenance: segment commits, compaction and crash safety.

Every wave's in-memory index and its persisted read-back must equal a clean
``build_fts_index`` over the live documents: same N, avgdl and per-term df,
and bit-identical BM25 top-10 for every query shape."""

import random

import pytest

VOCAB = ["vector", "index", "table", "hash", "spark", "batch", "slow", "fast",
         "query", "engine", "disk", "graph", "token", "score", "merge", "shard"]
QUERIES = ["vector", "table AND hash", "(vector OR batch) AND NOT slow", '"table hash"']


def _text(rng: random.Random) -> str:
    return " ".join(rng.choice(VOCAB) for _ in range(rng.randint(4, 14)))


def _docs(spark, rows: dict):
    return spark.createDataFrame(sorted(rows.items()), "doc_id long, text string")


def _waves(seed: int = 7):
    """Five waves of (upserts, inserts, deletes) over ids 0..99, 11
    tombstones each, so that with COMPACT_FRACTION 0.25 of the 100-doc base
    only wave 3 compacts; wave 4 re-inserts an id that wave 2 deleted."""
    rng = random.Random(seed)
    live = {i: _text(rng) for i in range(100)}
    base = dict(live)
    waves, next_id = [], 100
    for w in range(5):
        ids = sorted(live)
        upserts = {k: _text(rng) for k in rng.sample(ids, 6)}
        inserts = {next_id + j: _text(rng) for j in range(3)}
        next_id += 3
        deletes = rng.sample([k for k in ids if k not in upserts], 2)
        if w == 3:
            inserts[waves[1][1][0]] = _text(rng)  # re-insert a deleted id
        added = {**upserts, **inserts}
        waves.append((added, deletes))
        for k in deletes:
            live.pop(k)
        live.update(added)
    return base, waves


def _answers(ix) -> dict:
    """Everything a clean rebuild must agree on: stats, per-term df and the
    top-10 of every query shape."""
    from vector_store_spark.operators.bm25 import bm25_search

    return {"n_docs": ix.n_docs, "avgdl": ix.avgdl,
            "df": {r.term: r.df for r in ix.df_by_term.collect()},
            **{q: bm25_search(ix, q, 10).collect() for q in QUERIES}}


def _assert_same(ix, ref):
    want = ref if isinstance(ref, dict) else _answers(ref)
    assert _answers(ix) == want


def _jobs(spark) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


def test_waves_match_clean_rebuild(spark, tmp_path):
    from vector_store_spark.operators.bm25 import (
        build_fts_index, read_fts_index, update_fts_index, write_fts_index,
    )

    base, waves = _waves()
    path = str(tmp_path / "fts")
    live = dict(base)
    ix = build_fts_index(_docs(spark, live), "doc_id", "text")
    write_fts_index(ix, path)
    jobs, compacted = [], []
    for added, deletes in waves:
        before = _jobs(spark)
        ix = update_fts_index(ix, docs_added=_docs(spark, added), doc_ids_removed=deletes)
        write_fts_index(ix, path)
        jobs.append(_jobs(spark) - before)
        compacted.append(not ix.segments)
        for k in deletes:
            live.pop(k)
        live.update(added)
        ref = _answers(build_fts_index(_docs(spark, live), "doc_id", "text"))
        _assert_same(ix, ref)
        _assert_same(read_fts_index(spark, path), ref)
    assert compacted == [False, False, True, False, False], compacted
    assert jobs[4] <= jobs[1], jobs


def test_delete_only_waves_compact(spark, tmp_path):
    """Removals alone count toward compaction: waves that only delete add
    segments of tombstones until they outnumber COMPACT_FRACTION of the
    base, and the next one folds them (and the deleted docs) into a fresh
    base."""
    from vector_store_spark.operators.bm25 import (
        COMPACT_FRACTION, build_fts_index, read_fts_index, update_fts_index,
        write_fts_index,
    )

    base, _ = _waves(13)
    path = str(tmp_path / "fts")
    live = dict(base)
    ix = build_fts_index(_docs(spark, live), "doc_id", "text")
    write_fts_index(ix, path)
    per_wave = 8
    compacted = []
    for w in range(4):
        gone = sorted(live)[:per_wave]
        ix = update_fts_index(ix, doc_ids_removed=gone)
        write_fts_index(ix, path)
        compacted.append(not ix.segments)
        for k in gone:
            live.pop(k)
        if w >= 2:  # three delete-only segments, then the compacted base
            ref = _answers(build_fts_index(_docs(spark, live), "doc_id", "text"))
            _assert_same(ix, ref)
            _assert_same(read_fts_index(spark, path), ref)
    assert (w + 1) * per_wave > COMPACT_FRACTION * len(base) >= w * per_wave
    assert compacted == [False, False, False, True], compacted
    assert update_fts_index(ix, doc_ids_removed=[]) is ix


def test_update_of_read_index_appends_segment(spark, tmp_path):
    """An index read back from its path and updated is written as a segment
    of that generation, not a full rewrite."""
    from vector_store_spark.operators.bm25 import (
        build_fts_index, read_fts_index, update_fts_index, write_fts_index,
    )

    base, waves = _waves(11)
    path = str(tmp_path / "fts")
    write_fts_index(build_fts_index(_docs(spark, base), "doc_id", "text"), path)
    added, deletes = waves[0]
    ix = update_fts_index(read_fts_index(spark, path), docs_added=_docs(spark, added),
                          doc_ids_removed=deletes)
    assert len(ix.segments) == 1
    write_fts_index(ix, path)
    loaded = read_fts_index(spark, path)
    assert len(loaded.segments) == 1
    live = {k: v for k, v in base.items() if k not in deletes}
    live.update(added)
    ref = _answers(build_fts_index(_docs(spark, live), "doc_id", "text"))
    _assert_same(ix, ref)
    _assert_same(loaded, ref)


def test_crash_before_manifest_rename_serves_previous_generation(
        spark, tmp_path, monkeypatch):
    from vector_store_spark.operators import bm25
    from vector_store_spark.operators.bm25 import (
        build_fts_index, read_fts_index, update_fts_index, write_fts_index,
    )

    base, waves = _waves(3)
    path = str(tmp_path / "fts")
    live = dict(base)
    ix = build_fts_index(_docs(spark, live), "doc_id", "text")
    write_fts_index(ix, path)
    added, deletes = waves[0]
    ix = update_fts_index(ix, docs_added=_docs(spark, added), doc_ids_removed=deletes)
    write_fts_index(ix, path)  # generation 2: one live segment
    for k in deletes:
        live.pop(k)
    live.update(added)
    prev = build_fts_index(_docs(spark, live), "doc_id", "text")

    added, deletes = waves[1]
    nxt = update_fts_index(ix, docs_added=_docs(spark, added), doc_ids_removed=deletes)
    real_rename = bm25.HadoopDir.rename

    def crash(self, src, dst):
        if src[0] == bm25._LOG:
            raise OSError("injected crash before the manifest rename")
        return real_rename(self, src, dst)

    monkeypatch.setattr(bm25.HadoopDir, "rename", crash)
    with pytest.raises(OSError, match="injected"):
        write_fts_index(nxt, path)
    monkeypatch.undo()
    store = bm25.HadoopDir(spark, path)
    # the segment files were written, but no committed manifest names them
    assert nxt.segments[-1].id in store.ls(bm25._SEGMENTS)
    _assert_same(read_fts_index(spark, path), prev)

    write_fts_index(nxt, path)
    _, manifest = bm25._latest_manifest(store)
    assert sorted(store.ls(bm25._SEGMENTS)) == sorted(s["id"] for s in manifest["segments"])
    assert not [n for n in store.ls(bm25._LOG) if n.endswith(".tmp")]
    for k in deletes:
        live.pop(k)
    live.update(added)
    _assert_same(read_fts_index(spark, path),
                 build_fts_index(_docs(spark, live), "doc_id", "text"))


def test_live_segments_keep_term_bucket_pruning(spark, tmp_path):
    """persisted_term_postings and every executor query shape prune to the
    term's bucket directory in the base AND in each live segment."""
    from pyspark.sql import functions as F

    from vector_store_spark.operators.bm25 import (
        bm25_search, build_fts_index, persisted_term_postings, read_fts_index,
        update_fts_index, write_fts_index,
    )
    from vector_store_spark.sources.index_store import prune_report

    base, waves = _waves(5)
    path = str(tmp_path / "fts")
    live = dict(base)
    ix = build_fts_index(_docs(spark, live), "doc_id", "text")
    write_fts_index(ix, path)
    for added, deletes in waves[:2]:
        ix = update_fts_index(ix, docs_added=_docs(spark, added), doc_ids_removed=deletes)
        write_fts_index(ix, path)
        for k in deletes:
            live.pop(k)
        live.update(added)
    loaded = read_fts_index(spark, path)
    assert len(loaded.segments) == 2
    ref = build_fts_index(_docs(spark, live), "doc_id", "text")

    p = persisted_term_postings(spark, path, "table")
    rep = prune_report(p)
    # one scan each of the base and the two segments, all pruned to the bucket
    assert len(rep["partition_filters"]) == 3, rep["plan"]
    assert all("term_bucket" in f for f in rep["partition_filters"])
    want = {r.doc_id: r.tf for r in ref.postings.where(F.col("term") == "table").collect()}
    assert {r.doc_id: r.tf for r in p.collect()} == want and want

    for q in ("table AND hash", '"table hash"', "(vector OR batch) AND NOT slow"):
        got = bm25_search(loaded, q, 10)
        assert got.collect() == bm25_search(ref, q, 10).collect(), q
        rep = prune_report(got)
        postings_scans = [f for f in rep["partition_filters"] if "term_bucket" in f]
        assert len(postings_scans) >= 3, q
