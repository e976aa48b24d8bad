"""F6–F8/T3 FTS behaviors — the FIXTURES.md F7 matrix, pinned to the
reference's validator (crates/validator/src/fts.rs:226-541)."""

import math

import pytest


def test_incremental_crud_visibility(spark):
    """validator fts.rs CRUD semantics: added docs become searchable, removed
    docs disappear, updates replace — via incremental index maintenance."""
    from vector_store_spark.operators.bm25 import (
        bm25_search, build_fts_index, update_fts_index,
    )

    docs = spark.createDataFrame(
        [(1, "spark engine fast"), (2, "slow disk engine")], ["doc_id", "text"]
    )
    ix = build_fts_index(docs, "doc_id", "text")
    assert {r.doc_id for r in bm25_search(ix, "engine", 10).collect()} == {1, 2}

    # add a doc; update doc 2; remove doc 1
    ix2 = update_fts_index(
        ix,
        docs_added=spark.createDataFrame(
            [(3, "engine of the future"), (2, "rewritten text only")],
            ["doc_id", "text"],
        ),
        doc_ids_removed=[1],
    )
    assert {r.doc_id for r in bm25_search(ix2, "engine", 10).collect()} == {3}
    assert {r.doc_id for r in bm25_search(ix2, "rewritten", 10).collect()} == {2}
    assert ix2.n_docs == 2
    # original index untouched (immutable snapshots)
    assert {r.doc_id for r in bm25_search(ix, "engine", 10).collect()} == {1, 2}


def test_empty_corpus_and_missing_term(spark):
    from vector_store_spark.operators.bm25 import bm25_search, build_fts_index

    docs = spark.createDataFrame([(1, "hello world")], ["doc_id", "text"])
    ix = build_fts_index(docs, "doc_id", "text")
    assert bm25_search(ix, "nonexistent", 10).collect() == []  # empty, no error


def test_fts_engine_lifecycle(spark):
    """/bm25 endpoint lifecycle: 404 unknown, 503 while building (with
    progress), results once Serving (httproutes.rs:975-1052)."""
    from vector_store_spark.engine import FtsEngine
    from vector_store_spark.operators.bm25 import build_fts_index
    from vector_store_spark.plans.catalog import NotServingError
    from vector_store_spark.types import IndexKind, IndexMetadata, IndexState, IndexStatus

    docs = spark.createDataFrame([(1, "spark engine"), (2, "other text")],
                                 ["doc_id", "text"])
    ix = build_fts_index(docs, "doc_id", "text")
    meta = IndexMetadata(
        keyspace="ks", index="fts1", table="t", primary_key_columns=("doc_id",),
        partition_key_count=1, target_column="text", kind=IndexKind.FTS,
    )
    eng = FtsEngine()
    with pytest.raises(KeyError):
        eng.bm25("nope", "spark")
    eng.register("fts1", ix, IndexState(meta, IndexStatus.FULL_SCANNING, 37.0))
    with pytest.raises(NotServingError) as ei:
        eng.bm25("fts1", "spark")
    assert ei.value.progress_pct == 37.0
    eng.register("fts1", ix, IndexState(meta, IndexStatus.SERVING))
    out = eng.bm25("fts1", "spark", limit=5)
    assert out.primary_keys["doc_id"] == [1] and len(out.scores) == 1


def test_empty_index_ann_topk(spark):
    # vs_index.rs:1893-1923: searching an empty index returns empty, not error
    from vector_store_spark.operators.topk import ann_topk

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert ann_topk(empty, "embedding", [1.0, 0.0], 5, tie_break=["vec_id"]).collect() == []

from vector_store_spark.operators.bm25 import Bm25Executor, bm25_search, build_fts_index
from vector_store_spark.plans.fts_query import (
    AndNode, NotNode, OrNode, PhraseNode, QueryParseError, TermNode, parse_query,
)

CORPUS = [
    (1, "Spark makes fast queries fast"),
    (2, "the slow query of doom"),
    (3, "spark spark spark everywhere"),
    (4, "an out-of-memory error in the executor"),
    (5, "fast executor, slow driver"),
    (6, "exact phrase matching is fun"),
    (7, "matching phrase exact order differs"),
    (8, "completely unrelated words here"),
]


@pytest.fixture(scope="module")
def index(spark):
    docs = spark.createDataFrame(CORPUS, "doc_id int, body string")
    return build_fts_index(docs, "doc_id", "body")


def ids(df):
    return [r.doc_id for r in df.collect()]


# --- parser ---------------------------------------------------------------

def test_parse_shapes():
    assert parse_query("spark") == TermNode("spark")
    assert parse_query("Spark AND fast") == AndNode(TermNode("spark"), TermNode("fast"))
    assert parse_query('"exact phrase"') == PhraseNode(("exact", "phrase"))
    q = parse_query("(spark OR slow) AND executor")
    assert isinstance(q, AndNode) and isinstance(q.left, OrNode)
    assert parse_query("spark NOT slow") == NotNode(TermNode("spark"), TermNode("slow"))


def test_parse_errors():
    with pytest.raises(QueryParseError):
        parse_query("")
    with pytest.raises(QueryParseError):
        parse_query("the of and")  # all stop-words
    with pytest.raises(QueryParseError):
        parse_query("(spark")


def test_hyphenated_token_becomes_phrase():
    assert parse_query("out-of-memory") == PhraseNode(("out", "memory"))


# --- search behaviors (fts.rs golden behaviors) ----------------------------

def test_single_term_and_case_insensitivity(index):
    got = ids(bm25_search(index, "SPARK", 10))
    assert set(got) == {1, 3}
    # doc 3 has tf=3 and shorter length ⇒ ranks first
    assert got[0] == 3


def test_relevance_ordering_by_tf(index):
    got = bm25_search(index, "fast", 10).collect()
    assert [r.doc_id for r in got] == [1, 5]  # tf=2 beats tf=1
    scores = [r.score for r in got]
    assert scores == sorted(scores, reverse=True)


def test_boolean_and_or_not(index):
    assert set(ids(bm25_search(index, "fast AND slow", 10))) == {5}
    assert set(ids(bm25_search(index, "fast OR slow", 10))) == {1, 2, 5}
    assert set(ids(bm25_search(index, "fast AND NOT slow", 10))) == {1}
    assert set(ids(bm25_search(index, "(exact OR unrelated) AND words", 10))) == {8}


def test_bare_adjacency_is_or(index):
    assert set(ids(bm25_search(index, "fast slow", 10))) == {1, 2, 5}


def test_phrase_query(index):
    assert ids(bm25_search(index, '"exact phrase"', 10)) == [6]  # not 7 (order differs)
    assert ids(bm25_search(index, '"phrase exact"', 10)) == [7]


def test_phrase_across_stopwords(index):
    # "out-of-memory": stop-word 'of' removed by both analyzers ⇒ consecutive
    assert ids(bm25_search(index, '"out of memory"', 10)) == [4]
    assert ids(bm25_search(index, "out-of-memory", 10)) == [4]


def test_stopwords_not_indexed(index):
    with pytest.raises(QueryParseError):
        parse_query("the")
    # 'the' appears in docs 2 and 4 but is not in the postings
    assert index.postings.where("term = 'the'").count() == 0


def test_nonexistent_term_empty(index):
    assert ids(bm25_search(index, "zzzzz", 10)) == []


def test_limit_enforced(index):
    assert len(ids(bm25_search(index, "spark OR fast OR slow OR words", 2))) == 2


def test_bm25_score_formula(index):
    # hand-check one score: term 'doom' appears only in doc 2
    row = Bm25Executor(index)._term_scores("doom").collect()[0]
    N, df, tf = index.n_docs, 1, 1
    dl = index.doclens.where("doc_id = 2").first().dl
    idf = math.log(1 + (N - df + 0.5) / (df + 0.5))
    tfn = tf * 2.2 / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / index.avgdl))
    assert row.score == pytest.approx(idf * tfn, rel=1e-12)


def test_index_stats(index):
    s = index.stats()
    assert s["num_docs"] == 8 and s["avgdl"] > 0


def test_persisted_fts_prunes_term_bucket(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from vector_store_spark.operators.bm25 import (
        build_fts_index,
        persisted_term_postings,
        read_fts_index,
        write_fts_index,
    )
    from vector_store_spark.sources.index_store import prune_report

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ix = build_fts_index(docs, "doc_id", "text")
    path = str(tmp_path / "fts_ix")
    write_fts_index(ix, path)
    p = persisted_term_postings(spark, path, "table")
    rep = prune_report(p)
    assert any("term_bucket" in f for f in rep["partition_filters"])
    # round-trip: loaded index equals in-memory postings for the term
    mem = {r.doc_id: r.tf for r in ix.postings.where(F.col("term") == "table").collect()}
    got = {r.doc_id: r.tf for r in p.collect()}
    assert got == mem and len(got) > 0
    loaded = read_fts_index(spark, path)
    assert loaded.n_docs == ix.n_docs and abs(loaded.avgdl - ix.avgdl) < 1e-12


def test_persisted_executor_prunes_every_query_shape(spark, sf_dir, tmp_path):
    """Bm25Executor over a READ persisted index composes term_bucket pruning
    into every term lookup, so boolean/phrase queries — not just single terms
    — scan only the matching directories, and results equal the in-memory
    index bit-for-bit."""
    from pyspark.sql import functions as F

    from vector_store_spark.operators.bm25 import (
        bm25_search,
        build_fts_index,
        read_fts_index,
        write_fts_index,
    )
    from vector_store_spark.sources.index_store import prune_report

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ix = build_fts_index(docs, "doc_id", "text")
    path = str(tmp_path / "fts_ix2")
    write_fts_index(ix, path)
    loaded = read_fts_index(spark, path)
    for q in ("table AND hash", '"table hash"', "(vector OR batch) AND NOT slow"):
        got = bm25_search(loaded, q, 10, round_to=9)
        mem = bm25_search(ix, q, 10, round_to=9)
        assert [tuple(r) for r in got.collect()] == [tuple(r) for r in mem.collect()]
        rep = prune_report(got)
        assert any("term_bucket" in f for f in rep["partition_filters"]), q


def test_read_fts_index_without_catalog_entry(spark, sf_dir, tmp_path):
    """A fresh session loses the session-scoped saveAsTable metadata; the
    reader must fall back to the bucket data files and serve identical
    values."""
    from vector_store_spark.operators.bm25 import (
        _doclens_table,
        bm25_search,
        build_fts_index,
        read_fts_index,
        write_fts_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ix = build_fts_index(docs, "doc_id", "text")
    path = str(tmp_path / "fts_ix3")
    write_fts_index(ix, path)
    spark.sql(f"DROP TABLE IF EXISTS {_doclens_table(path)}")  # simulate new session
    loaded = read_fts_index(spark, path)
    got = bm25_search(loaded, "vector", 10, round_to=9)
    mem = bm25_search(ix, "vector", 10, round_to=9)
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in mem.collect()]


def test_py_xxhash64_matches_spark(spark):
    """functions/hashing is a bit-exact driver-side twin of F.xxhash64 over
    strings (every tail-length path 0..40 bytes + multi-byte UTF-8), so
    term-bucket resolution never needs a Spark job."""
    from pyspark.sql import functions as F

    from vector_store_spark.functions.hashing import term_bucket, xxhash64_str

    cases = (
        ["", "a", "ab", "abc", "abcd", "abcde", "vector", "naïve", "日本語テキスト",
         "off-heap", "ключ", "emoji😀tail"]
        + ["x" * n for n in range(1, 41)]
    )
    rows = spark.createDataFrame([(c,) for c in cases], "s string").select(
        "s", F.xxhash64("s").alias("h"),
        F.pmod(F.xxhash64("s"), F.lit(32)).cast("int").alias("b"),
    ).collect()
    for r in rows:
        assert xxhash64_str(r.s) == r.h, r.s
        assert term_bucket(r.s, 32) == r.b, r.s


def test_executor_plan_construction_launches_no_jobs(spark, sf_dir, tmp_path):
    """Bm25Executor.execute must be pure plan construction: zero Spark jobs
    before an action on the result (the round-5 review's last
    eager-action-in-compile, the per-term bucket lookup, is gone)."""
    from vector_store_spark.operators.bm25 import (
        Bm25Executor, build_fts_index, read_fts_index, write_fts_index,
    )
    from vector_store_spark.plans.fts_query import parse_query

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    path = str(tmp_path / "fts_lazy")
    write_fts_index(build_fts_index(docs, "doc_id", "text"), path)
    loaded = read_fts_index(spark, path)
    # force the stats/df_by_term caches eagerly so compile-time is isolated
    loaded.df_by_term.count()

    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    ex = Bm25Executor(loaded)
    for q in ("vector", "table AND hash", '"table hash"',
              "(vector OR batch) AND NOT slow"):
        ex.execute(parse_query(q))
    after = tracker.getJobIdsForGroup(None)
    assert before == after, "plan construction launched Spark jobs"


def test_write_fts_index_idempotent(spark, sf_dir, tmp_path):
    """Persisting twice to the same path must succeed (DROP TABLE leaves the
    external doclens files; the writer clears the location) and serve the
    same results."""
    from vector_store_spark.operators.bm25 import (
        bm25_search, build_fts_index, read_fts_index, write_fts_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ix = build_fts_index(docs, "doc_id", "text")
    path = str(tmp_path / "fts_rewrite")
    write_fts_index(ix, path)
    write_fts_index(ix, path)  # rewrite of the same path
    loaded = read_fts_index(spark, path)
    got = bm25_search(loaded, "vector", 10, round_to=9)
    mem = bm25_search(ix, "vector", 10, round_to=9)
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in mem.collect()]


def test_persisted_stats_sidecar(spark, sf_dir, tmp_path):
    """write_fts_index commits the corpus stats WITH the layout (manifest +
    vocab-sized df_by_term parquet), so read_fts_index serves without an
    O(corpus) re-aggregation of postings/doclens — and the stats are
    identical to the build's."""
    import os

    from vector_store_spark.operators.bm25 import (
        bm25_search, build_fts_index, read_fts_index, write_fts_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ix = build_fts_index(docs, "doc_id", "text")
    path = str(tmp_path / "fts_meta_ix")
    write_fts_index(ix, path)
    log = os.path.join(path, "_fts_log")
    assert [n for n in os.listdir(log) if n.endswith(".json")], os.listdir(log)
    assert os.path.isdir(os.path.join(path, "df_by_term"))
    loaded = read_fts_index(spark, path)
    assert loaded.n_docs == ix.n_docs
    assert abs(loaded.avgdl - ix.avgdl) < 1e-12
    mem_df = {r.term: r.df for r in ix.df_by_term.collect()}
    got_df = {r.term: r.df for r in loaded.df_by_term.collect()}
    assert got_df == mem_df
    got = bm25_search(loaded, "table AND hash", 10, round_to=9)
    mem = bm25_search(ix, "table AND hash", 10, round_to=9)
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in mem.collect()]
