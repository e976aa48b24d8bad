"""FTS / BM25 registry entries (SURVEY.md §2.7 F6–F8, §2.5 T3) over the
driver's documents table, each paired with a full DuckDB re-derivation of the
postings + Lucene-BM25 math.
"""

from __future__ import annotations

from vector_store_spark.functions.text import tokenize_sql
from vector_store_spark.operators.bm25 import bm25_search, build_fts_index
from vector_store_spark.registry import ROUND, load, register

# Shared oracle CTEs: tokenizer → doclens → postings(+0-based positions) → stats
_BASE_CTES = f"""
toks AS (
  SELECT doc_id, {tokenize_sql('text')} AS toks FROM documents
),
doclens AS (SELECT doc_id, len(toks) AS dl FROM toks),
flat AS (
  SELECT doc_id, unnest(toks) AS term, unnest(range(0, len(toks))) AS pos FROM toks
),
postings AS (
  SELECT doc_id, term, count(*)::DOUBLE AS tf, list(pos ORDER BY pos) AS positions
  FROM flat GROUP BY doc_id, term
),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl)::DOUBLE AS avgdl FROM doclens),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM postings GROUP BY term),
term_scores AS (
  SELECT p.term, p.doc_id,
         ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5)) *
         (p.tf * 2.2) / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / s.avgdl)) AS score
  FROM postings p
  JOIN dfreq d USING (term)
  JOIN doclens dl USING (doc_id)
  CROSS JOIN stats s
)
"""


# The index is a standing artifact queried many times (the reference builds
# once, serves queries against the committed reader); memoize per corpus so
# bench measures query latency, not repeated rebuilds.
_INDEX_CACHE: dict[str, "object"] = {}


def _index(spark, sf_dir):
    key = f"{spark.sparkContext.applicationId}:{sf_dir}"
    ix = _INDEX_CACHE.get(key)
    if ix is not None and not ix.postings.storageLevel.useMemory:
        # self-heal after spark.catalog.clearCache(): the memoized FtsIndex
        # outlives the cache-manager entries backing its frames, so serving
        # from it would silently re-tokenize the whole corpus on EVERY query
        # — the r13 "bm25_term scales 4.14x" extras artifact was exactly
        # this (post-clearCache reps each paid a full rebuild). Rebuild once
        # and re-memoize; steady-state serve is corpus-flat again.
        ix = None
    if ix is None:
        ix = build_fts_index(load(spark, sf_dir, "documents"), "doc_id", "text")
        _INDEX_CACHE[key] = ix
    return ix


def _index_build_plan(spark, sf_dir):
    """The corpus-side pipeline of the in-memory index (tokenize + postings
    aggregation over the documents scan). build_fts_index pins its input,
    so the entries' returned plans read that checkpoint instead of the
    file scan; the plan audit checks the scan-side work here."""
    from vector_store_spark.operators.bm25 import _copartition, _postings_frame

    return _copartition(_postings_frame(load(spark, sf_dir, "documents"), "doc_id", "text"))


@register(
    "bm25_term",
    f"""
WITH {_BASE_CTES}
SELECT doc_id, round(score, {ROUND}) AS score
FROM term_scores WHERE term = 'vector'
ORDER BY score DESC, doc_id LIMIT 10
""",
    "T3/F8: single-term BM25 top-k, Lucene-compatible scoring (tantivy.rs:272-274)",
    internal_plan_fn=_index_build_plan,
)
def bm25_term(spark, sf_dir):
    return bm25_search(_index(spark, sf_dir), "vector", 10, round_to=ROUND)


@register(
    "bm25_and",
    f"""
WITH {_BASE_CTES}
SELECT a.doc_id, round(a.score + b.score + c.score, {ROUND}) AS score
FROM (SELECT doc_id, score FROM term_scores WHERE term = 'table') a
JOIN (SELECT doc_id, score FROM term_scores WHERE term = 'hash') b USING (doc_id)
JOIN (SELECT doc_id, score FROM term_scores WHERE term = 'join') c USING (doc_id)
ORDER BY score DESC, doc_id LIMIT 10
""",
    "F7: boolean AND — intersection, sum of clause scores",
    internal_plan_fn=_index_build_plan,
)
def bm25_and(spark, sf_dir):
    return bm25_search(_index(spark, sf_dir), "table AND hash AND join", 10, round_to=ROUND)


@register(
    "bm25_or_not",
    f"""
WITH {_BASE_CTES}
SELECT doc_id, round(sum(score), {ROUND}) AS score
FROM term_scores
WHERE term IN ('vector', 'batch')
  AND doc_id NOT IN (SELECT doc_id FROM postings WHERE term = 'slow')
GROUP BY doc_id
ORDER BY score DESC, doc_id LIMIT 10
""",
    "F7: (a OR b) AND NOT c — union-sum scoring with anti-join exclusion",
    internal_plan_fn=_index_build_plan,
)
def bm25_or_not(spark, sf_dir):
    return bm25_search(_index(spark, sf_dir), "(vector OR batch) AND NOT slow", 10, round_to=ROUND)


@register(
    "bm25_phrase",
    f"""
WITH {_BASE_CTES},
cand AS (
  SELECT a.doc_id,
         len(list_filter(a.positions, p -> list_contains(b.positions, p + 1)))::DOUBLE AS tf
  FROM (SELECT doc_id, positions FROM postings WHERE term = 'table') a
  JOIN (SELECT doc_id, positions FROM postings WHERE term = 'hash') b USING (doc_id)
),
sum_idf AS (
  SELECT sum(ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))) AS v
  FROM dfreq d CROSS JOIN stats s WHERE d.term IN ('table', 'hash')
)
SELECT c.doc_id,
       round(si.v * (c.tf * 2.2) / (c.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / s.avgdl)), {ROUND}) AS score
FROM cand c
JOIN doclens dl USING (doc_id)
CROSS JOIN stats s CROSS JOIN sum_idf si
WHERE c.tf > 0
ORDER BY score DESC, doc_id LIMIT 10
""",
    'F7: "exact phrase" — positional alignment, Lucene PhraseQuery scoring',
    internal_plan_fn=_index_build_plan,
)
def bm25_phrase(spark, sf_dir):
    return bm25_search(_index(spark, sf_dir), '"table hash"', 10, round_to=ROUND)


@register(
    "bm25_sql_topk",
    f"""
WITH {_BASE_CTES}
SELECT doc_id, round(score, {ROUND}) AS score
FROM term_scores WHERE term = 'vector'
ORDER BY score DESC, doc_id LIMIT 10
""",
    "The /bm25 experience as plain Spark SQL: index views + an inlined "
    "bm25-score SQL macro (no Python boundary) — same values as the "
    "DataFrame executor",
    internal_plan_fn=_index_build_plan,
)
def bm25_sql_topk(spark, sf_dir):
    from vector_store_spark.sql import register_fts_sql

    ix = _index(spark, sf_dir)
    register_fts_sql(spark, ix, prefix="ftsq")
    return spark.sql(f"""
        SELECT p.doc_id, round(ftsq_bm25_score(
                 CAST(p.tf AS DOUBLE), CAST(d.dl AS DOUBLE), CAST(f.df AS DOUBLE)
               ), {ROUND}) AS score
        FROM ftsq_postings p
        JOIN ftsq_doclens d USING (doc_id)
        JOIN ftsq_dfreq  f USING (term)
        WHERE p.term = 'vector'
        ORDER BY score DESC, doc_id LIMIT 10
    """)


@register(
    "fts_stats",
    f"""
WITH toks AS (SELECT doc_id, {tokenize_sql('text')} AS toks FROM documents)
SELECT count(*) AS num_docs, round(avg(len(toks)), {ROUND}) AS avgdl
FROM toks
""",
    "A2: FTS corpus stats (tantivy.rs:303-317)",
    internal_plan_fn=_index_build_plan,
)
def fts_stats(spark, sf_dir):
    from pyspark.sql import functions as F

    ix = _index(spark, sf_dir)
    return ix.doclens.agg(
        F.count("*").alias("num_docs"), F.round(F.avg("dl"), ROUND).alias("avgdl")
    )


# Incremental CRUD (tantivy.rs:383-443): base build on doc_id < 400, then
# remove ids < 50 and add ids 400..449; the oracle re-derives BM25 over the
# equivalent FINAL doc set, so a PASS proves the segment maintenance path
# (delta segment + tombstones + stats from deltas) yields exactly a clean
# rebuild.
_FINAL_SET = "(SELECT * FROM documents WHERE doc_id >= 50 AND doc_id < 450)"
_INC_CTES = _BASE_CTES.replace("FROM documents", f"FROM {_FINAL_SET}")


@register(
    "bm25_incremental_term",
    f"""
WITH {_INC_CTES}
SELECT doc_id, round(score, {ROUND}) AS score
FROM term_scores WHERE term = 'vector'
ORDER BY score DESC, doc_id LIMIT 10
""",
    "FTS incremental CRUD: base build -> remove 50 docs + add 50 docs as one "
    "delta segment -> query; hash-equal to a clean rebuild "
    "over the final doc set (tantivy.rs:383-443 visibility semantics)",
    internal_plan_fn=_index_build_plan,
)
def bm25_incremental_term(spark, sf_dir):
    from pyspark.sql import functions as F

    from vector_store_spark.operators.bm25 import update_fts_index

    docs = load(spark, sf_dir, "documents")
    base = build_fts_index(docs.where(F.col("doc_id") < 400), "doc_id", "text")
    updated = update_fts_index(
        base,
        docs_added=docs.where((F.col("doc_id") >= 400) & (F.col("doc_id") < 450)),
        doc_ids_removed=list(range(50)),
    )
    return bm25_search(updated, "vector", 10, round_to=ROUND)


@register(
    "bm25_persisted_term",
    f"""
WITH {_BASE_CTES}
SELECT doc_id, round(score, {ROUND}) AS score
FROM term_scores WHERE term = 'vector'
ORDER BY score DESC, doc_id LIMIT 10
""",
    "Persisted FTS serving path: postings written partitionBy(term_bucket) "
    "-> a term lookup prunes to ONE directory (PartitionFilters) -> BM25 "
    "scored from the pruned inverted list; hash-equal to the in-memory index",
)
def bm25_persisted_term(spark, sf_dir):
    import tempfile

    from pyspark.sql import functions as F

    from vector_store_spark.operators.bm25 import (
        idf_expr,
        persisted_term_postings,
        read_fts_index,
        tf_norm_expr,
        write_fts_index,
    )

    # the persisted layout is a standing artifact (built once, served many
    # times) — memoize the write like the in-memory _INDEX_CACHE above
    key = f"path:{spark.sparkContext.applicationId}:{sf_dir}"
    if key not in _INDEX_CACHE:
        import time as _t

        from vector_store_spark import phases

        t0 = _t.perf_counter()
        path = tempfile.mkdtemp(prefix="fts_ix_")
        write_fts_index(_index(spark, sf_dir), path)
        phases.mark("index_write", t0)
        _INDEX_CACHE[key] = path
    path = _INDEX_CACHE[key]
    ix = read_fts_index(spark, path)  # doclens + metadata-sized stats
    p = persisted_term_postings(spark, path, "vector")
    # df for the term as a broadcast one-row aggregate (non-foldable key so
    # the equi-join plans as BroadcastHashJoin, as in the phrase executor)
    dfq = p.agg(F.count("*").cast("double").alias("_df")).withColumn(
        "_k", (F.col("_df") * 0 + 1).cast("int")
    )
    pk = p.withColumn("_k", (F.col("tf") * 0 + 1).cast("int")).join(
        F.broadcast(dfq), "_k"
    )
    # the pruned inverted list is the ONLY exchanged side: doclens is read
    # from its doc_id-bucketed table, so the corpus side joins exchange-free
    j = ix.doclens.join(pk.hint("SHUFFLE_HASH"), "doc_id")
    score = idf_expr(F.col("_df"), ix.n_docs) * tf_norm_expr(
        F.col("tf").cast("double"), F.col("dl").cast("double"), ix.avgdl
    )
    return (
        j.select("doc_id", F.round(score, ROUND).alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(10)
    )


@register(
    "hybrid_rrf_topk",
    # Hybrid search: the engine's two top-k families fused with reciprocal-
    # rank fusion (Cormack et al., SIGIR'09) — lexical BM25 leg over the
    # documents table + vector cosine leg over the embeddings table, joined
    # on the shared key space. Ranks are taken over ROUNDED scores (the
    # cross-engine-stable values the other oracles already pin), so both
    # engines derive identical integer ranks and therefore identical fused
    # scores.
    f"""
WITH {_BASE_CTES},
lex AS (
  SELECT doc_id, r FROM (
    SELECT doc_id,
           row_number() OVER (ORDER BY round(score, {6}) DESC, doc_id) AS r
    FROM term_scores WHERE term = 'vector'
  ) WHERE r <= 25
),
vec AS (
  SELECT doc_id, r FROM (
    SELECT vec_id AS doc_id,
           row_number() OVER (ORDER BY d, vec_id) AS r
    FROM (
      SELECT vec_id,
             round(1.0 - list_inner_product(CAST(embedding AS DOUBLE[]), CAST([-0.5208333333333334, 0.25, -1.0, -0.22916666666666666, 0.5416666666666666, -0.7083333333333334, 0.0625, 0.8333333333333334, -0.4166666666666667, 0.3541666666666667, -0.8958333333333334, -0.125, 0.6458333333333334, -0.6041666666666666, 0.16666666666666666, 0.9375, -0.3125, 0.4583333333333333, -0.7916666666666666, -0.020833333333333332, 0.75, -0.5, 0.2708333333333333, -0.9791666666666666, -0.20833333333333334, 0.5625, -0.6875, 0.08333333333333333, 0.8541666666666666, -0.3958333333333333, 0.375, -0.875, -0.10416666666666667, 0.6666666666666666, -0.5833333333333334, 0.1875, 0.9583333333333334, -0.2916666666666667, 0.4791666666666667, -0.7708333333333334, 0.0, 0.7708333333333334, -0.4791666666666667, 0.2916666666666667, -0.9583333333333334, -0.1875, 0.5833333333333334, -0.6666666666666666, 0.10416666666666667, 0.875, -0.375, 0.3958333333333333, -0.8541666666666666, -0.08333333333333333, 0.6875, -0.5625, 0.20833333333333334, 0.9791666666666666, -0.2708333333333333, 0.5, -0.75, 0.020833333333333332, 0.7916666666666666, -0.4583333333333333] AS DOUBLE[])) /
                   (sqrt(list_inner_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) *
                    sqrt(list_inner_product(CAST([-0.5208333333333334, 0.25, -1.0, -0.22916666666666666, 0.5416666666666666, -0.7083333333333334, 0.0625, 0.8333333333333334, -0.4166666666666667, 0.3541666666666667, -0.8958333333333334, -0.125, 0.6458333333333334, -0.6041666666666666, 0.16666666666666666, 0.9375, -0.3125, 0.4583333333333333, -0.7916666666666666, -0.020833333333333332, 0.75, -0.5, 0.2708333333333333, -0.9791666666666666, -0.20833333333333334, 0.5625, -0.6875, 0.08333333333333333, 0.8541666666666666, -0.3958333333333333, 0.375, -0.875, -0.10416666666666667, 0.6666666666666666, -0.5833333333333334, 0.1875, 0.9583333333333334, -0.2916666666666667, 0.4791666666666667, -0.7708333333333334, 0.0, 0.7708333333333334, -0.4791666666666667, 0.2916666666666667, -0.9583333333333334, -0.1875, 0.5833333333333334, -0.6666666666666666, 0.10416666666666667, 0.875, -0.375, 0.3958333333333333, -0.8541666666666666, -0.08333333333333333, 0.6875, -0.5625, 0.20833333333333334, 0.9791666666666666, -0.2708333333333333, 0.5, -0.75, 0.020833333333333332, 0.7916666666666666, -0.4583333333333333] AS DOUBLE[]), CAST([-0.5208333333333334, 0.25, -1.0, -0.22916666666666666, 0.5416666666666666, -0.7083333333333334, 0.0625, 0.8333333333333334, -0.4166666666666667, 0.3541666666666667, -0.8958333333333334, -0.125, 0.6458333333333334, -0.6041666666666666, 0.16666666666666666, 0.9375, -0.3125, 0.4583333333333333, -0.7916666666666666, -0.020833333333333332, 0.75, -0.5, 0.2708333333333333, -0.9791666666666666, -0.20833333333333334, 0.5625, -0.6875, 0.08333333333333333, 0.8541666666666666, -0.3958333333333333, 0.375, -0.875, -0.10416666666666667, 0.6666666666666666, -0.5833333333333334, 0.1875, 0.9583333333333334, -0.2916666666666667, 0.4791666666666667, -0.7708333333333334, 0.0, 0.7708333333333334, -0.4791666666666667, 0.2916666666666667, -0.9583333333333334, -0.1875, 0.5833333333333334, -0.6666666666666666, 0.10416666666666667, 0.875, -0.375, 0.3958333333333333, -0.8541666666666666, -0.08333333333333333, 0.6875, -0.5625, 0.20833333333333334, 0.9791666666666666, -0.2708333333333333, 0.5, -0.75, 0.020833333333333332, 0.7916666666666666, -0.4583333333333333] AS DOUBLE[])))), {6}) AS d
      FROM embeddings
    )
  ) WHERE r <= 25
),
fused AS (
  SELECT coalesce(lex.doc_id, vec.doc_id) AS doc_id,
         round(coalesce(1.0 / (60.0 + lex.r), 0.0) +
               coalesce(1.0 / (60.0 + vec.r), 0.0), {6}) AS rrf_score
  FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id
)
SELECT doc_id, rrf_score FROM fused
ORDER BY rrf_score DESC, doc_id LIMIT 10
""",
    "Hybrid lexical+vector search: BM25 top-25 and cosine top-25 fused by "
    "reciprocal-rank fusion (score = sum 1/(60+rank)) — the combiner real "
    "deployments put in front of the two index families; fusion is "
    "result-sized (full-outer join of two top-N frames), no fact work "
    "beyond the legs",
)
def hybrid_rrf_topk(spark, sf_dir):
    from pyspark.sql import functions as F

    from vector_store_spark.operators.topk import ann_topk, ranked_top_n, rrf_fuse
    from vector_store_spark.registry import det_query_vector

    q7 = det_query_vector(7, 64)
    lex = ranked_top_n(
        bm25_search(_index(spark, sf_dir), "vector", 25, round_to=ROUND),
        [F.col("score").desc(), F.col("doc_id").asc()], 25,
    ).select("doc_id", "rank")
    emb = load(spark, sf_dir, "embeddings")
    vec = ranked_top_n(
        ann_topk(emb, "embedding", q7, 25, tie_break=["vec_id"],
                 select_cols=["vec_id"], round_to=ROUND),
        [F.col("distance").asc(), F.col("vec_id").asc()], 25,
    ).select(F.col("vec_id").alias("doc_id"), "rank")
    return rrf_fuse([lex, vec], "doc_id", k_const=60, limit=10, round_to=ROUND)
