"""Full-text search: postings build + BM25 scoring + boolean/phrase query
execution (SURVEY.md §2.7 F6–F8, §2.5 T3).

Reference: fts_index/tantivy.rs — SimpleTokenizer→lowercase→stopwords analyzer
(:162-183), QueryParser with terms/AND/OR/NOT/grouping/phrases (:237-246),
TopDocs by BM25 score descending (:258-274). Scoring is Lucene-compatible BM25
(k1=1.2, b=0.75; docs/dev/fts/full-text-prd-snapshot.md "BM25 Scoring … same as
Apache Lucene"):

    idf(t)  = ln(1 + (N - df + 0.5) / (df + 0.5))
    tf_norm = tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))
    score   = Σ_matching-clauses idf·tf_norm

Phrase clauses follow Lucene PhraseQuery: tf = number of phrase occurrences
(consecutive positions), idf = Σ idf of constituent terms.

Spark-first layout: the "index" is two DataFrames —
``postings(term, doc_id, tf, positions)`` and ``doclens(doc_id, dl)`` — both
hash-partitioned on ``doc_id`` at build time (the in-memory twin of doc_id
bucketing; the persisted layout additionally term-bucket-partitions postings
for pruned term lookups). Every scoring join (postings⋈doclens, AND/NOT
clause⋈clause, phrase per-term chains) is a co-partitioned shuffle-hash join:
a term's inverted list is O(df(term)) ≈ O(corpus) for common terms, so it is
NEVER broadcast — only metadata-sized sides (per-query-term df rows, the
one-row Σidf aggregate) are. Corpus stats (N, avgdl, per-term df) are tiny
aggregates. Everything is built-in expressions; no Python in the scan path.

Maintenance is segmented, as Tantivy commits each CDC batch as a new segment
plus deletes (tantivy.rs:383-443): ``update_fts_index`` returns the parent's
base plus one more ``FtsSegment`` (the added docs' postings and doclens, and
the ids it tombstones in everything before it), with N, avgdl and per-term df
derived from the parent's stats and the delta — no corpus-sized re-partition
or cache. The live index is the base plus every segment, each minus the
tombstones of later segments. Once the segments' tombstones (every document
they add or remove) outnumber ``COMPACT_FRACTION`` of the base's documents,
the update folds the chain into a fresh base instead.

Persisted layout (``write_fts_index`` / ``read_fts_index``)::

    path/postings/term_bucket=*/       base postings
    path/doclens_bucketed/             base doclens (table bucketed on doc_id)
    path/df_by_term/                   base per-term df
    path/segments/<id>/postings/term_bucket=*/, doclens/, _segment.json
    path/_fts_log/v<N>.json            the committed manifest, generation N

The manifest names the live segments and holds the base's and the live
index's stats (a layout written before manifests keeps them in
``_fts_meta.json``, which is still read); a generation
is committed by renaming its manifest into place, so a crash before the
rename still serves the previous generation. A fresh build or a compacted
base goes through the full layout write, which drops the log and the
segments before it replaces the base.
"""

from __future__ import annotations

import uuid
from collections import Counter
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vector_store_spark.plans.fts_query import (
    AndNode, NotNode, OrNode, PhraseNode, QueryNode, TermNode, parse_query,
)
from vector_store_spark.sources.index_store import HadoopDir, parallel_legs

K1 = 1.2
B = 0.75

#: the live segments' tombstones may number at most this fraction of the
#: base's documents; the update that would exceed it folds base + segments
#: into a fresh base, which the next write_fts_index persists through the full
#: layout write. Every segment's tombstones hold each id it adds or removes,
#: so this bounds the tombstone lists riding in query plans and, as an update
#: that changes nothing adds no segment, the per-query union width — for
#: delete-only waves too.
COMPACT_FRACTION = 0.25


def _new_id() -> str:
    return uuid.uuid4().hex[:16]


@dataclass(frozen=True)
class FtsSegment:
    """One immutable delta of a maintained index."""

    postings: DataFrame  # the added docs' term, doc_id, tf, positions [, term_bucket]
    doclens: DataFrame   # the added docs' doc_id, dl (0 for a token-less doc)
    #: ids dead in the base and every earlier segment: the removed ids plus
    #: the added ones (an upsert is remove + add)
    tombstones: tuple
    df: dict             # term -> its df after this segment, for every term it touched
    n_docs: int          # documents added
    id: str              # generation id of the index this segment produced


@dataclass
class FtsIndex:
    """A built full-text index over (id_col, text_col).

    ``postings``/``doclens``/``df_by_term`` are the LIVE frames; on a
    maintained index they are assembled from ``base`` plus ``segments``."""

    postings: DataFrame  # term, doc_id, tf, positions array<int> [, term_bucket]
    doclens: DataFrame   # doc_id, dl
    n_docs: int
    avgdl: float
    id_col: str
    df_by_term: DataFrame  # term, df — per-term document frequency (cached)
    #: set on persisted indexes whose postings carry term_bucket: term lookups
    #: then add the bucket equality and prune to one directory
    num_buckets: int = 32
    sum_dl: int | None = None  # Σ dl, kept exact so avgdl matches a rebuild
    base: FtsIndex | None = field(default=None, repr=False)  # None: self
    segments: tuple = ()
    #: generation ids from the base to this index (one per segment after the
    #: base's); write_fts_index appends only the segments after the one
    #: committed at a path
    lineage: tuple = ()

    def __post_init__(self):
        if self.sum_dl is None:
            self.sum_dl = round(self.avgdl * self.n_docs)
        if not self.lineage:
            self.lineage = (_new_id(),)

    def stats(self) -> dict:
        """A2: num_docs + size stats (tantivy.rs:303-317)."""
        return {"num_docs": self.n_docs, "avgdl": self.avgdl}


def _copartition(df: DataFrame, key: str = "doc_id") -> DataFrame:
    """Hash-partition on the scoring-join key with an EXPLICIT partition count
    (an un-numbered repartition is AQE-coalescible, and two caches coalesced to
    different counts would put the Exchange back under every join)."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(n, F.col(key))


def _postings_frame(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(term, doc_id, tf, positions) from one Arrow-batched tokenize pass —
    the raw postings construction of the full build."""
    from vector_store_spark.functions.text import tokens_udf

    toks = docs.select(id_col, tokens_udf()(F.col(text_col)).alias("toks"))
    exploded = toks.select(id_col, F.posexplode("toks").alias("pos", "term"))
    return (
        exploded.groupBy("term", id_col)
        .agg(F.count("*").alias("tf"), F.sort_array(F.collect_list("pos")).alias("positions"))
        .withColumnRenamed(id_col, "doc_id")
    )


def build_fts_index(docs: DataFrame, id_col: str, text_col: str) -> FtsIndex:
    """Tokenize ONCE (Arrow-batched), posexplode to (term, doc, position),
    aggregate postings; doclens then derive from the postings cache
    (dl = Σ tf per doc) instead of a second tokenize pass — the corpus text
    is scanned and tokenized exactly one time. Documents with zero tokens
    drop out of doclens, which is harmless (they can never match a term),
    but N for IDF still counts every document (a separate text-free count).
    Both caches are hash-partitioned on doc_id so every downstream scoring
    join is exchange-free on both sides (term filters and projections
    preserve the partitioning). The input is pinned (``_pinned``), so the
    index stays a snapshot of ``docs`` as they were built."""
    docs = _pinned(docs.select(id_col, text_col))
    postings = _copartition(_postings_frame(docs, id_col, text_col)).cache()
    # partitioning-preserving aggregation over the cache: no exchange, no
    # second Python pass
    doclens = postings.groupBy("doc_id").agg(F.sum("tf").cast("int").alias("dl")).cache()
    n_docs = docs.select(id_col).count()  # all docs, incl. token-less (IDF's N)
    sum_dl = doclens.agg(F.sum("dl")).first()[0] or 0
    avgdl = float(sum_dl) / n_docs if n_docs else 0.0
    df_by_term = postings.groupBy("term").agg(F.count("*").alias("df")).cache()
    return FtsIndex(postings, doclens, int(n_docs), avgdl, id_col, df_by_term,
                    sum_dl=int(sum_dl))


def _pinned(df: DataFrame) -> DataFrame:
    """``df`` cut from the files it reads (a lazy local checkpoint, written
    by the first job that computes it). A cache over a file or table scan
    is rebuilt from the CURRENT files whenever that path is written again
    (Spark re-caches every plan reading it) — a snapshot rewritten by CDC
    would silently change an index built from it, while segment maintenance
    reads the parent's content for its stats deltas. The checkpoint is kept
    on local disk only: the caches built over it are the in-memory copy, and
    it is read again only to recompute them. Frames that read no files
    (local rows, RDDs) are returned as they are."""
    from pyspark import StorageLevel

    it = df._jdf.queryExecution().analyzed().collectLeaves().iterator()
    while it.hasNext():
        if it.next().getClass().getSimpleName() in (
                "LogicalRelation", "DataSourceV2Relation", "HiveTableRelation"):
            return df.localCheckpoint(eager=False, storageLevel=StorageLevel.DISK_ONLY)
    return df


def _term_bucket_col(num_buckets: int) -> Column:
    return F.pmod(F.xxhash64("term"), F.lit(num_buckets)).cast("int")


def _in_set(col: str, values) -> Column:
    """``col IN (values)`` as ONE parsed SQL expression: ``Column.isin``
    pays a py4j round trip per literal, which dominated maintenance and
    query planning once tombstone lists reached a few hundred ids."""
    def lit(v):
        if isinstance(v, str):
            return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
        if isinstance(v, bool) or not isinstance(v, int):
            raise TypeError(f"unsupported IN-set value {v!r}")
        return str(v)

    if not values:
        return F.lit(False)
    return F.expr(f"`{col}` IN ({', '.join(lit(v) for v in values)})")


def _live_frames(base: FtsIndex, segments: tuple):
    """(postings, doclens, df_by_term) of base + segments: each part minus the
    tombstones of every LATER segment, unioned. Tombstones are delta-sized
    (bounded by COMPACT_FRACTION), so they filter as an IN-set — no join, and
    the filters keep each part's doc_id partitioning (a union of equally
    partitioned parts stays partitioned). df_by_term is the base's minus the
    terms the segments touched, plus those terms' current df as a local
    relation: no aggregate, so a term lookup stays a filtered scan."""
    if not segments:
        return base.postings, base.doclens, base.df_by_term
    bucketed = "term_bucket" in base.postings.columns
    parts = [(base.postings, base.doclens)] + [(s.postings, s.doclens) for s in segments]
    dead: set = set()
    live = []
    for i in range(len(parts) - 1, -1, -1):
        p, d = parts[i]
        if bucketed and "term_bucket" not in p.columns:
            p = p.withColumn("term_bucket", _term_bucket_col(base.num_buckets))
        elif not bucketed and "term_bucket" in p.columns:
            p = p.drop("term_bucket")
        if dead:
            gone = sorted(dead)
            p = p.where(~_in_set("doc_id", gone))
            d = d.where(~_in_set("doc_id", gone))
        live.append((p, d))
        if i:
            dead.update(segments[i - 1].tombstones)
    live.reverse()
    postings = reduce(lambda a, b: a.unionByName(b), [p for p, _ in live])
    doclens = reduce(lambda a, b: a.unionByName(b), [d for _, d in live])
    touched: dict = {}
    for s in segments:
        touched.update(s.df)
    if not touched:
        return postings, doclens, base.df_by_term
    spark = base.df_by_term.sparkSession
    df_by_term = base.df_by_term.where(~_in_set("term", sorted(touched))).unionByName(
        spark.createDataFrame(sorted((t, n) for t, n in touched.items() if n > 0),
                              "term string, df bigint"))
    return postings, doclens, df_by_term


def _segment_frames(docs: DataFrame, id_col: str, text_col: str):
    """The added docs' (postings, doclens), hash-partitioned on doc_id like
    the base: one Arrow pass builds each doc's postings (no grouping
    shuffle), one exchange copartitions them into a cache that both frames
    derive from. A token-less doc keeps one null-term row (``explode_outer``),
    so it gets a doclens row (dl 0) and a later removal finds it."""
    from vector_store_spark.functions.text import term_postings_udf

    src = _pinned(docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")))
    per_doc = src.select("doc_id", term_postings_udf()(F.col("text")).alias("p"))
    exploded = per_doc.select("doc_id", F.explode_outer("p").alias("e")).select(
        F.col("e.term").alias("term"), "doc_id",
        F.coalesce(F.col("e.tf"), F.lit(0).cast("long")).alias("tf"),
        F.col("e.positions").alias("positions"))
    grouped = _copartition(exploded).cache()
    doclens = grouped.groupBy("doc_id").agg(F.sum("tf").cast("int").alias("dl"))
    postings = grouped.where(F.col("term").isNotNull())
    return grouped, postings, doclens


def _removed_docs(index: FtsIndex, dead: set):
    """(dl list, per-term doc counts) of the docs in ``dead`` that are live
    in ``index``: one IN-set scan of its live doclens and postings."""
    gone = sorted(dead)
    rows = (
        index.doclens.where(_in_set("doc_id", gone)).select(
            F.col("dl").cast("long").alias("dl"), F.lit(None).cast("string").alias("term"))
        .unionByName(index.postings.where(_in_set("doc_id", gone)).select(
            F.lit(None).cast("long").alias("dl"), "term"))
        .collect()
    )
    return ([r.dl for r in rows if r.term is None],
            Counter(r.term for r in rows if r.term is not None))


def _parent_df(index: FtsIndex, terms: set) -> dict:
    """df in ``index`` of ``terms``: the segments' values where they touched
    the term, else one IN-set lookup of the base's df."""
    base = index.base or index
    known: dict = {}
    for s in index.segments:
        known.update(s.df)
    out = {t: known[t] for t in terms if t in known}
    rest = sorted(terms - set(known))
    if rest:
        out.update((r.term, r.df) for r in base.df_by_term.where(
            _in_set("term", rest)).collect())
    return out


def update_fts_index(
    index: FtsIndex,
    docs_added: DataFrame | None = None,
    doc_ids_removed: list | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> FtsIndex:
    """Incremental maintenance (the reference's CRUD visibility: added docs
    searchable after the periodic commit, removed docs gone —
    fts_index/tantivy.rs:383-443, validator fts.rs CRUD tests).

    Tokenizes ONLY the added docs into a new ``FtsSegment`` whose tombstones
    are the removed ids plus the added ids (an upsert is remove + add). N,
    Σdl and the df of every touched term follow from the parent's stats and
    delta-sized collects: the added docs' (doc_id, term, tf) rows (which
    also materialize the segment), the dl and terms of the parent's live
    docs among the dead ids (one IN-set scan) and the base's df of touched
    terms no segment holds. The parent's corpus-sized frames are never
    re-partitioned or cached again. An update that adds and removes nothing
    returns ``index`` itself. Once the segments' tombstones would outnumber
    ``COMPACT_FRACTION`` of the base's documents, the result is instead a
    fresh base: the live frames copartitioned and cached as a full build
    would (O(corpus), once per compaction). Ids in ``docs_added`` are assumed unique. A base document
    with no tokens has no doclens row, so its removal does not lower N
    (documents added by an update keep a dl-0 row and do)."""
    base = index.base or index
    spark = index.doclens.sparkSession
    id_type = index.doclens.schema["doc_id"].dataType.simpleString()
    if docs_added is not None:
        grouped, seg_postings, seg_doclens = _segment_frames(docs_added, id_col, text_col)
        rows = grouped.select("doc_id", "term", "tf").collect()
    else:
        grouped = None
        seg_postings = spark.createDataFrame(
            [], f"term string, doc_id {id_type}, tf bigint, positions array<int>")
        seg_doclens = spark.createDataFrame([], f"doc_id {id_type}, dl int")
        rows = []
    docs: dict = {}  # added doc id -> (dl, its terms)
    for r in rows:
        dl, terms = docs.get(r.doc_id, (0, ()))
        docs[r.doc_id] = (dl + r.tf, terms + ((r.term,) if r.term is not None else ()))
    added_df = Counter(t for _, terms in docs.values() for t in terms)
    dead = set(doc_ids_removed or ()) | set(docs)
    if not dead:  # nothing added or removed
        if grouped is not None:
            grouped.unpersist()
        return index
    removed_dl, removed_df = _removed_docs(index, dead)
    parent_df = _parent_df(index, set(added_df) | set(removed_df))
    n_docs = index.n_docs + len(docs) - len(removed_dl)
    sum_dl = index.sum_dl + sum(dl for dl, _ in docs.values()) - sum(removed_dl)
    avgdl = float(sum_dl) / n_docs if n_docs else 0.0
    df = {t: parent_df.get(t, 0) + added_df[t] - removed_df[t]
          for t in set(added_df) | set(removed_df)}
    seg = FtsSegment(seg_postings, seg_doclens, tuple(sorted(dead)), df,
                     len(docs), _new_id())
    segments = index.segments + (seg,)
    postings, doclens, df_by_term = _live_frames(base, segments)
    if sum(len(s.tombstones) for s in segments) <= COMPACT_FRACTION * base.n_docs:
        return FtsIndex(postings, doclens, n_docs, avgdl, index.id_col, df_by_term,
                        base.num_buckets, sum_dl, base, segments,
                        index.lineage + (seg.id,))
    # compaction: a fresh base, pinned and materialized here so that the
    # write after it never reads a lineage over files it is about to replace
    postings = _copartition(_pinned(postings.drop("term_bucket"))).cache()
    doclens = _copartition(_pinned(doclens)).cache()
    df_by_term = _pinned(df_by_term).cache()
    parallel_legs(postings.count, doclens.count, df_by_term.count)
    return FtsIndex(postings, doclens, n_docs, avgdl, index.id_col, df_by_term,
                    base.num_buckets, sum_dl)


def idf_expr(df_col: Column, n_docs: int) -> Column:
    return F.log(F.lit(1.0) + (F.lit(float(n_docs)) - df_col + 0.5) / (df_col + 0.5))


def tf_norm_expr(tf_col: Column, dl_col: Column, avgdl: float) -> Column:
    return (tf_col * (K1 + 1.0)) / (tf_col + F.lit(K1) * (1.0 - B + B * dl_col / F.lit(avgdl)))


def _phrase_tf(positions_cols: list[Column]) -> Column:
    """Count occurrences of the phrase: positions of term_i shifted by i must
    all align. positions arrays are small; forall/array_contains is O(len²)
    per row but rows are (doc, phrase-candidate) pairs only."""
    first = positions_cols[0]
    return F.size(
        F.filter(
            first,
            lambda p: reduce(
                lambda acc, ic: acc & F.array_contains(ic[1], p + F.lit(ic[0])),
                enumerate(positions_cols[1:], start=1),
                F.lit(True),
            ),
        )
    )


class Bm25Executor:
    """Compile a parsed query AST into a (doc_id, score) DataFrame."""

    def __init__(self, index: FtsIndex):
        self.ix = index
        # per-term document frequency — tiny, cached at build, broadcast into
        # term lookups
        self.df_by_term = index.df_by_term

    def _term_filter(self, term: str):
        """Term lookup predicate; on a persisted index whose postings carry
        ``term_bucket``, the bucket equality prunes the scan to one directory
        before the term filter applies (the executor composes with the
        write_fts_index layout for EVERY query shape, not just single terms).
        The bucket is resolved DRIVER-SIDE (functions/hashing.term_bucket, a
        bit-exact xxhash64 twin): plan construction launches zero Spark jobs,
        keeping the executor's composition fully lazy."""
        cond = F.col("term") == term
        if "term_bucket" in self.ix.postings.columns:
            from vector_store_spark.functions.hashing import term_bucket

            n = getattr(self.ix, "num_buckets", 32)
            cond = (F.col("term_bucket") == term_bucket(term, n)) & cond
        return cond

    def _term_postings(self, term: str) -> DataFrame:
        return self.ix.postings.where(self._term_filter(term)).drop("term_bucket")

    def _term_scores(self, term: str) -> DataFrame:
        # A term's inverted list is O(df(term)) — corpus-scaled for common
        # terms — so it must NOT be broadcast. Both postings and doclens are
        # cached hash-partitioned on doc_id, so this shuffle-hash join plans
        # with zero Exchange; only the ONE df row for the term broadcasts.
        p = self._term_postings(term)
        p = p.join(F.broadcast(self.df_by_term.where(F.col("term") == term)), "term")
        p = self.ix.doclens.join(p.hint("SHUFFLE_HASH"), "doc_id")
        score = idf_expr(F.col("df").cast("double"), self.ix.n_docs) * tf_norm_expr(
            F.col("tf").cast("double"), F.col("dl").cast("double"), self.ix.avgdl
        )
        return p.select("doc_id", score.alias("score"))

    def _phrase_scores(self, terms: list[str]) -> DataFrame:
        if len(terms) == 1:
            return self._term_scores(terms[0])
        # join per-term postings on doc_id, then count aligned positions —
        # co-partitioned SHJ chain (every per-term list is corpus-scaled)
        joined = None
        for i, t in enumerate(terms):
            p = self._term_postings(t).select(
                "doc_id", F.col("positions").alias(f"pos{i}")
            )
            joined = p if joined is None else joined.join(p.hint("SHUFFLE_HASH"), "doc_id")
        tf = _phrase_tf([F.col(f"pos{i}") for i in range(len(terms))])
        cand = joined.withColumn("tf", tf.cast("double")).where(F.col("tf") > 0)
        # Lucene PhraseQuery: idf = Σ term idfs; tf = phrase frequency.
        # Σidf stays IN the plan as a broadcast one-row aggregate (constant-key
        # equi-join → BroadcastHashJoin), not a driver-side .first(): no extra
        # action, and the phrase executor composes lazily like every other node.
        dfs = self.df_by_term.where(F.col("term").isin(terms))
        # the key must be computed from a column (x*0+1), not a literal:
        # a foldable key degrades the equi-join to BroadcastNestedLoopJoin
        sum_idf = dfs.agg(
            F.sum(idf_expr(F.col("df").cast("double"), self.ix.n_docs)).alias("_sum_idf")
        ).where(F.col("_sum_idf").isNotNull()).withColumn(
            "_k", (F.col("_sum_idf") * 0 + 1).cast("int")
        )
        cand = self.ix.doclens.join(cand.hint("SHUFFLE_HASH"), "doc_id")
        cand = cand.withColumn("_k", (F.col("tf") * 0 + 1).cast("int")).join(
            F.broadcast(sum_idf), "_k"
        )
        score = F.col("_sum_idf") * tf_norm_expr(
            F.col("tf"), F.col("dl").cast("double"), self.ix.avgdl
        )
        return cand.select("doc_id", score.alias("score"))

    def execute(self, node: QueryNode) -> DataFrame:
        """Returns (doc_id, score). Boolean scoring: sum of matching clause
        scores (AND = all required; OR = any; NOT = exclusion, contributes 0)."""
        if isinstance(node, TermNode):
            return self._term_scores(node.term)
        if isinstance(node, PhraseNode):
            return self._phrase_scores(list(node.terms))
        if isinstance(node, AndNode):
            # clause results are corpus-scaled (a clause can match most of the
            # corpus) and inherit doc_id partitioning — co-partitioned SHJ
            left = self.execute(node.left)
            right = self.execute(node.right)
            return (
                left.alias("l")
                .join(right.alias("r").hint("SHUFFLE_HASH"), "doc_id")
                .select("doc_id", (F.col("l.score") + F.col("r.score")).alias("score"))
            )
        if isinstance(node, OrNode):
            left, right = self.execute(node.left), self.execute(node.right)
            return (
                left.unionByName(right)
                .groupBy("doc_id")
                .agg(F.sum("score").alias("score"))
            )
        if isinstance(node, NotNode):
            pos = self.execute(node.left)
            neg = self.execute(node.right).select("doc_id")
            return pos.join(neg.hint("SHUFFLE_HASH"), "doc_id", "left_anti")
        raise TypeError(f"unknown node {node!r}")


def bm25_search(
    index: FtsIndex, query: str, k: int, tie_break_asc: bool = True, round_to: int | None = None
) -> DataFrame:
    """T3: parse → execute → ORDER BY score DESC LIMIT k (tantivy.rs:272-274).
    Ties broken by doc_id for determinism (Tantivy breaks by internal doc id)."""
    ast = parse_query(query)
    scored = Bm25Executor(index).execute(ast)
    if round_to is not None:
        scored = scored.withColumn("score", F.round("score", round_to))
    order = [F.col("score").desc(), F.col("doc_id").asc() if tie_break_asc else F.col("doc_id").desc()]
    return scored.orderBy(*order).limit(k)


def _doclens_table(path: str) -> str:
    """Deterministic catalog name for a persisted index's bucketed doclens."""
    import hashlib

    return "fts_doclens_" + hashlib.md5(path.encode()).hexdigest()[:12]


_LOG, _SEGMENTS = "_fts_log", "segments"


def _manifest_name(version: int) -> str:
    return f"v{version:020d}.json"


def _manifest_versions(store: HadoopDir) -> list:
    """Committed manifest versions; uncommitted temp files never match."""
    import re

    return [int(n[1:-5]) for n in store.ls(_LOG) if re.fullmatch(r"v\d{20}\.json", n)]


def _latest_manifest(store: HadoopDir):
    """(version, manifest) of the committed generation, (0, None) for a
    layout without one."""
    versions = _manifest_versions(store)
    if not versions:
        return 0, None
    v = max(versions)
    return v, store.read_json(_LOG, _manifest_name(v))


def _commit_manifest(store: HadoopDir, version: int, manifest: dict) -> None:
    """Commit a generation: write its manifest to a temp file, then rename
    it to the next version (a rename to a new name, atomic and defined on
    every Hadoop filesystem). Older manifests are dropped after the
    commit."""
    tmp = f"_v{version}.json.tmp"
    store.write_json(manifest, _LOG, tmp)
    store.rename((_LOG, tmp), (_LOG, _manifest_name(version)))
    for v in _manifest_versions(store):
        if v < version:
            store.delete(_LOG, _manifest_name(v))


def _segment_schemas(id_type: str):
    return (f"term string, doc_id {id_type}, tf bigint, positions array<int>, "
            "term_bucket int", f"doc_id {id_type}, dl int")


def _manifest_stats(index: FtsIndex) -> dict:
    return {"n_docs": index.n_docs, "sum_dl": index.sum_dl, "avgdl": index.avgdl}


def write_fts_index(index: FtsIndex, path: str, num_buckets: int = 32) -> None:
    """Persist the index (layout in the module docstring).

    When ``index`` descends from the generation committed at ``path`` (its
    lineage holds the manifest's index id), only the segments after that
    generation are written — each an immutable ``segments/<id>`` directory
    of term-bucketed delta postings, delta doclens and ``_segment.json``
    (tombstones, the df of every term it touched, doc count) — and one
    manifest rename
    commits them: the base is not touched, and a crash before the rename
    serves the previous generation (the next write drops the orphans).
    Rewriting an already committed generation is a no-op. Any other index —
    a fresh build, a compacted base (``update_fts_index`` past
    ``COMPACT_FRACTION``) or a foreign lineage — takes the full write below
    and a manifest with no segments."""
    store = HadoopDir(index.doclens.sparkSession, path)
    version, manifest = _latest_manifest(store)
    if (manifest is not None and manifest["num_buckets"] == num_buckets
            and manifest["index_id"] in index.lineage):
        new = index.segments[index.lineage.index(manifest["index_id"]):]
        if new:
            _append_segments(store, index, version, manifest, new)
        return
    _write_base(index, store, num_buckets)


def _append_segments(store: HadoopDir, index: FtsIndex, version: int, manifest: dict,
                     new: tuple) -> None:
    live = {s["id"] for s in manifest["segments"]}
    for name in store.ls(_SEGMENTS):
        if name not in live:  # left by a write that crashed before its commit
            store.delete(_SEGMENTS, name)
    for name in store.ls(_LOG):
        if name.endswith(".tmp"):
            store.delete(_LOG, name)
    legs = []
    for seg in new:
        p = seg.postings
        if "term_bucket" not in p.columns:
            p = p.withColumn("term_bucket", _term_bucket_col(manifest["num_buckets"]))
        # delta-sized frames over the segment's cache: one task writes each
        legs.append(lambda p=p, seg=seg: p.coalesce(1).write.partitionBy(
            "term_bucket").parquet(store.uri(_SEGMENTS, seg.id, "postings")))
        legs.append(lambda seg=seg: seg.doclens.coalesce(1).write.parquet(
            store.uri(_SEGMENTS, seg.id, "doclens")))
    parallel_legs(*legs)
    for seg in new:
        store.write_json({"tombstones": list(seg.tombstones), "df": seg.df,
                          "n_docs": seg.n_docs}, _SEGMENTS, seg.id, "_segment.json")
    _commit_manifest(store, version + 1, {
        **manifest, **_manifest_stats(index), "index_id": index.lineage[-1],
        "lineage": manifest["lineage"] + [s.id for s in new],
        "segments": manifest["segments"] + [{"id": s.id} for s in new],
    })


def _write_base(index: FtsIndex, store: HadoopDir, num_buckets: int) -> None:
    """The full write: postings parquet partitioned by a term hash bucket (a
    term lookup prunes to ONE directory — the inverted-list locality Tantivy
    gets from its term dictionary), and doclens as a table BUCKETED on
    doc_id: the serving-time scoring join then exchanges ONLY the pruned
    inverted list, never the corpus-sized doclens — the disk-postings posture
    of the reference (tantivy.rs keeps postings and per-doc norms on disk;
    queries touch only the looked-up terms). The corpus stats are committed
    with the layout (the manifest + vocab-sized df parquet), as Tantivy
    stores segment stats in the committed index rather than recounting at
    open.

    The manifest log and segments go first, so no manifest ever pairs old
    segments with the new base; this write itself replaces the base in
    place, as full rebuilds always have."""
    from vector_store_spark.sources.index_store import fresh_dir, write_local_index

    path = store.root
    store.delete(_LOG)
    store.delete(_SEGMENTS)
    postings = index.postings.drop("term_bucket").withColumn(
        "term_bucket", _term_bucket_col(num_buckets))
    spark = index.doclens.sparkSession
    tbl = _doclens_table(path)
    # directory/catalog prep stays serialized (idempotent persist: DROP on an
    # external table leaves its files, so clear the location too or the CTAS
    # below fails on a rewrite of the same path)
    fresh_dir(store.uri("postings"))
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    fresh_dir(store.uri("doclens_bucketed"))

    # the three layout legs are independent reads of the index's cached
    # frames — CONCURRENT Spark jobs instead of three sequential latencies
    def _w_postings():
        spark.sparkContext.setJobDescription("fts_persist: postings")
        write_local_index(postings, store.uri("postings"), ["term_bucket"])

    def _w_doclens():
        spark.sparkContext.setJobDescription("fts_persist: doclens CTAS")
        (
            index.doclens.repartition(num_buckets, F.col("doc_id"))
            .write.mode("overwrite")
            .format("parquet")
            .bucketBy(num_buckets, "doc_id")
            .sortBy("doc_id")
            .option("path", store.uri("doclens_bucketed"))
            .saveAsTable(tbl)
        )

    def _w_df_by_term():
        spark.sparkContext.setJobDescription("fts_persist: df_by_term")
        index.df_by_term.write.mode("overwrite").parquet(store.uri("df_by_term"))

    parallel_legs(_w_postings, _w_doclens, _w_df_by_term)
    stats = _manifest_stats(index)
    _commit_manifest(store, 1, {
        **stats, "index_id": index.lineage[-1], "lineage": [index.lineage[-1]],
        "num_buckets": num_buckets, "base": stats, "segments": [],
        "id_type": index.doclens.schema["doc_id"].dataType.simpleString(),
    })


def read_fts_index(spark, path: str, num_buckets: int = 32) -> FtsIndex:
    """Load the committed generation: the base plus every live segment of
    the manifest, each minus later tombstones (``_live_frames``); a layout
    without a manifest is a bare base. Term lookups against ``postings``
    carry the ``term_bucket`` column, so callers filtering on (term_bucket,
    term) get partition pruning in the base and every segment;
    Bm25Executor's term filter composes with it. The base doclens comes back
    as the bucketed table (scans report HashPartitioning(doc_id), so scoring
    joins add no exchange on the corpus side while no segment is live);
    pre-bucketing layouts fall back to the plain parquet directory. The
    returned index keeps the manifest's lineage, so an update of it can be
    written back as a segment."""
    store = HadoopDir(spark, path)
    _, manifest = _latest_manifest(store)
    postings = spark.read.parquet(store.uri("postings"))
    tbl = _doclens_table(path)
    if spark.catalog.tableExists(tbl):
        doclens = spark.table(tbl)
    elif store.exists("doclens_bucketed"):
        # a NEW session reading a persisted dir: saveAsTable metadata is
        # session-scoped, so re-read the bucket files as plain parquet (the
        # values are identical; only the exchange-free partitioning report is
        # lost until re-registered)
        doclens = spark.read.parquet(store.uri("doclens_bucketed"))
    else:  # pre-bucketing layout
        doclens = spark.read.parquet(store.uri("doclens"))
    if manifest is not None:
        # committed stats: open cost is a manifest read + a vocab-sized scan,
        # NOT an O(corpus) re-aggregation of postings/doclens
        num_buckets = manifest["num_buckets"]
        n_docs, sum_dl = manifest["base"]["n_docs"], manifest["base"]["sum_dl"]
        avgdl = manifest["base"]["avgdl"]
        df_by_term = spark.read.parquet(store.uri("df_by_term")).cache()
    elif store.exists("_fts_meta.json"):  # layout written before manifests
        meta = store.read_json("_fts_meta.json")
        n_docs, avgdl, sum_dl = meta["n_docs"], meta["avgdl"], None
        df_by_term = spark.read.parquet(store.uri("df_by_term")).cache()
    else:  # pre-sidecar layout: legacy re-aggregation
        n_docs, sum_dl = doclens.agg(F.count("*"), F.sum("dl")).first()
        avgdl = float(sum_dl) / n_docs if n_docs else 0.0
        df_by_term = postings.groupBy("term").agg(F.count("*").alias("df")).cache()
    # postings KEEP term_bucket: Bm25Executor's term lookups add the bucket
    # equality, so every query shape (term/AND/OR/NOT/phrase) scans only the
    # matching directories of the persisted layout
    base = FtsIndex(postings, doclens, int(n_docs or 0), avgdl, "doc_id", df_by_term,
                    num_buckets=num_buckets, sum_dl=sum_dl)
    if manifest is None:
        return base
    if not manifest["segments"]:
        base.lineage = tuple(manifest["lineage"])
        return base
    p_schema, d_schema = _segment_schemas(manifest["id_type"])
    segments = []
    for s in manifest["segments"]:
        meta = store.read_json(_SEGMENTS, s["id"], "_segment.json")
        segments.append(FtsSegment(
            spark.read.schema(p_schema).parquet(store.uri(_SEGMENTS, s["id"], "postings")),
            spark.read.schema(d_schema).parquet(store.uri(_SEGMENTS, s["id"], "doclens")),
            tuple(meta["tombstones"]), meta["df"], meta["n_docs"], s["id"]))
    segments = tuple(segments)
    live_postings, live_doclens, live_df = _live_frames(base, segments)
    return FtsIndex(live_postings, live_doclens, manifest["n_docs"], manifest["avgdl"],
                    "doc_id", live_df, num_buckets, manifest["sum_dl"], base, segments,
                    tuple(manifest["lineage"]))


def persisted_term_postings(spark, path: str, term: str, num_buckets: int = 32):
    """The pruned single-term lookup over the committed generation: filter
    (term_bucket, term) so the base and every live segment scan one
    directory each. Returns the matching live postings DataFrame."""
    from vector_store_spark.functions.hashing import term_bucket

    ix = read_fts_index(spark, path, num_buckets)
    return ix.postings.where(
        (F.col("term_bucket") == term_bucket(term, ix.num_buckets))
        & (F.col("term") == term)
    )
