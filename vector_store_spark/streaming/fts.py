"""Continuous FTS maintenance: document CDC stream → postings/doclens store.

Reference: fts_index/tantivy.rs — the CDC pump applies per-document add/
remove operations into the index writer, and a periodic commit (3 s or 10 k
docs, tantivy.rs:129-130) makes them visible to reopened searchers
(:383-443). The Spark twin is a ``foreachBatch`` sink (the micro-batch
trigger IS the commit cadence, W6) maintaining a doc-bucket-partitioned
postings + doclens store:

- Layout mirrors streaming/cdc.py's ``CdcSnapshotSink``: both directories are
  parquet partitioned by ``_bucket = pmod(xxhash64(doc_id), num_buckets)``; a
  micro-batch reads and rewrites ONLY the buckets its doc ids hash into
  (partition pruning + dynamic partition overwrite), so per-commit work is
  O(batch × store/num_buckets), never O(corpus).
- Doc-level LWW with tombstones: doclens rows carry (ts, seq); the winner per
  doc across {stored state} ∪ {batch events} is the max (ts, seq). Stale
  replays lose, deletes persist as tombstones (dl NULL) so a late stale
  upsert cannot resurrect a deleted doc — the same algebra the vector
  snapshot uses (table/mod.rs:697-1003 analogue).
- Only NEW winning upserts are tokenized (Arrow-batched); surviving docs keep
  their stored postings untouched.

Visibility/serving: ``serving_index()`` re-reads the store into an
``FtsIndex`` — the reopened-searcher step. End-state equivalence with a clean
rebuild is hash-checked by the ``stream_fts_endstate`` registry entry.
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

BUCKET_COL = "_bucket"
SNAPSHOT_SEQ = -1  # stored rows win equal-timestamp ties over new events


def _bucket_expr(id_col: str, num_buckets: int):
    return F.pmod(F.xxhash64(F.col(id_col)), F.lit(num_buckets)).cast("int")


class FtsStreamSink:
    """foreachBatch sink maintaining a bucket-partitioned FTS store."""

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        num_buckets: int = 8,
        id_col: str = "doc_id",
        text_col: str = "text",
        ts_col: str = "ts",
        seq_col: str = "seq",
        op_col: str = "op",
        gc_tombstones_before: int | None = None,
    ):
        self.spark = spark
        self.postings_dir = os.path.join(index_dir, "postings")
        self.doclens_dir = os.path.join(index_dir, "doclens")
        self.num_buckets = num_buckets
        self.id_col, self.text_col = id_col, text_col
        self.ts_col, self.seq_col, self.op_col = ts_col, seq_col, op_col
        #: drop tombstones older than this ts on the next rewrite of their
        #: bucket — the reference's checkpoint-window GC (a tombstone is only
        #: needed while a stale replay could still arrive, W2/W8 horizon)
        self.gc_tombstones_before = gc_tombstones_before

    def _exists(self, d: str) -> bool:
        return os.path.isdir(d) and any(
            e.startswith(f"{BUCKET_COL}=") for e in os.listdir(d)
        )

    def _read(self, d: str, buckets: list[int]) -> Optional[DataFrame]:
        if not self._exists(d):
            return None
        return self.spark.read.parquet(d).where(F.col(BUCKET_COL).isin(buckets))

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window

        ts, seq, op, did = self.ts_col, self.seq_col, self.op_col, self.id_col
        # latest event per doc WITHIN the batch (micro-batches are unordered):
        # max (ts, -seq), i.e. seq ASC on equal ts — "equal timestamp does not
        # replace", matching operators/lww.lww_merge exactly
        w = Window.partitionBy(did).orderBy(F.col(ts).desc(), F.col(seq).asc())
        latest = (
            batch.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
            .withColumn(BUCKET_COL, _bucket_expr(did, self.num_buckets))
        )
        latest = latest.cache()
        # a failing bucket write must not leak cached micro-batch frames: every
        # cache taken past this point is registered here and released in the
        # finally, success or not
        cached = [latest]
        try:
            self._commit_batch(latest, cached)
        finally:
            for df in cached:
                df.unpersist()

    def _commit_batch(self, latest: DataFrame, cached: list) -> None:
        ts, seq, op, did = self.ts_col, self.seq_col, self.op_col, self.id_col
        affected = [r[0] for r in latest.select(BUCKET_COL).distinct().collect()]
        if not affected:
            return

        # ---- doc-level LWW across {stored doclens} ∪ {batch} --------------
        stored = self._read(self.doclens_dir, affected)
        cand = latest.select(
            F.col(did).alias("doc_id"), F.col(ts).alias("_ts"),
            F.col(seq).alias("_seq"), F.col(op).alias("_op"),
            F.col(self.text_col).alias("_text"),
        )
        if stored is not None:
            stored_ev = stored.select(
                "doc_id", F.col("ts").alias("_ts"),
                F.lit(SNAPSHOT_SEQ).cast("long").alias("_seq"),
                F.when(F.col("dl").isNull(), F.lit("delete"))
                .otherwise(F.lit("stored")).alias("_op"),
                F.lit(None).cast("string").alias("_text"),
            )
            cand = cand.unionByName(stored_ev)
        # winner = max (ts, -seq), the lww_merge ordering: SNAPSHOT_SEQ=-1
        # gives stored rows negseq=+1, so committed state WINS equal-ts ties
        # (a stale equal-timestamp replay cannot replace a committed doc)
        winner = cand.groupBy("doc_id").agg(
            F.max_by(
                F.struct("_ts", "_seq", "_op", "_text"),
                F.struct(F.col("_ts"), (-F.col("_seq")).alias("negseq")),
            ).alias("w")
        ).select("doc_id", "w.*")
        winner = winner.cache()
        cached.append(winner)

        # ---- postings: keep survivors, tokenize new winning upserts -------
        from vector_store_spark.functions.text import tokens_udf

        new_docs = winner.where(F.col("_op") == "upsert").select(
            "doc_id", F.col("_text").alias("_t"), "_ts"
        )
        # cache: doclens AND postings both consume the tokenized batch, and
        # each is materialized by its own bucket write — without the cache
        # the Arrow tokenize UDF runs twice per micro-batch
        toks = new_docs.select(
            "doc_id", "_ts", tokens_udf()(F.col("_t")).alias("toks")
        ).cache()
        cached.append(toks)
        new_doclens = toks.select(
            "doc_id", F.size("toks").alias("dl"), F.col("_ts").alias("ts")
        )
        new_postings = (
            toks.select("doc_id", F.posexplode("toks").alias("pos", "term"))
            .groupBy("term", "doc_id")
            .agg(
                F.count("*").alias("tf"),
                F.sort_array(F.collect_list("pos")).alias("positions"),
            )
        )
        survivors = winner.where(F.col("_op") == "stored").select("doc_id")
        old_postings = self._read(self.postings_dir, affected)
        if old_postings is not None:
            kept = old_postings.drop(BUCKET_COL).join(
                F.broadcast(survivors), "doc_id", "left_semi"
            )
            new_postings = new_postings.unionByName(kept)
        if stored is not None:
            # ONLY stored-winners keep their row: a delete-winner's old live
            # row must not survive next to its tombstone (it would inflate
            # n_docs and resurrect the doc in doclens)
            kept_dl = stored.drop(BUCKET_COL).join(
                F.broadcast(survivors), "doc_id", "left_semi"
            )
            new_doclens = new_doclens.unionByName(kept_dl)
        tombstones = winner.where(F.col("_op") == "delete").select(
            "doc_id", F.lit(None).cast("int").alias("dl"), F.col("_ts").alias("ts")
        )
        if self.gc_tombstones_before is not None:
            tombstones = tombstones.where(
                F.col("ts") >= F.lit(self.gc_tombstones_before)
            )
        new_doclens = new_doclens.unionByName(tombstones)

        # ---- rewrite ONLY the affected buckets ----------------------------
        import shutil
        from concurrent.futures import ThreadPoolExecutor

        # SNAPSHOT each output frame via a lazy localCheckpoint, materialized
        # by the pre-write present-collect. Two reasons this is a checkpoint
        # and not a cache, and why present is collected BEFORE the write:
        # both frames' lineage reads the stored doclens/postings DIRECTORIES
        # (through winner/stored/kept), and a parquet overwrite commit
        # invalidates every CacheManager entry whose plan reads the written
        # path — with concurrent legs, leg A's commit would uncache leg B's
        # frame mid-flight and force a recompute against a stale file
        # listing of an already-overwritten directory (observed:
        # FileNotFoundException on the old postings part files). A local
        # checkpoint truncates the plan to the persisted RDD, so neither the
        # commit invalidation nor the directory state can reach it, and the
        # two writes are then free to run CONCURRENTLY (the commit critical
        # path drops from tokenize+write_p+write_d to
        # tokenize+max(write_p, write_d)).
        #
        # The present-collects run SEQUENTIALLY, postings leg first: its
        # checkpoint materialization tokenizes the batch once INTO the shared
        # toks/winner caches (a separate toks.count() materializer would be a
        # redundant third job), and the doclens leg then reads those caches.
        legs = []
        for src, d in ((new_postings, self.postings_dir),
                       (new_doclens, self.doclens_dir)):
            df = src.withColumn(
                BUCKET_COL, _bucket_expr("doc_id", self.num_buckets)
            ).localCheckpoint(eager=False)
            present = {r[0] for r in df.select(BUCKET_COL).distinct().collect()}
            legs.append((df, d, present))

        def _rewrite(df: DataFrame, d: str, present: set) -> None:
            (
                df.repartition(max(1, len(affected)), F.col(BUCKET_COL))
                .write.option("partitionOverwriteMode", "dynamic").mode("overwrite")
                .partitionBy(BUCKET_COL)
                .parquet(d)
            )
            # dynamic overwrite only rewrites buckets PRESENT in the output —
            # an affected bucket whose last row disappeared (all docs removed
            # / tombstones GC'd) would keep stale files; drop those leaves
            for b in set(affected) - present:
                shutil.rmtree(
                    os.path.join(d, f"{BUCKET_COL}={b}"), ignore_errors=True
                )

        with ThreadPoolExecutor(max_workers=2) as ex:
            for f in [ex.submit(_rewrite, *leg) for leg in legs]:
                f.result()  # propagate the first failure

    def start(self, stream: DataFrame, checkpoint_dir: str,
              trigger_available_now: bool = True, processing_time: str | None = None):
        """Attach the sink. The trigger interval is the commit cadence (W6,
        tantivy.rs:129-130); checkpoint_dir is reader progress (W8)."""
        writer = stream.writeStream.foreachBatch(self.process_batch).option(
            "checkpointLocation", checkpoint_dir
        )
        if trigger_available_now:
            writer = writer.trigger(availableNow=True)
        elif processing_time:
            writer = writer.trigger(processingTime=processing_time)
        return writer.start()

    def serving_index(self):
        """Reopen the store as a queryable FtsIndex (the committed-searcher
        step): live docs only, stats re-aggregated (metadata-sized), both
        sides co-partitioned on doc_id like a fresh build. A store whose
        every doc was removed (and tombstones GC'd) has no parquet files
        left — serve a typed empty index rather than failing schema
        inference."""
        from vector_store_spark.operators.bm25 import FtsIndex, _copartition

        if self._exists(self.doclens_dir):
            doclens = self.spark.read.parquet(self.doclens_dir)
        else:
            doclens = self.spark.createDataFrame(
                [], "doc_id bigint, dl int, ts bigint"
            )
        doclens = doclens.where(F.col("dl").isNotNull()).select("doc_id", "dl")
        if self._exists(self.postings_dir):
            postings = self.spark.read.parquet(self.postings_dir).drop(BUCKET_COL)
        else:
            postings = self.spark.createDataFrame(
                [], "term string, doc_id bigint, tf bigint, positions array<int>"
            )
        doclens = _copartition(doclens).cache()
        postings = _copartition(postings).cache()
        n_docs, sum_dl = doclens.agg(F.count("*"), F.sum("dl")).first()
        avgdl = float(sum_dl) / n_docs if n_docs else 0.0
        df_by_term = postings.groupBy("term").agg(F.count("*").alias("df")).cache()
        return FtsIndex(postings, doclens, int(n_docs or 0), avgdl, "doc_id", df_by_term)
