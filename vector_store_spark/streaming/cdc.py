"""Continuous index maintenance: CDC stream → LWW snapshot (SURVEY.md §2.1
S3–S5, §2.8 W1–W8).

Reference architecture: two CDC readers (wide 30 s / fine 100 ms safety,
db_cdc/actor.rs:44-50) feed per-event mutations into an in-memory table with
LWW/tombstone state (table/mod.rs:697-1003), checkpointed by timestamp window
(db_cdc/checkpoint_saver.rs).

Spark re-expression: ONE Structured Streaming source with a watermark equal to
the wide reader's safety interval (duplicates are harmless — the LWW merge is
idempotent, which is exactly why the reference can run two readers), a
``foreachBatch`` sink that merges each micro-batch into a persistent snapshot,
and the stream's own checkpointLocation for exactly-once progress (W8).

Snapshot layout (the scale story):
- Parquet partitioned by ``bucket = pmod(xxhash64(keys), num_buckets)``.
- A micro-batch only touches the buckets its keys hash into: the merge reads
  *only those partitions* (partition pruning) and rewrites *only those
  partitions* (dynamic partition overwrite). Work per batch is proportional to
  batch size × snapshot/num_buckets, not snapshot size.
- Tombstones are retained in the snapshot (null cells + writetime) so late,
  stale upserts cannot resurrect deleted rows; ``gc_tombstones_before`` prunes
  them past the safety horizon (the reference's 10-min checkpoint window).
"""

from __future__ import annotations

import os
from typing import Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vector_store_spark.operators.lww import lww_merge

BUCKET_COL = "_bucket"
SNAPSHOT_SEQ = -1  # snapshot rows win equal-timestamp ties over new events


def _bucket_expr(key_cols: Sequence[str], num_buckets: int):
    return F.pmod(F.xxhash64(*[F.col(c) for c in key_cols]), F.lit(num_buckets)).cast("int")


def snapshot_as_events(
    snapshot: DataFrame,
    value_cols: Sequence[str],
    ts_col: str,
    seq_col: str,
    op_col: str,
) -> DataFrame:
    """Re-express a stored snapshot (values + per-column writetimes) as upsert
    events so it can be merged with a new batch through the same LWW path."""
    wt_cols = [F.col(f"{c}_writetime") for c in value_cols]
    ts = F.greatest(*wt_cols) if len(wt_cols) > 1 else wt_cols[0]
    return (
        snapshot.withColumn(ts_col, ts)
        .withColumn(seq_col, F.lit(SNAPSHOT_SEQ).cast("long"))
        .withColumn(op_col, F.lit("upsert"))
        .drop(BUCKET_COL)
    )


def merge_batch_into_snapshot(
    snapshot: DataFrame | None,
    batch: DataFrame,
    key_cols: Sequence[str],
    value_cols: Sequence[str],
    ts_col: str = "ts",
    seq_col: str = "seq",
    op_col: str = "op",
    writetime_cols: Mapping[str, str] | None = None,
    gc_tombstones_before: int | None = None,
) -> DataFrame:
    """Merge one micro-batch of upsert/delete events into the snapshot,
    returning the new snapshot (values + per-column writetimes, tombstones
    retained). Idempotent: replaying the same batch yields the same snapshot."""
    cols = [*key_cols, *value_cols, ts_col, seq_col, op_col]
    wt = dict(writetime_cols or {})
    events = batch
    for c in value_cols:
        src = wt.get(c)
        events = events.withColumn(f"__wt_{c}", F.col(src) if src else F.col(ts_col))
    events = events.select(*cols, *[f"__wt_{c}" for c in value_cols])

    if snapshot is not None:
        snap_ev = snapshot_as_events(snapshot, value_cols, ts_col, seq_col, op_col)
        snap_ev = snap_ev.select(
            *key_cols, *value_cols, ts_col, seq_col, op_col,
            *[F.col(f"{c}_writetime").alias(f"__wt_{c}") for c in value_cols],
        )
        events = events.unionByName(snap_ev)

    merged = lww_merge(
        events, key_cols, value_cols,
        ts_col=ts_col, seq_col=seq_col, op_col=op_col,
        writetime_cols={c: f"__wt_{c}" for c in value_cols},
        emit_writetimes=True,
    )
    if gc_tombstones_before is not None:
        all_dead = F.lit(True)
        for c in value_cols:
            all_dead = all_dead & F.col(c).isNull()
        max_wt = F.greatest(*[F.col(f"{c}_writetime") for c in value_cols]) if len(value_cols) > 1 \
            else F.col(f"{value_cols[0]}_writetime")
        merged = merged.where(~(all_dead & (max_wt < F.lit(gc_tombstones_before))))
    return merged


class CdcSnapshotSink:
    """foreachBatch sink maintaining the bucket-partitioned snapshot.

    ``derived_partition_cols`` maps extra partition-column names to functions
    ``DataFrame -> Column`` evaluated on the merged rows before each write:
    the snapshot is then ``partitionBy(_bucket, *derived)``, so merge reads
    keep pruning on the key bucket while QUERIES prune on the derived
    dimension — e.g. ``cluster`` from a fixed IVF assignment turns the live
    snapshot into a continuously-maintained approximate index (an updated
    vector that changes cluster simply lands in its new directory on the next
    rewrite: the reference's W3 move-between-partitions)."""

    def __init__(
        self,
        spark: SparkSession,
        snapshot_dir: str,
        key_cols: Sequence[str],
        value_cols: Sequence[str],
        ts_col: str = "ts",
        seq_col: str = "seq",
        op_col: str = "op",
        num_buckets: int = 32,
        gc_tombstones_before: int | None = None,
        expire_col: str | None = None,
        derived_partition_cols=None,
        on_batch=None,
    ):
        self.spark = spark
        self.snapshot_dir = snapshot_dir
        self.key_cols = list(key_cols)
        self.value_cols = list(value_cols)
        #: TTL expiry (the reference's CDC TTL semantics, validator
        #: cdc.rs:567, 699): ``expire_col`` names an event column holding the
        #: row's absolute expiry instant (same unit as ts; null = no TTL).
        #: It rides the LWW merge as an ordinary value column — the latest
        #: writer's TTL wins, exactly Scylla's USING TTL overwrite — and
        #: ``live_view(..., as_of=t)`` treats ``expire <= t`` as a tombstone.
        #: A fresh upsert AFTER expiry resurrects the key (newer writetime
        #: wins LWW); a stale pre-expiry replay cannot (it loses LWW).
        #: Rows expired before ``gc_tombstones_before`` are GC'd from the
        #: snapshot in the same pass as tombstones.
        self.expire_col = expire_col
        if expire_col is not None and expire_col not in self.value_cols:
            self.value_cols.append(expire_col)
        self.ts_col, self.seq_col, self.op_col = ts_col, seq_col, op_col
        self.num_buckets = num_buckets
        self.gc_tombstones_before = gc_tombstones_before
        self.derived_partition_cols = dict(derived_partition_cols or {})
        #: optional ``(sink, batch_df, batch_id) -> None`` called after each
        #: micro-batch commits — the hook for maintaining SECONDARY index
        #: structures (e.g. an HNSW graph) from the just-merged snapshot,
        #: mirroring the reference's Table-actor -> index add/remove fan-out
        #: (db_index.rs:130-262). Runs post-commit, so the callback sees the
        #: batch's winners via live_view/read_snapshot.
        self.on_batch = on_batch

    def _snapshot_exists(self) -> bool:
        # NB: dynamic partition overwrite does not write a _SUCCESS marker —
        # probe for bucket directories instead
        if not os.path.isdir(self.snapshot_dir):
            return False
        return any(e.startswith(f"{BUCKET_COL}=") for e in os.listdir(self.snapshot_dir))

    def read_snapshot(self, buckets: list[int] | None = None) -> DataFrame | None:
        if not self._snapshot_exists():
            return None
        df = self.spark.read.parquet(self.snapshot_dir)
        if buckets is not None:
            df = df.where(F.col(BUCKET_COL).isin(buckets))  # partition pruning
        return df

    def live_view(self, target_col: str, as_of: int | None = None) -> DataFrame:
        """Queryable snapshot: live rows only (tombstones filtered; with a
        configured ``expire_col`` and an ``as_of`` instant, TTL-expired rows
        filter out as tombstones too — validator cdc.rs:567's expiry check).
        Derived partition columns stay visible — filtering on them IS the
        pruned serving path."""
        df = self.read_snapshot()
        if df is None:
            raise FileNotFoundError(f"no snapshot at {self.snapshot_dir}")
        live = df.where(F.col(target_col).isNotNull())
        if self.expire_col is not None and as_of is not None:
            live = live.where(
                F.col(self.expire_col).isNull()
                | (F.col(self.expire_col) > F.lit(int(as_of)))
            )
        return live.drop(
            BUCKET_COL, *[f"{c}_writetime" for c in self.value_cols]
        )

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        # cache: the affected-bucket collect AND the merge lineage both
        # re-evaluate the micro-batch through its source read otherwise
        batch = batch.withColumn(
            BUCKET_COL, _bucket_expr(self.key_cols, self.num_buckets)).cache()
        try:
            self._process_cached_batch(batch, batch_id)
        finally:
            # a failing bucket write / on_batch hook must not leak the cached
            # micro-batch: one leaked frame per failed attempt accumulates in
            # a long-lived stream
            batch.unpersist()

    def _process_cached_batch(self, batch: DataFrame, batch_id: int) -> None:
        affected = [r[0] for r in batch.select(BUCKET_COL).distinct().collect()]
        if not affected:
            return
        snapshot = self.read_snapshot(buckets=affected)
        if snapshot is not None and self.derived_partition_cols:
            # derived cols are recomputed below from merged values — drop the
            # stored copies so the merge sees only keys/values/writetimes
            snapshot = snapshot.drop(*self.derived_partition_cols)
        merged = merge_batch_into_snapshot(
            snapshot, batch.drop(BUCKET_COL), self.key_cols, self.value_cols,
            self.ts_col, self.seq_col, self.op_col,
            gc_tombstones_before=self.gc_tombstones_before,
        )
        if self.expire_col is not None and self.gc_tombstones_before is not None:
            # leaf GC of TTL'd rows: once a row's expiry is past the safety
            # horizon no in-flight event can still resurrect-or-lose against
            # it, so the compacted leaf drops it (validator cdc.rs:699)
            merged = merged.where(
                F.col(self.expire_col).isNull()
                | (F.col(self.expire_col) >= F.lit(int(self.gc_tombstones_before)))
            )
        merged = merged.withColumn(
            BUCKET_COL, _bucket_expr(self.key_cols, self.num_buckets))
        for name, fn in self.derived_partition_cols.items():
            merged = merged.withColumn(name, fn(merged))
        if self.derived_partition_cols:
            merged = merged.cache()

        # rewrite only the affected buckets (dynamic partition overwrite)
        (
            merged.repartition(max(1, len(affected)), F.col(BUCKET_COL))
            .write.option("partitionOverwriteMode", "dynamic").mode("overwrite")
            .partitionBy(BUCKET_COL, *self.derived_partition_cols)
            .parquet(self.snapshot_dir)
        )
        if self.derived_partition_cols:
            # dynamic overwrite only rewrites leaves PRESENT in the output: a
            # (bucket, derived…) leaf whose last row moved away or died would
            # keep its stale files and resurrect old rows — drop such leaves
            # of the affected buckets explicitly (W4 partition lifecycle)
            import shutil
            import urllib.parse

            names = list(self.derived_partition_cols)
            # value space, not directory-name space: null stays None (its
            # leaf is __HIVE_DEFAULT_PARTITION__), everything else str()'d
            present = {
                tuple(None if v is None else str(v) for v in r)
                for r in merged.select(BUCKET_COL, *names).distinct().collect()
            }
            merged.unpersist()

            def _decode(leaf: str):
                # invert Spark's Hive partition-path escaping: the null
                # sentinel directory, then %XX percent-escapes (a literal %
                # in a value is itself written as %25, so unquote round-trips)
                if leaf == "__HIVE_DEFAULT_PARTITION__":
                    return None
                return urllib.parse.unquote(leaf)

            def _prune_stale(d: str, vals: tuple) -> None:
                level = len(vals) - 1  # vals[0] is the bucket
                if level == len(names):
                    if vals not in present:
                        shutil.rmtree(d, ignore_errors=True)
                    return
                prefix = names[level] + "="
                for e in os.listdir(d):
                    if e.startswith(prefix):
                        _prune_stale(os.path.join(d, e), vals + (_decode(e[len(prefix):]),))

            for b in affected:
                bdir = os.path.join(self.snapshot_dir, f"{BUCKET_COL}={b}")
                if os.path.isdir(bdir):
                    _prune_stale(bdir, (str(b),))

        if self.on_batch is not None:
            # the hook (index maintenance) reads the batch again — keep the
            # cache live through it (released by process_batch's finally)
            self.on_batch(self, batch.drop(BUCKET_COL), batch_id)

    def start(
        self,
        stream: DataFrame,
        checkpoint_dir: str,
        watermark: str | None = None,
        event_time_col: str | None = None,
        trigger_available_now: bool = True,
        processing_time: str | None = None,
    ):
        """Attach the sink to a stream. ``watermark`` plays the reference's CDC
        safety interval (W2); checkpoint_dir is the reader progress store (W8)."""
        if watermark and event_time_col:
            stream = stream.withWatermark(event_time_col, watermark)
        writer = stream.writeStream.foreachBatch(self.process_batch).option(
            "checkpointLocation", checkpoint_dir
        )
        if trigger_available_now:
            writer = writer.trigger(availableNow=True)
        elif processing_time:
            writer = writer.trigger(processingTime=processing_time)
        return writer.start()
