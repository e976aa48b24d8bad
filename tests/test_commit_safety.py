"""Fault injection on the index commit paths: the HNSW payload staging
commit and the session conf a CDC maintenance wave leaves behind."""

import pytest
from pyspark.sql import functions as F

DIMS = 8
KEY = "spark.sql.sources.partitionOverwriteMode"


def _vec(i):
    return [(((i * 13 + j * 7) % 41) - 20) / 20.0 for j in range(DIMS)]


def _items(spark, ids):
    return spark.createDataFrame([(i, _vec(i), i % 3) for i in ids],
                                 "vec_id long, embedding array<float>, label int")


@pytest.fixture
def hnsw_path(spark, tmp_path):
    from vector_store_spark.operators.hnsw import hnsw_build

    path = str(tmp_path / "hnsw")
    hnsw_build(_items(spark, range(60)), "vec_id", "embedding", path, m=4,
               ef_construction=16, num_slices=3, payload_cols=["label"])
    return path


def test_stale_staging_slice_never_reaches_payload(spark, hnsw_path):
    """A ``slice=N`` dir left in the staging dir by a crashed commit must not
    be renamed into the payload by the next upsert, even when the session
    runs dynamic partition overwrite."""
    import os

    from vector_store_spark.operators.hnsw import hnsw_upsert

    payload = spark.read.parquet(os.path.join(hnsw_path, "payload"))
    stale = payload.where(F.col("slice") == 0).limit(1).withColumn(
        "vec_id", F.lit(987654321).cast("long")).withColumn("slice", F.lit(7))
    stale.write.partitionBy("slice").parquet(os.path.join(hnsw_path, "_payload_staging"))
    assert os.path.isdir(os.path.join(hnsw_path, "_payload_staging", "slice=7"))
    before = spark.conf.get(KEY)
    spark.conf.set(KEY, "dynamic")
    try:
        hnsw_upsert(spark, hnsw_path, items=_items(spark, [3, 100]), ids_removed=[5])
    finally:
        spark.conf.set(KEY, before)
    assert not os.path.exists(os.path.join(hnsw_path, "payload", "slice=7"))
    ids = {r.vec_id for r in spark.read.parquet(
        os.path.join(hnsw_path, "payload")).select("vec_id").collect()}
    assert 987654321 not in ids and 100 in ids and 5 not in ids


def test_failed_payload_rename_raises(spark, hnsw_path, monkeypatch):
    """A rename that returns false (Hadoop's failure signal on many
    filesystems) must raise rather than silently drop the slice."""
    from vector_store_spark.operators.hnsw import hnsw_upsert
    from vector_store_spark.sources.index_store import HadoopDir

    monkeypatch.setattr(HadoopDir, "_fs_rename", lambda self, src, dst: False)
    with pytest.raises(IOError, match="rename failed"):
        hnsw_upsert(spark, hnsw_path, items=_items(spark, [100]), ids_removed=[5])


def test_cdc_wave_leaves_session_conf_alone(spark, tmp_path):
    """process_batch + ivf_update + hnsw_upsert commit their partitions with
    per-writer overwrite modes; the session's value is untouched."""
    from vector_store_spark.operators.hnsw import hnsw_build, hnsw_upsert
    from vector_store_spark.operators.ivf import ivf_build, ivf_update
    from vector_store_spark.streaming.cdc import CdcSnapshotSink

    schema = "id long, embedding array<float>, ts long, seq long, op string"
    sink = CdcSnapshotSink(spark, str(tmp_path / "snap"), ["id"], ["embedding"],
                           num_buckets=4)
    before = spark.conf.get(KEY)
    sink.process_batch(spark.createDataFrame(
        [(i, _vec(i), 100, i, "upsert") for i in range(40)], schema), 0)
    live = sink.live_view("embedding")
    ivf_build(live, "id", "embedding", str(tmp_path / "ivf"), k_centroids=4)
    hnsw_build(live, "id", "embedding", str(tmp_path / "hnsw"), m=4,
               ef_construction=16, num_slices=2)
    assert spark.conf.get(KEY) == before

    sink.process_batch(spark.createDataFrame(
        [(3, _vec(50), 200, 100, "upsert"), (4, None, 200, 101, "delete")], schema), 1)
    added = spark.createDataFrame([(3, _vec(50))], "id long, embedding array<float>")
    ivf_update(spark, str(tmp_path / "ivf"), "id", "embedding",
               items_added=added, ids_removed=[4])
    hnsw_upsert(spark, str(tmp_path / "hnsw"), items=added, ids_removed=[3, 4])
    assert spark.conf.get(KEY) == before
    assert {r.id for r in sink.live_view("embedding").collect()} == set(range(40)) - {4}
