"""The lake table as a Spark *sink*: ``df.write.format("panorama")`` and
the streaming upsert sink, plus the ``include_version`` change-feed
column that makes lake→lake replication a pure
``readStream → writeStream`` pipeline with a deterministic LSN.

Scale/contract notes under test: writer tasks bucket rows with the
vectorized Murmur3 pinned bit-for-bit to ``F.hash`` and write them
through the table's own task writer (files land exactly where the
library writer would put them — point lookups stay one-bucket reads),
zone maps and bloom sidecars ride along and honour ``stats_skip_cols``,
commits are single atomic snapshots with the same batch-id exactly-once
guard the merge path uses, and the streaming sink writes merge-on-read
deltas (per-epoch cost O(epoch), no read of the resident table). Key
types the hash cannot cover are refused on the driver.
"""

import os

import pytest
from pyspark.sql import functions as F

from panorama_elt_spark.cdc.merge import merge_batch
from panorama_elt_spark.functions.murmur import bucket_of
from panorama_elt_spark.lakehouse import Field, LakeTable, TableSchema
from panorama_elt_spark.sources.panorama_datasource import (
    PanoramaDataSource,
    PanoramaStreamSink,
    PanoramaWriter,
)

SCHEMA = TableSchema(
    [
        Field(1, "id", "bigint", False),
        Field(2, "val", "double"),
        Field(3, "name", "string"),
    ],
    schema_version=1,
)


@pytest.fixture()
def registered(spark):
    spark.dataSource.register(PanoramaDataSource)
    return spark


def _frame(spark, n=500):
    return spark.range(0, n).select(
        F.col("id"),
        (F.col("id") * 2.0).alias("val"),
        F.concat(F.lit("n-"), F.col("id")).alias("name"),
    )


def test_batch_write_append_and_overwrite(registered, spark, tmp_path):
    root = str(tmp_path / "t")
    LakeTable.create(spark, root, SCHEMA, ["id"], n_buckets=4)
    df = _frame(spark)
    df.write.format("panorama").mode("append").save(root)
    t = LakeTable.load(spark, root)
    assert t.read().count() == 500
    # the vectorized murmur put rows in their F.hash buckets: a pruned
    # point lookup (bucket pruning + zone maps) finds the row
    assert [r["val"] for r in t.read_where([("id", "eq", 123)]).collect()] == [246.0]
    assert all(f.stats and "1" in f.stats for f in t.snapshot.files)
    # bloom sidecars like library files: the lookup plans fewer files
    # than its bucket holds (each write task left one file per bucket)
    assert all(
        os.path.exists(os.path.join(root, f.path + ".bloom")) for f in t.snapshot.files
    )
    in_bucket = t.snapshot.files_in_buckets({bucket_of([123], ["bigint"], 4)})
    assert len(in_bucket) >= 2
    planned = t.read_where([("id", "eq", 123)]).inputFiles()
    assert 1 <= len(planned) < len(in_bucket), (planned, in_bucket)
    df.write.format("panorama").mode("append").save(root)
    assert LakeTable.load(spark, root).read().count() == 1000
    df.write.format("panorama").mode("overwrite").save(root)
    t2 = LakeTable.load(spark, root)
    assert t2.read().count() == 500
    assert sorted(map(tuple, t2.read().collect())) == sorted(
        map(tuple, df.collect())
    )


def test_batch_write_schema_mismatch_raises(registered, spark, tmp_path):
    root = str(tmp_path / "t")
    LakeTable.create(spark, root, SCHEMA, ["id"], n_buckets=4)
    bad = spark.range(3).select(F.col("id"), F.lit(1.0).alias("other"))
    with pytest.raises(Exception, match="write schema mismatch"):
        bad.write.format("panorama").mode("append").save(root)
    # nothing committed, no stray data
    assert LakeTable.load(spark, root).read().count() == 0


def test_batch_write_honours_stats_skip_cols(registered, spark, tmp_path):
    root = str(tmp_path / "t")
    t = LakeTable.create(spark, root, SCHEMA, ["id"], n_buckets=4)
    t.overwrite(_frame(spark, 0), properties={"stats_skip_cols": "name"})
    _frame(spark).write.format("panorama").mode("append").save(root)
    files = LakeTable.load(spark, root).snapshot.files
    assert files
    # field 3 is "name": skipped; field 1 ("id") keeps its bounds
    assert all(f.stats and "1" in f.stats and "3" not in f.stats for f in files)


def test_write_refuses_unhashable_key_type_on_the_driver(registered, spark, tmp_path):
    root = str(tmp_path / "t")
    LakeTable.create(spark, root, SCHEMA, ["val"], n_buckets=4)  # a double key
    with pytest.raises(ValueError, match="'val' has type double"):
        PanoramaWriter(root, {}, False, ["id", "val", "name"])
    df = _frame(spark)
    sc = spark.sparkContext
    sc.setJobGroup("ds-double-key", "refused write")
    try:
        with pytest.raises(Exception, match="'val' has type double"):
            df.write.format("panorama").mode("append").save(root)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("ds-double-key") == []
    assert LakeTable.load(spark, root).read().count() == 0


def test_stream_sink_upserts_and_deletes(registered, spark, tmp_path):
    root = str(tmp_path / "t")
    t = LakeTable.create(spark, root, SCHEMA, ["id"], n_buckets=4)
    t.append(_frame(spark, 10))
    ev_dir = str(tmp_path / "ev")
    spark.createDataFrame(
        [(100, "U", 5, 99.0, "upd"), (101, "D", 7, None, None)],
        "lsn long, op string, id long, val double, name string",
    ).coalesce(1).write.parquet(ev_dir + "/b1")
    q = (
        spark.readStream.schema("lsn long, op string, id long, val double, name string")
        .parquet(ev_dir + "/*")
        .select("id", "val", "name", "op", "lsn")
        .writeStream.format("panorama")
        .option("path", root)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    t2 = LakeTable.load(spark, root)
    assert t2.snapshot.delta_buckets()  # the sink wrote MOR deltas
    deltas = [f for f in t2.snapshot.files if f.kind == "delta"]
    assert all(f.stats and "__lsn" in f.stats for f in deltas)
    assert all(os.path.exists(os.path.join(root, f.path + ".bloom")) for f in deltas)
    state = {r["id"]: r["val"] for r in t2.read().collect()}
    assert state[5] == 99.0 and 7 not in state and len(state) == 9
    # compaction folds the sink's deltas like any append_delta batch
    t2.compact()
    assert {r["id"]: r["val"] for r in t2.read().collect()} == state


def test_stream_sink_epoch_replay_is_exactly_once(spark, tmp_path):
    """Spark re-delivers an epoch after a crash-before-checkpoint; the
    sink's deterministic batch id resolves the replay to a skip."""
    root = str(tmp_path / "t")
    LakeTable.create(spark, root, SCHEMA, ["id"], n_buckets=4)
    sink = PanoramaStreamSink(
        root, {"path": root}, False, ["id", "val", "name", "op", "lsn"]
    )
    ev = spark.createDataFrame(
        [(1, "U", 1, 1.0, "a")], "lsn long, op string, id long, val double, name string"
    ).select("id", "val", "name", "op", "lsn")
    import pyarrow as pa

    batches = pa.Table.from_pandas(ev.toPandas()).to_batches()
    msg = sink.write(iter(batches))
    sink.commit([msg], batchId=7)
    v = LakeTable.load(spark, root).snapshot.version
    # replayed epoch: same batchId, fresh task attempt
    msg2 = sink.write(iter(batches))
    sink.commit([msg2], batchId=7)
    t = LakeTable.load(spark, root)
    assert t.snapshot.version == v  # skipped, no second commit
    assert t.read().count() == 1
    # a later epoch still applies
    sink.commit([msg2], batchId=8)
    assert LakeTable.load(spark, root).snapshot.version == v + 1


def test_lake_to_lake_replication_converges(registered, spark, tmp_path):
    """lake A → readStream(change_feed + include_version) → writeStream
    → lake B: pure Spark API, deterministic LSN = source snapshot
    version, exactly-once across drains, D rows delete downstream."""
    rootA, rootB = str(tmp_path / "a"), str(tmp_path / "b")
    A = LakeTable.create(spark, rootA, SCHEMA, ["id"], n_buckets=4)
    LakeTable.create(spark, rootB, SCHEMA, ["id"], n_buckets=4)

    def apply(events, bid):
        ev = spark.createDataFrame(
            events, "lsn long, op string, id long, val double, name string"
        )
        merge_batch(A, ev, batch_id=bid)

    def drain():
        feed = (
            spark.readStream.format("panorama")
            .option("change_feed", "true")
            .option("include_version", "true")
            .option("starting_version", 0)
            .load(rootA)
        )
        out = feed.select(
            "id",
            "val",
            "name",
            F.col("change_op").alias("op"),
            F.col("change_version").alias("lsn"),
        )
        q = (
            out.writeStream.format("panorama")
            .option("path", rootB)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    apply([(1, "U", 1, 1.0, "a"), (2, "U", 2, 2.0, "b"), (3, "U", 3, 3.0, "c")], "b1")
    apply([(4, "U", 2, 22.0, "b2"), (5, "D", 3, None, None), (6, "U", 4, 4.0, "d")], "b2")
    drain()
    a = sorted(map(tuple, LakeTable.load(spark, rootA).read().collect()))
    b = sorted(map(tuple, LakeTable.load(spark, rootB).read().collect()))
    assert a == b and len(b) == 3

    apply([(7, "U", 1, 111.0, "a3"), (8, "D", 4, None, None)], "b3")
    drain()
    a = sorted(map(tuple, LakeTable.load(spark, rootA).read().collect()))
    b = sorted(map(tuple, LakeTable.load(spark, rootB).read().collect()))
    assert a == b and len(b) == 2

    # no new source commits: the drain is a no-op on B
    v = LakeTable.load(spark, rootB).snapshot.version
    drain()
    assert LakeTable.load(spark, rootB).snapshot.version == v


def test_changes_batch_include_version(registered, spark, tmp_path):
    root = str(tmp_path / "t")
    t = LakeTable.create(spark, root, SCHEMA, ["id"], n_buckets=4)
    t.append(_frame(spark, 5))
    merge_batch(
        t,
        spark.createDataFrame(
            [(10, "U", 1, 9.0, "x")],
            "lsn long, op string, id long, val double, name string",
        ),
        batch_id="b1",
    )
    df = (
        spark.read.format("panorama")
        .option("changes_from", 0)
        .option("include_version", "true")
        .load(root)
    )
    rows = df.collect()
    assert rows and all(r["change_version"] == t.snapshot.version for r in rows)
