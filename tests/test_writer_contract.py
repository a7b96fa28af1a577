"""The system-column contract (table format 3): every writer stamps
``__op``/``__lsn`` on every data file, and documents from before the
contract are refused instead of being read with invented values."""

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from panorama_elt_spark.cdc.merge import merge_batch
from panorama_elt_spark.elt import ElTSettings, extract_and_load
from panorama_elt_spark.lakehouse import (
    Field,
    LakeTable,
    TableSchema,
    UnsupportedFormatVersion,
)
from panorama_elt_spark.sources.panorama_datasource import PanoramaDataSource

SCHEMA = TableSchema(
    [
        Field(1, "id", "bigint", False),
        Field(2, "val", "double"),
        Field(3, "name", "string"),
    ],
    schema_version=1,
)
EVENT_COLS = "lsn long, op string, id long, val double, name string"


def _frame(spark, n=40):
    return spark.range(0, n).select(
        F.col("id"),
        (F.col("id") * 2.0).alias("val"),
        F.concat(F.lit("n-"), F.col("id")).alias("name"),
    )


def _events(spark):
    return spark.createDataFrame(
        [(0, "U", 1, 9.0, "u1"), (1, "D", 2, None, None), (2, "I", 100, 1.0, "i")],
        EVENT_COLS,
    )


def _seeded(spark, root):
    t = LakeTable.create(spark, root, SCHEMA, ["id"], n_buckets=4)
    t.append(_frame(spark))
    return t


def _merge(strategy):
    def write(spark, tmp_path):
        t = _seeded(spark, str(tmp_path / "t"))
        merge_batch(t, _events(spark), "b0", strategy=strategy)
        return t

    return write


def _append(spark, tmp_path):
    return _seeded(spark, str(tmp_path / "t"))


def _overwrite(spark, tmp_path):
    t = _seeded(spark, str(tmp_path / "t"))
    t.overwrite(_frame(spark, 20))
    return t


def _csv_extract_and_load(spark, tmp_path):
    csv = tmp_path / "people.csv"
    csv.write_text("id,name\n1,alice\n2,bob\n3,carol\n")
    settings = ElTSettings(
        base_dir=str(tmp_path / "lake"),
        n_buckets=4,
        datasources=[
            {
                "name": "ops",
                "type": "csv",
                "tables": [{"name": "people", "location": str(csv), "key_cols": ["id"]}],
            }
        ],
    )
    (res,) = extract_and_load(spark, settings)
    assert res.status == "loaded", res.error
    return LakeTable.load(spark, res.root)


def _ds_batch(spark, tmp_path):
    spark.dataSource.register(PanoramaDataSource)
    root = str(tmp_path / "t")
    LakeTable.create(spark, root, SCHEMA, ["id"], n_buckets=4)
    _frame(spark).write.format("panorama").mode("append").save(root)
    return LakeTable.load(spark, root)


def _ds_stream_delta(spark, tmp_path):
    spark.dataSource.register(PanoramaDataSource)
    root = str(tmp_path / "t")
    LakeTable.create(spark, root, SCHEMA, ["id"], n_buckets=4)
    ev_dir = str(tmp_path / "ev")
    _events(spark).coalesce(1).write.parquet(ev_dir + "/b1")
    q = (
        spark.readStream.schema(EVENT_COLS)
        .parquet(ev_dir + "/*")
        .select("id", "val", "name", "op", "lsn")
        .writeStream.format("panorama")
        .option("path", root)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    t = LakeTable.load(spark, root)
    assert t.snapshot.delta_buckets()
    return t


def _compact(layout):
    def write(spark, tmp_path):
        t = _seeded(spark, str(tmp_path / "t"))
        merge_batch(t, _events(spark), "b0", strategy="append_delta")
        if layout == "zorder":
            t.compact(sort_by=["id", "val"], layout="zorder", max_rows_per_file=8)
        else:
            t.compact()
        assert not t.snapshot.delta_buckets()
        return t

    return write


def _rebucket(spark, tmp_path):
    t = _seeded(spark, str(tmp_path / "t"))
    merge_batch(t, _events(spark), "b0", strategy="append_delta")
    t.rebucket(8)
    return t


WRITERS = {
    "append": _append,
    "overwrite": _overwrite,
    "csv_extract_and_load": _csv_extract_and_load,
    "ds_batch_base": _ds_batch,
    "ds_stream_delta": _ds_stream_delta,
    "merge_fused": _merge("fused"),
    "merge_bucket_local": _merge("bucket_local"),
    "merge_append_delta": _merge("append_delta"),
    "compact": _compact("linear"),
    "compact_zorder": _compact("zorder"),
    "rebucket": _rebucket,
}


@pytest.mark.parametrize("writer", sorted(WRITERS))
def test_every_writer_stamps_system_columns(spark, tmp_path, writer):
    t = WRITERS[writer](spark, tmp_path)
    files = t.snapshot.files
    assert files
    for f in files:
        path = os.path.join(t.root, f.path)
        schema = pq.read_schema(path)
        assert schema.field("__op").type == pa.string(), (writer, f.path)
        assert schema.field("__lsn").type == pa.int64(), (writer, f.path)
        cols = pq.read_table(path, columns=["__op", "__lsn"])
        assert cols["__op"].null_count == 0 and cols["__lsn"].null_count == 0, (
            writer,
            f.path,
        )


def test_pre_contract_snapshot_is_refused(spark, tmp_path):
    """A format-2 document may hold files without system columns; the
    engine names the version and refuses it rather than guess."""
    root = str(tmp_path / "t")
    t = LakeTable.create(spark, root, SCHEMA, ["id"], n_buckets=4)
    doc = json.loads(t.io.read_text(t.log._version_path(0)))
    assert doc["format_version"] == 3
    doc.update(format_version=2, version=1)
    t.io.write_text(t.log._version_path(1), json.dumps(doc))
    t.log._publish(1)
    with pytest.raises(UnsupportedFormatVersion, match="format_version 2"):
        LakeTable.load(spark, root)


def test_writer_rejects_rows_without_system_columns(spark, tmp_path):
    """The library's one file writer refuses a frame that would break the
    contract (e.g. a rewrite that read state without ``with_lsn``)."""
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["id"], n_buckets=4)
    with pytest.raises(ValueError, match="__op/__lsn"):
        t.write_bucket_files(t.snapshot, _frame(spark), 1)


def test_merge_writes_under_the_parent_it_resolved(spark, tmp_path, monkeypatch):
    """The writer takes the caller's parent snapshot: one ``auto`` merge
    resolves the table once, so its files carry the schema version and
    bucket count of the parent its commit names."""
    from panorama_elt_spark.lakehouse.snapshot import SnapshotLog

    t = _seeded(spark, str(tmp_path / "t"))
    calls = []
    resolve = SnapshotLog.resolve

    def counting(self, *args, **kwargs):
        calls.append(args)
        return resolve(self, *args, **kwargs)

    monkeypatch.setattr(SnapshotLog, "resolve", counting)
    merge_batch(t, _events(spark), "b0")
    assert len(calls) == 1
