"""Round-6 correctness + read-path-scale fixes.

Covers the four round-5 ADVICE findings and the verdict's top item:

* naive-timestamp key predicates: pushFilters / read_where must
  normalize with the session tz before driver-side murmur hashing (or
  disable key-hash pruning), never hash wall-times as UTC;
* key-column type changes (even registry-legal widenings) are rejected
  by ``alter_schema`` — the bucket hash is type-dependent;
* NULL-keyed rows survive the data source's Arrow LWW fold (parity
  with the JVM groupBy path) and the bucket-local merge kernel;
* conf pinning (pinned shuffle / arrow write batch) cannot leak across
  threads: per-session lock + a cloned session for async compaction;
* state-read partition grain: delta-free buckets split into per-file
  input partitions (scan parallelism = live files, not buckets).
"""

import datetime
import os

import pytest
from pyspark.sql import functions as F, types as T

from panorama_elt_spark.cdc import CdcEngine, ChangeLogSpec, generate_change_log
from panorama_elt_spark.cdc.merge import merge_batch
from panorama_elt_spark.functions.murmur import bucket_of
from panorama_elt_spark.lakehouse import Field, LakeTable, TableSchema
from panorama_elt_spark.lakehouse.bloom import build, serialize, sidecar_file_filter
from panorama_elt_spark.lakehouse.fileio import InMemoryFileIO
from panorama_elt_spark.lakehouse.schema import SchemaEvolutionError
from panorama_elt_spark.lakehouse.table import normalize_key_value_sets
from panorama_elt_spark.sources.panorama_datasource import (
    PanoramaDataSource,
    PanoramaReader,
)

SCHEMA = TableSchema(
    [
        Field(1, "repo", "string", False),
        Field(2, "path", "string", False),
        Field(3, "content", "string"),
    ],
    schema_version=1,
)


def _sorted(df):
    return sorted(map(tuple, df.collect()), key=repr)


# ------------------------------------------------- tz-safe key pruning


def test_normalize_key_value_sets():
    naive = datetime.datetime(2024, 1, 2, 3, 4, 5)
    vs = {"k": {naive}}
    types = {"k": "timestamp"}
    # parseable tz → aware values in that tz
    out = normalize_key_value_sets(vs, types, "America/New_York")
    (v,) = out["k"]
    assert v.tzinfo is not None and v.utcoffset() != datetime.timedelta(0)
    # unknown tz + naive timestamp → pruning must be disabled
    assert normalize_key_value_sets(vs, types, None) is None
    assert normalize_key_value_sets(vs, types, "Not/AZone") is None
    # no naive timestamps → untouched passthrough
    vs2 = {"k": {naive.replace(tzinfo=datetime.timezone.utc)}, "s": {"x"}}
    assert normalize_key_value_sets(vs2, {"k": "timestamp", "s": "string"}, None) == vs2


def test_timestamp_key_point_lookup_non_utc_session(spark, tmp_path):
    """Timestamp-keyed point lookups must never plan the WRONG bucket:

    * Spark 4.1's pushdown hands the Python source an aware-UTC value —
      hashed correctly, pruning stays active (e2e through a non-UTC
      session, where the old naive-as-UTC hashing bug would bite);
    * a NAIVE value with no recoverable session tz (the planning worker
      has no active session) must DISABLE bucket/bloom pruning rather
      than hash the wall time as UTC;
    * with a known session tz, a naive value normalizes to that tz
      (``LakeTable.read_where`` semantics — its documented naive-means-
      session-local contract)."""
    schema = TableSchema(
        [Field(1, "ts", "timestamp", False), Field(2, "v", "string")], schema_version=1
    )
    root = str(tmp_path / "t")
    table = LakeTable.create(spark, root, schema, ["ts"], n_buckets=32)
    ts_utc = datetime.datetime(2024, 5, 6, 12, 0, 0, tzinfo=datetime.timezone.utc)
    table.append(spark.createDataFrame([(ts_utc, "hit")], schema.to_struct()))
    from pyspark.sql.datasource import EqualTo

    # aware-UTC pushed value (what Spark 4.1 actually sends): exact bucket
    reader = PanoramaReader(root, {})
    reader._session_tz = None  # the planning worker has no session
    reader.pushFilters([EqualTo(("ts",), ts_utc)])
    assert reader._plan().key_buckets == {bucket_of([ts_utc], ["timestamp"], 32)}

    # naive value + unknown tz: pruning disabled, never a wrong bucket
    naive = datetime.datetime(2024, 5, 6, 12, 0, 0)
    reader2 = PanoramaReader(root, {})
    reader2._session_tz = None
    reader2.pushFilters([EqualTo(("ts",), naive)])
    assert reader2._plan().key_buckets is None

    # naive value + known session tz: normalized to that tz's instant
    reader3 = PanoramaReader(root, {})
    reader3._session_tz = "America/New_York"
    local_naive = datetime.datetime(2024, 5, 6, 8, 0, 0)  # == 12:00Z in EDT
    reader3.pushFilters([EqualTo(("ts",), local_naive)])
    assert reader3._plan().key_buckets == {bucket_of([ts_utc], ["timestamp"], 32)}

    # end-to-end through a non-UTC session: pruned read still finds the row
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        spark.dataSource.register(PanoramaDataSource)
        got = (
            spark.read.format("panorama")
            .load(root)
            .filter(F.col("ts") == F.expr("TIMESTAMP '2024-05-06 08:00:00'"))
            .collect()
        )
        assert [r["v"] for r in got] == ["hit"]
        # read_where's naive-means-session-local contract
        assert [
            r["v"] for r in table.read_where([("ts", "eq", local_naive)]).collect()
        ] == ["hit"]
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


# ------------------------------------------------- key widen rejection


def test_alter_schema_rejects_key_type_change(spark, tmp_path):
    schema = TableSchema(
        [Field(1, "id", "int", False), Field(2, "v", "string")], schema_version=1
    )
    table = LakeTable.create(spark, str(tmp_path / "t"), schema, ["id"], n_buckets=8)
    widened = TableSchema(
        [Field(1, "id", "bigint", False), Field(2, "v", "string")], schema_version=2
    )
    with pytest.raises(SchemaEvolutionError, match="key column"):
        table.alter_schema(widened)
    # non-key widening still fine
    ok = TableSchema(
        [Field(1, "id", "int", False), Field(2, "v", "string"), Field(3, "n", "bigint")],
        schema_version=2,
    )
    snap = table.alter_schema(ok)
    assert snap.schema.schema_version == 2


# ------------------------------------------------- null-key parity


def test_ds_read_keeps_null_keyed_rows(spark, tmp_path):
    """MOR fold through the data source must keep NULL-keyed rows —
    parity with the JVM read path's groupBy."""
    schema = TableSchema(
        [
            Field(1, "repo", "string"),  # nullable key
            Field(2, "path", "string", False),
            Field(3, "content", "string"),
        ],
        schema_version=1,
    )
    root = str(tmp_path / "t")
    table = LakeTable.create(spark, root, schema, ["repo", "path"], n_buckets=4)
    ev_struct = T.StructType(
        list(schema.to_struct().fields)
        + [T.StructField("op", T.StringType()), T.StructField("lsn", T.LongType())]
    )
    b1 = spark.createDataFrame(
        [(None, "a.py", "v0", "I", 1), ("r1", "b.py", "x0", "I", 2)], ev_struct
    )
    merge_batch(table, b1, "b1")
    # delta epoch updates the null-keyed row
    b2 = spark.createDataFrame([(None, "a.py", "v1", "U", 3)], ev_struct)
    merge_batch(table, b2, "b2", strategy="append_delta")
    assert table.snapshot.delta_buckets()
    spark.dataSource.register(PanoramaDataSource)
    jvm = _sorted(table.read().select("repo", "path", "content"))
    ds = _sorted(
        spark.read.format("panorama").load(root).select("repo", "path", "content")
    )
    assert ds == jvm
    assert (None, "a.py", "v1") in ds


def test_bucket_local_merge_handles_null_keys(spark, tmp_path):
    schema = TableSchema(
        [
            Field(1, "repo", "string"),
            Field(2, "path", "string", False),
            Field(3, "content", "string"),
        ],
        schema_version=1,
    )
    table = LakeTable.create(spark, str(tmp_path / "t"), schema, ["repo", "path"], n_buckets=4)
    ev_struct = T.StructType(
        list(schema.to_struct().fields)
        + [T.StructField("op", T.StringType()), T.StructField("lsn", T.LongType())]
    )
    b1 = spark.createDataFrame(
        [(None, "a.py", "v0", "I", 1), ("r1", "b.py", "x0", "I", 2)], ev_struct
    )
    merge_batch(table, b1, "b1")
    b2 = spark.createDataFrame(
        [(None, "a.py", "v1", "U", 3), ("r1", "b.py", "x1", "U", 4)], ev_struct
    )
    merge_batch(table, b2, "b2", strategy="bucket_local")
    got = _sorted(table.read().select("repo", "path", "content"))
    assert got == sorted([(None, "a.py", "v1"), ("r1", "b.py", "x1")], key=repr)


# ------------------------------------------------- conf-leak guard


def test_async_compaction_runs_on_cloned_session(spark, tmp_path):
    schema = SCHEMA
    table = LakeTable.create(spark, str(tmp_path / "t"), schema, ["repo", "path"], n_buckets=8)
    before = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.shuffle.partitions",
            "spark.sql.adaptive.coalescePartitions.enabled",
            "spark.sql.execution.arrow.maxRecordsPerBatch",
        )
    }
    log = generate_change_log(spark, ChangeLogSpec(n_events=4000, n_keys=300))
    engine = CdcEngine(
        table, strategy="append_delta", compact_every=1, compact_async=True
    )
    engine.replay(log, batch_size=1000)
    # the fold ran on its own session — the main session's conf can
    # never be left pinned by an interleaved restore
    assert engine._compact_table is not None
    assert engine._compact_table.spark is not spark
    after = {k: spark.conf.get(k) for k in before}
    assert after == before
    # state parity with a plain sync replay
    table2 = LakeTable.create(spark, str(tmp_path / "t2"), schema, ["repo", "path"], n_buckets=8)
    CdcEngine(table2).replay(log, batch_size=1000)
    assert _sorted(table.read()) == _sorted(table2.read())


# ------------------------------------------------- per-file partitions


def test_ds_per_file_partitions_for_compacted_buckets(spark, tmp_path):
    schema = SCHEMA
    root = str(tmp_path / "t")
    table = LakeTable.create(spark, root, schema, ["repo", "path"], n_buckets=4)
    rows = [(f"o/r{i % 7}", f"f{i}.py", f"body{i}") for i in range(400)]
    table.append(spark.createDataFrame(rows, schema.to_struct()))
    # clustering rewrite rolls each bucket into many bounded files
    table.compact(sort_by=["path"], max_rows_per_file=25)
    reader = PanoramaReader(root, {})
    parts = reader.partitions()
    n_files = table.snapshot.total_files()
    assert n_files > 4  # the roll produced multiple files per bucket
    assert len(parts) == n_files  # per-file grain on a delta-free table
    assert all(len(p.files) == 1 for p in parts)
    spark.dataSource.register(PanoramaDataSource)
    ds = spark.read.format("panorama").load(root)
    assert ds.rdd.getNumPartitions() == n_files
    assert _sorted(ds) == _sorted(table.read())
    # a bucket holding MOR deltas stays ONE partition (the fold needs
    # key co-location); delta-free buckets keep per-file grain
    ev_struct = T.StructType(
        list(schema.to_struct().fields)
        + [T.StructField("op", T.StringType()), T.StructField("lsn", T.LongType())]
    )
    upd = spark.createDataFrame([("o/r0", "f0.py", "new", "U", 10)], ev_struct)
    merge_batch(table, upd, "bd", strategy="append_delta")
    delta_buckets = table.snapshot.delta_buckets()
    assert len(delta_buckets) == 1
    parts2 = PanoramaReader(root, {}).partitions()
    delta_parts = [p for p in parts2 if p.bucket in delta_buckets]
    assert len(delta_parts) == 1 and len(delta_parts[0].files) > 1
    ds2 = spark.read.format("panorama").load(root)
    assert _sorted(ds2) == _sorted(table.read())


# ------------------------------------------------- bloom via FileIO


def test_sidecar_file_filter_routes_through_fileio():
    io = InMemoryFileIO()
    m, bits = build([123456, -987])

    class F_:
        path = "data/f1.parquet"

    io.write_text("/root_/data/f1.parquet.bloom", serialize(m, bits))
    keep = sidecar_file_filter(io, "/root_", [123456])
    assert keep(F_())
    drop = sidecar_file_filter(io, "/root_", [55555555])
    assert not drop(F_())

    class Missing:
        path = "data/absent.parquet"

    assert sidecar_file_filter(io, "/root_", [1])(Missing())  # conservative


# ------------------------------------------------- shuffle-scratch policy


def test_default_local_dir_policy(monkeypatch, tmp_path):
    from panorama_elt_spark.session import _default_local_dir

    # env override wins everywhere; "default" opts back to Spark's default
    monkeypatch.setenv("PANORAMA_LOCAL_DIR", str(tmp_path))
    assert _default_local_dir("spark://host:7077") == str(tmp_path)
    monkeypatch.setenv("PANORAMA_LOCAL_DIR", "default")
    assert _default_local_dir("local[8]") is None
    monkeypatch.delenv("PANORAMA_LOCAL_DIR")

    # cluster masters never get an implicit local dir (deployment decision)
    assert _default_local_dir("spark://host:7077") is None
    assert _default_local_dir("yarn") is None

    # local masters pick the RAM-backed dir only when the gate passes
    got = _default_local_dir("local[8]")
    if os.path.isdir("/dev/shm"):
        st = os.statvfs("/dev/shm")
        if st.f_bavail * st.f_frsize >= 32 << 30:
            assert got == f"/dev/shm/panorama-spark-local-{os.getuid()}"
            assert os.path.isdir(got)
            assert os.stat(got).st_mode & 0o777 == 0o700
        else:
            assert got is None
    else:
        assert got is None


def test_local_dir_refuses_a_dir_others_can_write(tmp_path):
    """The scratch dir is per user and private: a pre-created directory
    that is group/world-writable, owned by another user, or a symlink is
    refused (Spark's default stands) instead of being written into."""
    from panorama_elt_spark.session import _private_dir

    mine = tmp_path / "mine"
    assert _private_dir(str(mine)) == str(mine)
    assert os.stat(mine).st_mode & 0o777 == 0o700

    shared = tmp_path / "shared"
    shared.mkdir()
    os.chmod(shared, 0o777)
    assert _private_dir(str(shared)) is None

    link = tmp_path / "link"
    link.symlink_to(mine)
    assert _private_dir(str(link)) is None

    if os.getuid() == 0:  # only root can hand a directory to another user
        theirs = tmp_path / "theirs"
        theirs.mkdir(mode=0o700)
        os.chown(theirs, 65534, 65534)
        assert _private_dir(str(theirs)) is None
