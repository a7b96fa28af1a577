"""Lake table format: snapshots, atomic commits, schema evolution, vacuum."""

import os

import pytest

from panorama_elt_spark.lakehouse import (
    AddColumn,
    CommitConflict,
    Field,
    LakeTable,
    RenameColumn,
    TableSchema,
    WidenColumn,
    diff_schemas,
)
from panorama_elt_spark.lakehouse.schema import SchemaEvolutionError, apply_alters

SCHEMA_V1 = TableSchema(
    [
        Field(1, "repo", "string", False),
        Field(2, "path", "string", False),
        Field(3, "commit", "string"),
        Field(4, "lang", "string"),
        Field(5, "content", "string"),
    ],
    schema_version=1,
)


def test_create_and_read_empty(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA_V1, ["repo", "path"], n_buckets=8)
    assert t.read().count() == 0
    assert t.snapshot.version == 0


def test_append_read_roundtrip(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA_V1, ["repo", "path"], n_buckets=8)
    df = spark.createDataFrame(
        [("o/r1", "a.py", "c1", "py", "x"), ("o/r2", "b.py", "c2", "py", "y")],
        SCHEMA_V1.to_struct(),
    )
    t.append(df)
    got = {tuple(r) for r in t.read().collect()}
    assert got == {("o/r1", "a.py", "c1", "py", "x"), ("o/r2", "b.py", "c2", "py", "y")}
    # manifest rows match data
    assert sum(f.rows for f in t.snapshot.files) == 2


def test_commit_conflict_detected(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA_V1, ["repo", "path"])
    stale = t.snapshot
    t.alter_schema(SCHEMA_V1)  # bump version under the stale reader
    with pytest.raises(CommitConflict):
        t.commit_replace_buckets(stale, set(), [])


def test_schema_diff_add_widen_rename():
    v2 = TableSchema(
        [
            Field(1, "repo", "string", False),
            Field(2, "path", "string", False),
            Field(3, "commit", "string"),
            Field(4, "language", "string"),  # renamed
            Field(5, "content", "string"),
            Field(6, "stars", "bigint", default=0),  # added
        ],
        schema_version=2,
    )
    ops = diff_schemas(SCHEMA_V1, v2)
    kinds = {type(o) for o in ops}
    assert kinds == {AddColumn, RenameColumn}
    evolved = apply_alters(SCHEMA_V1, ops, 2)
    assert evolved.field_by_name("language").id == 4
    assert evolved.field_by_name("stars").default == 0

    v3 = apply_alters(
        evolved, [WidenColumn(6, "bigint", "bigint")], 3
    )
    assert v3.field_by_name("stars").type == "bigint"


def test_schema_diff_rejects_drop_and_narrow():
    dropped = TableSchema(SCHEMA_V1.fields[:-1], 2)
    with pytest.raises(SchemaEvolutionError):
        diff_schemas(SCHEMA_V1, dropped)
    narrowed = TableSchema(
        [Field(1, "repo", "string", False), Field(2, "path", "string", False),
         Field(3, "commit", "string"), Field(4, "lang", "string"),
         Field(5, "content", "int")],
        2,
    )
    with pytest.raises(SchemaEvolutionError):
        diff_schemas(SCHEMA_V1, narrowed)


def test_old_files_readable_after_evolution(spark, tmp_path):
    """Add + rename: files written under v1 read back under the v2 schema
    with backfilled default and renamed column — no data rewrite."""
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA_V1, ["repo", "path"], n_buckets=4)
    t.append(
        spark.createDataFrame([("o/r", "a.py", "c1", "py", "x")], SCHEMA_V1.to_struct())
    )
    v2 = TableSchema(
        [
            Field(1, "repo", "string", False),
            Field(2, "path", "string", False),
            Field(3, "commit", "string"),
            Field(4, "language", "string"),
            Field(5, "content", "string"),
            Field(6, "stars", "bigint", default=7),
        ],
        schema_version=2,
    )
    t.alter_schema(v2)
    row = t.read().collect()[0].asDict()
    assert row == {
        "repo": "o/r", "path": "a.py", "commit": "c1",
        "language": "py", "content": "x", "stars": 7,
    }


def test_time_travel_and_vacuum(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA_V1, ["repo", "path"], n_buckets=4)
    df1 = spark.createDataFrame([("o/r", "a.py", "c1", "py", "x")], SCHEMA_V1.to_struct())
    s1 = t.append(df1)
    df2 = spark.createDataFrame([("o/r", "b.py", "c2", "py", "y")], SCHEMA_V1.to_struct())
    t.append(df2)
    assert t.read(version=s1.version).count() == 1
    assert t.read().count() == 2
    assert t.vacuum() == 0  # appends never orphan files


def test_lineage_spill_and_batchid_retention(spark, tmp_path, monkeypatch):
    """The snapshot document stays O(retention): old lineage rows spill
    to listed parquet files (lineage_df folds them back), and batch ids
    beyond the recent window spill to listed id files — the exactly-once
    guard still sees BOTH windows (no id is ever lost)."""
    from panorama_elt_spark.cdc import merge_batch
    from panorama_elt_spark.lakehouse import Field, LakeTable, TableSchema

    from panorama_elt_spark.lakehouse import table as table_mod

    monkeypatch.setattr(table_mod, "LINEAGE_RETAIN", 2)
    monkeypatch.setattr(table_mod, "BATCHID_RECENT", 3)
    schema = TableSchema(
        [
            Field(1, "repo", "string", False),
            Field(2, "path", "string", False),
            Field(3, "commit", "string"),
            Field(4, "lang", "string"),
            Field(5, "content", "string"),
        ],
        schema_version=1,
    )
    t = LakeTable.create(spark, str(tmp_path / "t"), schema, ["repo", "path"], n_buckets=2)
    total_rows = 0
    for k in range(5):
        batch = spark.createDataFrame(
            [(k, "I", f"r{k}", f"p{k}", f"c{k}", "py", f"x{k}")],
            "lsn bigint, op string, repo string, path string, commit string, lang string, content string",
        )
        stats = merge_batch(t, batch, f"b{k}")
        total_rows += stats.buckets_touched
    snap = t.snapshot
    assert len(snap.lineage) <= 2
    assert snap.lineage_files  # something spilled
    ldf = t.lineage_df()
    assert ldf.count() == total_rows
    assert {r["batch_id"] for r in ldf.collect()} == {f"b{k}" for k in range(5)}
    # batch ids: in-doc window bounded, older ids spilled (not lost)
    assert len(snap.committed_batches) == 3
    assert snap.batchid_files and "b0" not in snap.committed_batches
    v = snap.version
    for replayed in ("b4", "b0"):  # recent-window hit AND spill hit
        assert merge_batch(t, spark.createDataFrame(
            [(99, "I", "rx", "px", "cx", "py", "xx")],
            "lsn bigint, op string, repo string, path string, commit string, lang string, content string",
        ), replayed).skipped
    assert t.snapshot.version == v


def test_vacuum_removes_orphan_lineage_spills(spark, tmp_path, monkeypatch):
    """A spill file written by a failed commit is unreferenced; vacuum
    removes it while referenced spills survive and lineage_df is intact."""
    import os as _os

    from panorama_elt_spark.cdc import merge_batch
    from panorama_elt_spark.lakehouse import Field, LakeTable, TableSchema

    from panorama_elt_spark.lakehouse import table as table_mod

    monkeypatch.setattr(table_mod, "LINEAGE_RETAIN", 1)
    schema = TableSchema(
        [Field(1, "repo", "string", False), Field(2, "path", "string", False),
         Field(3, "commit", "string")],
        schema_version=1,
    )
    t = LakeTable.create(spark, str(tmp_path / "t"), schema, ["repo"], n_buckets=2)
    for k in range(3):
        batch = spark.createDataFrame(
            [(k, "I", f"r{k}", f"p{k}", f"c{k}")],
            "lsn bigint, op string, repo string, path string, commit string",
        )
        merge_batch(t, batch, f"b{k}")
    n_live = len(t.snapshot.lineage_files)
    assert n_live >= 1
    # plant an orphan (the residue of a failed commit)
    orphan = _os.path.join(str(tmp_path / "t"), "_meta", "lineage", "spill-v99.parquet")
    import shutil as _shutil
    _shutil.copy(_os.path.join(str(tmp_path / "t"), t.snapshot.lineage_files[0]), orphan)
    before = t.lineage_df().count()
    removed = t.vacuum()
    assert removed >= 1
    assert not _os.path.exists(orphan)
    assert len(t.snapshot.lineage_files) == n_live
    assert t.lineage_df().count() == before


def test_expire_snapshots_bounds_log(spark, tmp_path):
    """Old snapshot documents age out (time travel to them ends); the
    current state is untouched and vacuum reclaims the orphaned files."""
    import os as _os

    import pytest as _pytest

    from panorama_elt_spark.cdc import merge_batch
    from panorama_elt_spark.lakehouse import Field, LakeTable, TableSchema

    schema = TableSchema(
        [Field(1, "repo", "string", False), Field(2, "path", "string", False),
         Field(3, "commit", "string")],
        schema_version=1,
    )
    t = LakeTable.create(spark, str(tmp_path / "t"), schema, ["repo"], n_buckets=2)
    for k in range(4):
        merge_batch(t, spark.createDataFrame(
            [(k, "U", "r0", "p0", f"c{k}")],
            "lsn bigint, op string, repo string, path string, commit string",
        ), f"b{k}")
    assert t.snapshot.version == 4
    expired = t.expire_snapshots(keep_last=2)
    assert expired == 3  # v0, v1, v2 gone; v3, v4 kept
    state = sorted(tuple(r) for r in t.read().collect())
    assert state == [("r0", "p0", "c3")]
    with _pytest.raises(FileNotFoundError):
        t.read(version=1).collect()
    orphans = t.vacuum()
    assert orphans >= 1  # v<=2-only data files reclaimed
    assert sorted(tuple(r) for r in t.read().collect()) == state
    # expiry never removes the current version even with keep_last=1
    t.expire_snapshots(keep_last=1)
    assert _os.path.exists(_os.path.join(str(tmp_path / "t"), "_meta", "v4.json"))
    assert sorted(tuple(r) for r in t.read().collect()) == state


def test_changes_across_schema_epochs(spark, tmp_path):
    """changes() spans an ALTER (ref analogue: the settings YAML changes
    mid-stream, ``panorama_elt.py:409-470``): both sides project to the
    newer schema by field id. A metadata-only ALTER emits no rows; rows
    upserted under the new schema emit I/U carrying the new column, with
    the old side's missing column backfilled from its declared default."""
    from panorama_elt_spark.cdc import merge_batch
    from panorama_elt_spark.lakehouse import Field, LakeTable, TableSchema

    v1 = TableSchema(
        [Field(1, "repo", "string", False), Field(2, "path", "string"),
         Field(3, "commit", "string")],
        schema_version=1,
    )
    t = LakeTable.create(spark, str(tmp_path / "t"), v1, ["repo"], n_buckets=4)
    merge_batch(t, spark.createDataFrame(
        [(0, "I", "r0", "p0", "c0"), (1, "I", "r1", "p1", "c1")],
        "lsn bigint, op string, repo string, path string, commit string",
    ), "b0")
    v_base = t.snapshot.version
    v2 = TableSchema(
        [Field(1, "repo", "string", False), Field(2, "path", "string"),
         Field(3, "commit", "string"), Field(4, "stars", "bigint", default=7)],
        schema_version=2,
    )
    t.alter_schema(v2)
    # metadata-only ALTER: identical projections, empty feed
    assert t.changes(v_base).count() == 0
    merge_batch(t, spark.createDataFrame(
        [(2, "U", "r1", "p1", "c9", 9), (3, "I", "r2", "p2", "c2", 3)],
        "lsn bigint, op string, repo string, path string, commit string, stars bigint",
    ), "b1")
    feed = {r["repo"]: r for r in t.changes(v_base).collect()}
    assert set(feed) == {"r1", "r2"}  # r0 untouched, never emitted
    assert (feed["r1"]["change_op"], feed["r1"]["commit"], feed["r1"]["stars"]) == ("U", "c9", 9)
    assert (feed["r2"]["change_op"], feed["r2"]["stars"]) == ("I", 3)
    # reversed orientation projects to the same (newer) schema
    back = {r["repo"]: r for r in t.changes(t.snapshot.version, v_base).collect()}
    assert back["r2"]["change_op"] == "D"
    assert back["r1"]["stars"] == 7  # v_base state under v2's default


def test_vacuum_preserves_retained_noncurrent_snapshots(spark, tmp_path):
    """vacuum's live set spans every remaining snapshot document, so
    expire(keep_last=N) + vacuum keeps time travel working for all N
    retained versions — not just the current one."""
    from panorama_elt_spark.cdc import merge_batch
    from panorama_elt_spark.lakehouse import Field, LakeTable, TableSchema

    schema = TableSchema(
        [Field(1, "repo", "string", False), Field(2, "path", "string", False),
         Field(3, "commit", "string")],
        schema_version=1,
    )
    t = LakeTable.create(spark, str(tmp_path / "t"), schema, ["repo"], n_buckets=2)
    for k in range(4):
        merge_batch(t, spark.createDataFrame(
            [(k, "U", "r0", "p0", f"c{k}")],
            "lsn bigint, op string, repo string, path string, commit string",
        ), f"b{k}")
    t.expire_snapshots(keep_last=2)  # v3 and v4 survive
    assert t.vacuum() >= 1  # v<=2-only files reclaimed
    # the retained NON-current version still reads (its files are live)
    assert [tuple(r) for r in t.read(version=3).collect()] == [("r0", "p0", "c2")]
    assert [tuple(r) for r in t.read().collect()] == [("r0", "p0", "c3")]
    # and the change feed between the two retained versions still works
    assert [
        (r["repo"], r["change_op"], r["commit"]) for r in t.changes(3).collect()
    ] == [("r0", "U", "c3")]


def test_read_of_a_delta_only_bucket_builds_no_python_scan(spark, tmp_path):
    """A bucket holding only merge-on-read deltas has an empty base side.
    That empty frame is built in the JVM: an empty ``createDataFrame``
    is a Python RDD scan, which starts a Python daemon and workers on
    every such read."""
    from panorama_elt_spark.cdc import merge_batch
    from panorama_elt_spark.lakehouse import Field, LakeTable, TableSchema

    schema = TableSchema(
        [Field(1, "id", "bigint", False), Field(2, "val", "string")], schema_version=1
    )
    t = LakeTable.create(spark, str(tmp_path / "t"), schema, ["id"], n_buckets=2)
    ev = spark.createDataFrame(
        [(1, "I", 1, "a"), (2, "U", 1, "b"), (3, "I", 2, "c"), (4, "D", 3, None)],
        "lsn long, op string, id long, val string",
    )
    merge_batch(t, ev, "d1", strategy="append_delta")
    assert {f.kind for f in t.snapshot.files} == {"delta"}
    df = t.read()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan and "Python" not in plan, plan
    assert sorted(map(tuple, df.collect())) == [(1, "b"), (2, "c")]
