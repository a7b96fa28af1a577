"""The read-plan memo (``lakehouse/table.py`` ``_PlanMemo``).

A read of an unchanged snapshot reuses the analyzed plan of its file
set instead of building the DataFrame again: no new parquet relation is
made. The key holds only immutable facts (session, root, schema version,
planned paths, output flags, the time zone and ANSI mode), so a merge,
a drop-and-recreate at the same root with the same version numbers, and
a session time-zone change each read what they must. The memo is
bounded by the data files its plans reference. Every test runs on a
fresh memo, so entries of other tests cannot make a read hit or miss.
"""

import re

import pytest
from pyspark.sql.readwriter import DataFrameReader

from panorama_elt_spark import catalog
from panorama_elt_spark.cdc.merge import merge_batch
from panorama_elt_spark.lakehouse import Field, LakeTable, TableSchema
from panorama_elt_spark.lakehouse import table as table_mod

SCHEMA = TableSchema(
    [Field(1, "id", "bigint", False), Field(2, "val", "string")], schema_version=1
)
DDL = "lsn long, op string, id long, val string"


@pytest.fixture()
def memo(monkeypatch):
    fresh = table_mod._PlanMemo()
    monkeypatch.setattr(table_mod, "_PLAN_MEMO", fresh)
    return fresh


@pytest.fixture()
def relations(monkeypatch):
    """Counts parquet relations built (``DataFrameReader.parquet``)."""
    calls = []
    orig = DataFrameReader.parquet

    def counting(self, *paths, **kw):
        calls.append(paths)
        return orig(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", counting)
    return calls


class Model:
    """Dict replay of last-writer-wins: id -> (lsn, op, val)."""

    def __init__(self):
        self.rows = {}

    def apply(self, events):
        for lsn, op, key, val in events:
            if key not in self.rows or lsn > self.rows[key][0]:
                self.rows[key] = (lsn, op, val)

    def state(self):
        return sorted((k, v) for k, (_lsn, op, v) in self.rows.items() if op != "D")


def _merge(spark, t, model, events, batch_id, strategy="auto"):
    merge_batch(t, spark.createDataFrame(events, DDL), batch_id, strategy=strategy)
    model.apply(events)


def _plan(qe) -> str:
    """A physical plan's text without the ids each planning draws anew
    (exchange plan ids, aggregate buffer attributes)."""
    return re.sub(r"(plan_id=|#)\d+", r"\1_", qe.executedPlan().toString())


def _state(df):
    return sorted(map(tuple, df.collect()))


def _table(spark, root, model):
    """A base from a copy-on-write merge, then one merge-on-read delta
    batch with a delete; returns (table, base version)."""
    t = LakeTable.create(spark, root, SCHEMA, ["id"], n_buckets=4)
    _merge(spark, t, model, [(i, "I", i, f"v{i}") for i in range(40)], "b0")
    v0 = t.snapshot.version
    _merge(
        spark, t, model,
        [(100 + i, "U", i, f"w{i}") for i in range(5)] + [(200, "D", 7, None)],
        "d1", strategy="append_delta",
    )
    return t, v0


def test_unchanged_snapshot_builds_no_new_relation(spark, tmp_path, memo, relations):
    """The second read of each kind reuses the first one's plan, and a
    hit is a fresh Dataset: its own QueryExecution, planned anew into the
    same physical plan."""
    lake = str(tmp_path / "lake")
    model = Model()
    t, v0 = _table(spark, f"{lake}/t", model)
    catalog.persist_catalog(lake)
    reads = {
        "read": lambda: t.read(),
        "point": lambda: t.read_where([("id", "eq", 3)]),
        "time_travel": lambda: t.read(version=v0),
        "changes": lambda: t.changes(v0),
    }
    first = {name: read() for name, read in reads.items()}
    catalog.attach_catalog(spark, lake)
    assert relations, "the first reads build their relations"
    built = len(relations)

    again = {name: read() for name, read in reads.items()}
    catalog.attach_catalog(spark, lake)
    assert len(relations) == built
    for name in reads:
        a, b = first[name]._jdf.queryExecution(), again[name]._jdf.queryExecution()
        assert not a.equals(b), name
        assert _plan(a) == _plan(b), name
        assert _state(again[name]) == _state(first[name]), name
    assert _state(again["read"]) == model.state()
    assert _state(spark.table("t_raw")) == model.state()


def test_each_side_is_one_relation_per_schema_version(spark, tmp_path, memo, relations):
    """A planned file set is read as one parquet relation per schema
    version, base and delta files together: a delta-holding read builds
    one relation, and each ``changes()`` side builds one."""
    model = Model()
    t, _v0 = _table(spark, str(tmp_path / "t"), model)
    v1 = t.snapshot.version
    _merge(
        spark, t, model, [(300 + i, "U", i, f"x{i}") for i in range(5)], "d2",
        strategy="append_delta",
    )
    v2 = t.snapshot.version
    t.compact()
    v3 = t.snapshot.version
    snap = t.log.resolve(v2)
    assert len({f.schema_version for f in snap.files}) == 1
    point = [("id", "eq", 3)]
    planned = table_mod.plan_state_files(
        snap, point, session_tz=spark.conf.get("spark.sql.session.timeZone"),
        io=t.io, root=t.root,
    )
    assert {f.kind for f in planned.files} == {"base", "delta"}

    def built(read):
        n = len(relations)
        df = read()
        return len(relations) - n, df

    n, df = built(lambda: t.read(version=v2))
    assert n == 1 and _state(df) == model.state()
    n, df = built(lambda: t.read_where(point, version=v2))
    assert n == 1 and _state(df) == [(3, "x3")]
    # a merge-on-read range whose old side holds base and delta files
    assert t.log.resolve(v1).delta_buckets()
    n, _df = built(lambda: t.changes(v1, v2))
    assert n == 2
    # a diff range (the compaction removed files)
    n, _df = built(lambda: t.changes(v1, v3))
    assert n == 2


def test_merge_between_reads_returns_new_rows(spark, tmp_path, memo):
    model = Model()
    t, _v0 = _table(spark, str(tmp_path / "t"), model)
    assert _state(t.read()) == model.state()
    assert _state(t.read_where([("id", "eq", 2)])) == [(2, "w2")]
    _merge(spark, t, model, [(300, "U", 2, "x2"), (301, "I", 90, "x90")], "d2",
           strategy="append_delta")
    assert _state(t.read()) == model.state()
    assert _state(t.read_where([("id", "eq", 2)])) == [(2, "x2")]
    _merge(spark, t, model, [(400, "D", 2, None), (401, "U", 3, "y3")], "b3")
    assert _state(t.read()) == model.state()
    assert _state(t.read_where([("id", "eq", 2)])) == []
    t.compact()
    assert _state(t.read()) == model.state()


def test_drop_and_create_at_same_root_reads_the_new_table(spark, tmp_path, memo):
    """Version numbers restart after ``drop()``; only paths key a plan."""
    root = str(tmp_path / "t")
    # an empty table has no paths to key on, so its read is never memoized
    wider = TableSchema(list(SCHEMA.fields) + [Field(3, "extra", "string")], schema_version=1)
    t = LakeTable.create(spark, root, wider, ["id"], n_buckets=4)
    assert t.read().columns == ["id", "val", "extra"]
    t.drop()

    old_model, new_model = Model(), Model()
    t, v0 = _table(spark, root, old_model)
    old_versions = (v0, t.snapshot.version)
    assert _state(t.read()) == old_model.state()
    old_changes = _state(t.changes(v0))

    t.drop()
    t = LakeTable.create(spark, root, SCHEMA, ["id"], n_buckets=4)
    assert t.read().columns == ["id", "val"]
    _merge(spark, t, new_model, [(i, "I", i, f"n{i}") for i in range(10, 30)], "b0")
    _merge(spark, t, new_model, [(100, "U", 11, "m11")], "d1", strategy="append_delta")
    assert (v0, t.snapshot.version) == old_versions
    assert _state(t.read()) == new_model.state()
    assert _state(t.read(version=v0)) == [(i, f"n{i}") for i in range(10, 30)]
    assert _state(t.changes(v0)) != old_changes
    assert _state(t.changes(v0)) == [(11, "U", "m11")]


def test_session_time_zone_keys_a_separate_entry(spark, tmp_path, memo, relations):
    model = Model()
    t, _v0 = _table(spark, str(tmp_path / "t"), model)
    tz = spark.conf.get("spark.sql.session.timeZone")
    other = "America/Los_Angeles" if tz != "America/Los_Angeles" else "UTC"
    t.read()
    built = len(relations)
    try:
        spark.conf.set("spark.sql.session.timeZone", other)
        assert _state(t.read()) == model.state()
        assert len(relations) > built
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)
    built = len(relations)
    t.read()
    assert len(relations) == built
    assert len(memo._entries) == 2


def test_memo_is_bounded_by_referenced_files(spark, tmp_path, memo, relations, monkeypatch):
    model = Model()
    t, _v0 = _table(spark, str(tmp_path / "t"), model)
    per_bucket = {b: len(t.snapshot.files_in_buckets({b})) for b in range(4)}
    assert all(per_bucket.values())
    monkeypatch.setattr(table_mod, "PLAN_MEMO_FILES", max(per_bucket.values()) + 1)
    for _ in range(2):
        for b in range(4):
            t.read(buckets={b})
            assert memo.files <= table_mod.PLAN_MEMO_FILES
            assert memo.files == sum(n for _plan, n in memo._entries.values())
    # a file set above the bound is built on every read, never stored
    n_files = len(t.snapshot.files)
    assert n_files > table_mod.PLAN_MEMO_FILES
    built = len(relations)
    t.read()
    t.read()
    assert len(relations) == built + 2 * len({f.schema_version for f in t.snapshot.files})
    assert memo.files <= table_mod.PLAN_MEMO_FILES


def test_concurrent_reads_keep_the_file_count(spark, tmp_path, memo, monkeypatch):
    """Threads missing, hitting and evicting at once: the memo's file
    count stays the sum of its entries and within the bound."""
    import sys
    import threading

    model = Model()
    t, _v0 = _table(spark, str(tmp_path / "t"), model)
    monkeypatch.setattr(table_mod, "PLAN_MEMO_FILES", 4)
    subsets = [{b} for b in range(4)] + [{0, 1}, {2, 3}, {1, 2}]
    errors = []

    def worker(i):
        try:
            for j in range(6):
                t.read(buckets=subsets[(i + j) % len(subsets)])
        except Exception as exc:  # reported below, the thread must end
            errors.append(exc)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads)
    assert not errors, errors
    assert memo.files == sum(n for _plan, n in memo._entries.values())
    assert memo.files <= table_mod.PLAN_MEMO_FILES
