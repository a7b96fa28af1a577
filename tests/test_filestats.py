"""Zone maps (per-file column stats) + the file-skipping planner.

The scale story: at 100 TB a predicate read should plan only the files
whose [min,max] windows can hold matching rows — not one task per live
file. Stats are collected by the write tasks (or parquet footers on the
JVM-writer fallback), live in the immutable manifests (the snapshot
document stays O(manifest list)), and are consulted at plan time by
``read_where`` / the ``format("panorama")`` pushFilters path. Pruning is
conservative and planning-only — the full predicate is always re-applied
— and the merge-on-read rule (payload predicates prune base files only)
keeps LWW winners exact.
"""

import datetime

import pytest
from pyspark.sql import functions as F

from panorama_elt_spark.lakehouse import Field, LakeTable, TableSchema
from panorama_elt_spark.lakehouse.filestats import (
    MAX_STR_BOUND,
    file_may_match,
    truncate_lower,
    truncate_upper,
)
from panorama_elt_spark.lakehouse.table import (
    _prune_files_for_state,
    normalize_pred_tz,
)

SCHEMA = TableSchema(
    [
        Field(1, "id", "bigint", False),
        Field(2, "ts", "timestamp"),
        Field(3, "val", "double"),
        Field(4, "name", "string"),
    ],
    schema_version=1,
)


def _frame(spark, n=1000):
    return spark.range(0, n).select(
        F.col("id"),
        F.expr(
            "cast('2026-01-01' as timestamp) + make_dt_interval(0,0,0,id)"
        ).alias("ts"),
        (F.col("id") * 1.5).alias("val"),
        F.concat(F.lit("name-"), F.col("id")).alias("name"),
    )


# ---------------------------------------------------------------- planner unit


def _f(stats, rows=100, kind="base"):
    class FakeFile:
        pass

    ff = FakeFile()
    ff.stats, ff.rows, ff.kind = stats, rows, kind
    return ff


TYPES = {"1": "bigint", "3": "double", "4": "string"}


def test_file_may_match_ranges():
    stats = {"1": [10, 20, 0]}
    assert file_may_match(stats, 100, [("1", "eq", 15)], TYPES)
    assert not file_may_match(stats, 100, [("1", "eq", 25)], TYPES)
    assert not file_may_match(stats, 100, [("1", "lt", 10)], TYPES)
    assert file_may_match(stats, 100, [("1", "le", 10)], TYPES)
    assert not file_may_match(stats, 100, [("1", "gt", 20)], TYPES)
    assert file_may_match(stats, 100, [("1", "ge", 20)], TYPES)
    # conjunction: any failing pred kills the file
    assert not file_may_match(stats, 100, [("1", "ge", 15), ("1", "gt", 20)], TYPES)


def test_file_may_match_unknowns_keep_file():
    # no stats dict / missing key / None bounds: never skip
    assert file_may_match(None, 100, [("1", "eq", 999)], TYPES)
    assert file_may_match({}, 100, [("1", "eq", 999)], TYPES)
    assert file_may_match({"1": [None, None, None]}, 100, [("1", "eq", 999)], TYPES)
    # unordered predicate value (e.g. tz-mismatched datetime) keeps file
    naive = {"2": ["2026-01-01T00:00:00", "2026-01-01T01:00:00", 0]}
    aware = datetime.datetime(2027, 1, 1, tzinfo=datetime.timezone.utc)
    assert file_may_match(naive, 100, [("2", "gt", aware)], {"2": "timestamp"})


def test_file_may_match_nulls():
    no_nulls = {"1": [10, 20, 0]}
    all_nulls = {"1": [None, None, 100]}
    some = {"1": [10, 20, 5]}
    assert not file_may_match(no_nulls, 100, [("1", "isnull", None)], TYPES)
    assert file_may_match(some, 100, [("1", "isnull", None)], TYPES)
    assert not file_may_match(all_nulls, 100, [("1", "notnull", None)], TYPES)
    # ordering preds never match an all-null file
    assert not file_may_match(all_nulls, 100, [("1", "ge", 0)], TYPES)
    # SQL semantics: eq null matches nothing
    assert not file_may_match(no_nulls, 100, [("1", "eq", None)], TYPES)


def test_file_may_match_in():
    stats = {"1": [10, 20, 0]}
    assert file_may_match(stats, 100, [("1", "in", [1, 15])], TYPES)
    assert not file_may_match(stats, 100, [("1", "in", [1, 25])], TYPES)
    assert not file_may_match(stats, 100, [("1", "in", [None])], TYPES)


def test_string_bound_truncation():
    long = "a" * 100 + "zzz"
    assert truncate_lower(long) == "a" * MAX_STR_BOUND
    up = truncate_upper(long)
    assert len(up) <= MAX_STR_BOUND and up > long[:MAX_STR_BOUND]
    # the truncated bounds still contain the original value
    assert truncate_lower(long) <= long <= up
    # all-max-codepoint prefix: no bounded upper exists
    assert truncate_upper(chr(0x10FFFF) * (MAX_STR_BOUND + 1)) is None


def test_prune_rule_payload_preds_spare_delta_files():
    """The merge-on-read safety rule: payload predicates prune base
    files only — pruning a delta could resurrect superseded rows."""
    base = _f({"3": [0.0, 1.0, 0]}, kind="base")
    delta = _f({"3": [0.0, 1.0, 0]}, kind="delta")
    kept = _prune_files_for_state(
        LakeSnapStub(), [base, delta], [("val", "eq", 99.0)]
    )
    assert kept == [delta]
    # key predicates prune both kinds
    base2 = _f({"1": [0, 10, 0]}, kind="base")
    delta2 = _f({"1": [0, 10, 0]}, kind="delta")
    kept2 = _prune_files_for_state(
        LakeSnapStub(), [base2, delta2], [("id", "eq", 99)]
    )
    assert kept2 == []


class LakeSnapStub:
    schema = SCHEMA
    key_cols = ["id"]


# ------------------------------------------------------------- write-side stats


def test_stats_written_both_paths(spark, tmp_path, monkeypatch):
    """Task-write kernel and JVM-writer footer fallback both attach
    zone maps, with matching values for the same data."""
    from panorama_elt_spark.lakehouse import table as table_mod

    df = _frame(spark).coalesce(1)
    per_path = {}
    for posix, sub in ((True, "task"), (False, "jvm")):
        # a root executors cannot write as POSIX paths takes the JVM writer
        monkeypatch.setattr(table_mod, "root_is_shared_posix", lambda root, p=posix: p)
        t = LakeTable.create(spark, str(tmp_path / sub), SCHEMA, ["id"], n_buckets=2)
        t.append(df)
        agg = {}
        for f in t.snapshot.files:
            assert f.stats, f"no stats on {sub} path"
            for k, (lo, hi, nc) in f.stats.items():
                cur = agg.setdefault(k, [lo, hi, 0])
                cur[0], cur[1] = min(cur[0], lo), max(cur[1], hi)
                cur[2] += nc
        per_path[sub] = agg
    assert set(per_path["task"]) == set(per_path["jvm"]) >= {"1", "2", "3", "4"}
    for k in per_path["task"]:
        assert per_path["task"][k] == per_path["jvm"][k], k


def test_stats_survive_manifest_roundtrip(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["id"], n_buckets=2)
    t.append(_frame(spark, 200))
    # a fresh handle re-reads the snapshot + manifests from disk
    t2 = LakeTable.load(spark, str(tmp_path / "t"))
    for f in t2.snapshot.files:
        assert f.stats and "1" in f.stats


# ----------------------------------------------------------------- read_where


def test_read_where_parity(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["id"], n_buckets=4)
    df = _frame(spark)
    t.append(df)
    lo = datetime.datetime(2026, 1, 1, 0, 2)
    cases = [
        ([("id", "ge", 100), ("id", "lt", 200)], "id >= 100 and id < 200"),
        ([("ts", "ge", lo)], "ts >= timestamp'2026-01-01 00:02:00'"),
        ([("name", "eq", "name-5")], "name = 'name-5'"),
        ([("id", "in", [5, 500, 99999])], "id in (5, 500, 99999)"),
        ([("val", "notnull", None)], "val is not null"),
    ]
    for preds, sql in cases:
        got = sorted(map(tuple, t.read_where(preds).collect()))
        exp = sorted(map(tuple, t.read().filter(sql).collect()))
        assert got == exp, preds


def test_clustering_compact_rolls_and_skips(spark, tmp_path):
    """compact(sort_by=...) + max_rows_per_file writes bounded sorted
    files whose disjoint windows make range predicates skip files at
    plan time."""
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["id"], n_buckets=2)
    df = _frame(spark, 20000)
    t.append(df)
    n = t.compact(sort_by=["ts"], max_rows_per_file=2500)
    assert n == 2
    snap = t.snapshot
    assert len(snap.files) >= 8  # 20k rows / 2.5k cap
    assert sum(f.rows for f in snap.files) == 20000
    lo = datetime.datetime(2026, 1, 1, 0, 30)
    hi = datetime.datetime(2026, 1, 1, 0, 40)
    preds = normalize_pred_tz(
        [("ts", "ge", lo), ("ts", "lt", hi)],
        spark.conf.get("spark.sql.session.timeZone"),
    )
    kept = _prune_files_for_state(snap, snap.files, preds)
    assert len(kept) < len(snap.files) / 2, (len(kept), len(snap.files))
    got = t.read_where([("ts", "ge", lo), ("ts", "lt", hi)]).count()
    assert got == 600


def test_clustering_compact_rolls_on_the_jvm_writer(spark, tmp_path, monkeypatch):
    """The JVM writer (any root executors cannot write as POSIX paths)
    honours ``max_rows_per_file`` too: a clustering compaction rolls
    each bucket into bounded files with disjoint sort-column windows, so
    range reads still skip files."""
    from panorama_elt_spark.lakehouse import table as table_mod
    from panorama_elt_spark.lakehouse.filestats import decode_bound

    monkeypatch.setattr(table_mod, "root_is_shared_posix", lambda root: False)
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["id"], n_buckets=2)
    t.append(_frame(spark, 10000))
    assert t.compact(sort_by=["ts"], max_rows_per_file=1000) == 2
    snap = t.snapshot
    assert sum(f.rows for f in snap.files) == 10000
    for b in (0, 1):
        files = [f for f in snap.files if f.bucket == b]
        rows = sum(f.rows for f in files)
        assert len(files) >= rows // 1000, (b, len(files), rows)
        assert all(f.rows <= 1000 for f in files)
        windows = sorted(
            (decode_bound(f.stats["2"][0], "timestamp"), decode_bound(f.stats["2"][1], "timestamp"))
            for f in files
        )
        assert all(hi < nxt_lo for (_, hi), (nxt_lo, _) in zip(windows, windows[1:]))
    lo = datetime.datetime(2026, 1, 1, 0, 30)
    hi = datetime.datetime(2026, 1, 1, 0, 40)
    preds = normalize_pred_tz(
        [("ts", "ge", lo), ("ts", "lt", hi)],
        spark.conf.get("spark.sql.session.timeZone"),
    )
    kept = _prune_files_for_state(snap, snap.files, preds)
    assert len(kept) < len(snap.files) / 2, (len(kept), len(snap.files))
    got = sorted(r["id"] for r in t.read_where([("ts", "ge", lo), ("ts", "lt", hi)]).collect())
    assert got == list(range(1800, 2400))


def test_read_where_mor_payload_safety(spark, tmp_path):
    """A predicate matching a superseded base payload must not
    resurrect the stale row, and a deleted key must stay deleted —
    the reason payload predicates never prune delta files."""
    from panorama_elt_spark.cdc.merge import merge_batch

    schema = TableSchema(
        [Field(1, "id", "bigint", False), Field(2, "val", "double")],
        schema_version=1,
    )
    t = LakeTable.create(spark, str(tmp_path / "t"), schema, ["id"], n_buckets=2)
    t.append(spark.createDataFrame([(1, 1.0), (2, 7.0)], schema.to_struct()))
    ev = spark.createDataFrame(
        [(10, "U", 1, 5.0), (11, "D", 2, None)],
        "lsn long, op string, id long, val double",
    )
    merge_batch(t, ev, batch_id="b1", strategy="append_delta")
    assert t.snapshot.delta_buckets()  # the scenario really is MOR
    # stale payload value: base file may be pruned, delta must win
    assert t.read_where([("val", "eq", 1.0)]).count() == 0
    assert t.read_where([("val", "eq", 7.0)]).count() == 0
    got = t.read_where([("val", "eq", 5.0)]).collect()
    assert [(r["id"], r["val"]) for r in got] == [(1, 5.0)]
    # key predicates still prune: point lookup parity
    assert [(r["id"], r["val"]) for r in t.read_where([("id", "eq", 1)]).collect()] == [
        (1, 5.0)
    ]
    assert t.read_where([("id", "eq", 2)]).count() == 0


# ----------------------------------------------------- data source pushdown


def test_datasource_zone_skip_and_parity(spark, tmp_path):
    """format('panorama') translates pushed comparison filters into
    zone-map pruning: fewer input partitions planned, identical rows."""
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThan

    from panorama_elt_spark.sources.panorama_datasource import (
        PanoramaDataSource,
        PanoramaReader,
    )

    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["id"], n_buckets=2)
    t.append(_frame(spark, 20000))
    t.compact(sort_by=["id"], max_rows_per_file=2500)
    root = str(tmp_path / "t")

    # planner-level: pushed filters shrink the planned file set
    r_all = PanoramaReader(root, {})
    all_parts = r_all.partitions()
    r = PanoramaReader(root, {})
    unhandled = list(
        r.pushFilters([GreaterThanOrEqual(("id",), 100), LessThan(("id",), 600)])
    )
    assert len(unhandled) == 2  # pruning-only: Spark re-applies all preds
    pruned_parts = r.partitions()
    n_all = sum(len(p.files) for p in all_parts)
    n_pruned = sum(len(p.files) for p in pruned_parts)
    assert n_pruned < n_all, (n_pruned, n_all)

    # end-to-end parity through the registered source
    spark.dataSource.register(PanoramaDataSource)
    got = (
        spark.read.format("panorama")
        .load(root)
        .filter("id >= 100 and id < 600")
        .count()
    )
    assert got == 500

    # one planner: read_where scans exactly the files the source plans,
    # with merge-on-read deltas in one bucket
    from urllib.parse import urlparse

    from pyspark.sql.datasource import EqualTo, In

    from panorama_elt_spark.cdc.merge import merge_batch

    ev = _frame(spark, 40).select(
        F.lit(30).cast("long").alias("lsn"), F.lit("U").alias("op"), "id", "ts",
        (F.col("val") + 1e6).alias("val"), "name",
    )
    merge_batch(t, ev.filter("id % 2 = 0"), batch_id="b1", strategy="append_delta")
    assert t.snapshot.delta_buckets()
    n_files = len(t.snapshot.files)
    naive = datetime.datetime(2026, 1, 1, 1, 0)
    cases = [
        ([("id", "eq", 4)], [EqualTo(("id",), 4)], {}),
        ([("id", "in", [4, 7, 9000])], [In(("id",), (4, 7, 9000))], {}),
        ([("val", "lt", 20.0)], [LessThan(("val",), 20.0)], {}),
        ([("ts", "lt", naive)], [LessThan(("ts",), naive)], {}),
        ([("id", "lt", 600)], [LessThan(("id",), 600)], {"with_deltas": "false"}),
    ]
    for preds, filters, options in cases:
        df = t.read_where(preds, with_deltas=options.get("with_deltas") != "false")
        jvm = {urlparse(p).path for p in df.inputFiles()}
        reader = PanoramaReader(root, options)
        list(reader.pushFilters(filters))
        ds = {f"{root}/{path}" for p in reader.partitions() for path, _sv, _k in p.files}
        assert jvm == ds, preds
        assert 0 < len(ds) < n_files, preds
