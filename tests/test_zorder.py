"""Z-order clustering: Morton key correctness, and the two-dimension
file-skipping property a lexicographic sort cannot provide.

The contract under test (``lakehouse/zorder.py``, ``compact(layout=
"zorder")``): after a z-order rewrite on (ts, val), a range predicate on
EITHER column skips files at plan time, while the linear ``sort_by=
["ts"]`` layout skips only on ``ts`` — its trailing column's values
scatter across every file. Rows are never affected: layout is a
plan-time property, pruning is conservative, and the full predicate is
re-applied."""

import datetime

import pytest
from pyspark.sql import functions as F

from panorama_elt_spark.lakehouse import Field, LakeTable, TableSchema
from panorama_elt_spark.lakehouse.table import _prune_files_for_state, normalize_pred_tz
from panorama_elt_spark.lakehouse.zorder import (
    dimension_cell,
    interleave_bits,
    zorder_bits,
    zorder_key,
)

SCHEMA = TableSchema(
    [
        Field(1, "id", "bigint", False),
        Field(2, "ts", "timestamp"),
        Field(3, "val", "double"),
        Field(4, "name", "string"),
    ]
)


def _frame(spark, n=20000):
    # ts increases with id; val is DECORRELATED from ts (bit-reversal
    # permutation) so a ts-sorted layout scatters val across all files —
    # the case z-order exists for
    return spark.range(0, n).select(
        F.col("id"),
        F.expr(
            "cast('2026-01-01' as timestamp) + make_dt_interval(0,0,0,id)"
        ).alias("ts"),
        F.expr(
            "cast(conv(reverse(lpad(conv(id % 1024, 10, 2), 10, '0')), 2, 10) as double)"
        ).alias("val"),
        F.concat(F.lit("n-"), F.col("id")).alias("name"),
    )


# ------------------------------------------------------------------ unit


def _py_morton(vals, bits):
    acc = 0
    for i in range(bits):
        for j, v in enumerate(vals):
            acc |= ((v >> i) & 1) << (i * len(vals) + j)
    return acc


def test_interleave_matches_reference(spark):
    cases = [(0, 0), (1, 0), (0, 1), (5, 9), (65535, 65535), (1234, 4321)]
    df = spark.createDataFrame(cases, "a: long, b: long")
    got = [
        r[0]
        for r in df.select(
            interleave_bits([F.col("a"), F.col("b")], 16)
        ).collect()
    ]
    assert got == [_py_morton(c, 16) for c in cases]


def test_dimension_cell_clamps_and_nulls(spark):
    df = spark.createDataFrame(
        [(None,), (-5.0,), (0.0,), (50.0,), (100.0,), (200.0,)], "v: double"
    )
    got = [
        r[0]
        for r in df.select(
            dimension_cell(F.col("v"), "double", 0.0, 100.0, 8)
        ).collect()
    ]
    assert got[0] == 0  # null -> first cell
    assert got[1] == 0 and got[2] == 0  # clamp low
    assert got[3] == 127  # midpoint of 255
    assert got[4] == 255 and got[5] == 255  # clamp high


def test_dimension_cell_timestamp_monotonic(spark):
    rows = [(datetime.datetime(2026, 1, 1, h),) for h in range(24)]
    df = spark.createDataFrame(rows, "ts: timestamp")
    cells = [
        r[0]
        for r in df.select(
            dimension_cell(F.col("ts"), "timestamp", rows[0][0], rows[-1][0], 16)
        ).collect()
    ]
    assert cells == sorted(cells) and cells[0] == 0 and cells[-1] == 65535


def test_zorder_bits_budget():
    assert zorder_bits(2) == 16
    assert zorder_bits(3) == 16
    assert zorder_bits(4) == 15  # 60-bit long budget


def test_zorder_key_rejects_strings_and_unknown_bounds():
    types = {"name": "string", "val": "double"}
    with pytest.raises(ValueError, match="affinely-embeddable"):
        zorder_key(["name", "val"], types, {"val": (0, 1), "name": (None, None)})
    with pytest.raises(ValueError, match="bounds unknown"):
        zorder_key(["val"], {"val": "double"}, {})


# ------------------------------------------------------------------ e2e


def _planned(t, preds):
    snap = t.snapshot
    p = normalize_pred_tz(preds, t.spark.conf.get("spark.sql.session.timeZone"))
    return len(_prune_files_for_state(snap, snap.files, p))


def _layout_table(spark, tmp_path, name, **compact_kw):
    t = LakeTable.create(spark, str(tmp_path / name), SCHEMA, ["id"], n_buckets=2)
    t.append(_frame(spark))
    assert t.compact(max_rows_per_file=1250, **compact_kw) == 2
    return t


def test_zorder_skips_on_both_dimensions(spark, tmp_path):
    lin = _layout_table(spark, tmp_path, "lin", sort_by=["ts", "val"])
    zo = _layout_table(
        spark, tmp_path, "zo", sort_by=["ts", "val"], layout="zorder"
    )
    total = len(zo.snapshot.files)
    assert total == len(lin.snapshot.files) >= 16

    ts_preds = [
        ("ts", "ge", datetime.datetime(2026, 1, 1, 0, 30)),
        ("ts", "lt", datetime.datetime(2026, 1, 1, 1, 10)),
    ]  # ~12% of the ts range
    val_preds = [("val", "ge", 100.0), ("val", "lt", 228.0)]  # ~12% of val

    # leading-column pruning: both layouts skip on ts (z-order's ts
    # windows are wider — it trades a little ts resolution for val)
    assert _planned(lin, ts_preds) < total
    assert _planned(zo, ts_preds) < total
    # the property under test: the linear layout's trailing column is
    # useless for pruning (val scatters across every file), z-order
    # prunes on it
    assert _planned(lin, val_preds) == total
    assert _planned(zo, val_preds) <= total * 3 // 4
    # and on the conjunction z-order plans strictly fewer files
    assert _planned(zo, ts_preds + val_preds) < _planned(lin, ts_preds + val_preds)

    # layout never changes results
    for t in (lin, zo):
        got = sorted(
            map(tuple, t.read_where(ts_preds + val_preds).select("id").collect())
        )
        assert len(got) > 0
    lin_rows = sorted(map(tuple, lin.read_where(val_preds).select("id").collect()))
    zo_rows = sorted(map(tuple, zo.read_where(val_preds).select("id").collect()))
    assert lin_rows == zo_rows


def test_zorder_bounds_fallback_without_stats(spark, tmp_path, monkeypatch):
    """With no zone maps written the manifests carry no bounds; the
    z-order rewrite falls back to one min/max aggregate and still
    produces a correct (and, after the rewrite, stats-bearing) layout."""
    from panorama_elt_spark.lakehouse import table as table_mod

    monkeypatch.setattr(table_mod, "_stat_columns", lambda snap, cols: [])
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["id"], n_buckets=2)
    t.append(_frame(spark, 4000))
    assert t.column_bounds(["ts", "val"]) == {}
    monkeypatch.undo()
    assert t.compact(sort_by=["ts", "val"], layout="zorder", max_rows_per_file=500) == 2
    assert set(t.column_bounds(["ts", "val"])) == {"ts", "val"}
    assert t.read().count() == 4000


def test_compact_rejects_bad_layout(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["id"], n_buckets=2)
    t.append(_frame(spark, 100))
    with pytest.raises(ValueError, match="zorder"):
        t.compact(sort_by=["ts"], layout="zorder")
    with pytest.raises(ValueError, match="unknown layout"):
        t.compact(sort_by=["ts", "val"], layout="hilbert")


def test_compact_cli_zorder(spark, tmp_path):
    import subprocess
    import sys

    t = LakeTable.create(spark, str(tmp_path / "c"), SCHEMA, ["id"], n_buckets=2)
    t.append(_frame(spark, 4000))
    out = subprocess.run(
        [
            sys.executable, "-m", "panorama_elt_spark.cli", "compact",
            "--root", t.root, "--sort-by", "ts,val",
            "--layout", "zorder", "--max-rows-per-file", "500",
        ],
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "compacted 2 buckets" in out.stdout
    t2 = LakeTable.load(spark, t.root)
    assert len(t2.snapshot.files) >= 8
    # both dimensions carry usable zone maps after the CLI rewrite
    assert _planned(t2, [("val", "ge", 100.0), ("val", "lt", 228.0)]) < len(
        t2.snapshot.files
    )
