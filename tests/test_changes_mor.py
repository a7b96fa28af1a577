"""Merge-on-read fast path for the change feed: a pure delta-append
version range derives I/U/D from the delta files themselves instead of
reconstructing and full-outer-joining two table states. Parity with the
diff path is the contract."""

import pytest

from panorama_elt_spark.cdc.merge import merge_batch
from panorama_elt_spark.lakehouse import Field, LakeTable, TableSchema

SCHEMA = TableSchema(
    [Field(1, "repo", "string"), Field(2, "path", "string"), Field(3, "content", "string")],
    schema_version=1,
)
COLS = ["lsn", "op", "repo", "path", "content"]


def _df(spark, rows):
    return spark.createDataFrame(rows, "lsn long, op string, repo string, path string, content string")


@pytest.fixture()
def delta_table(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["repo", "path"], n_buckets=4)
    # seed base state (CoW): k1..k4
    merge_batch(
        t,
        _df(spark, [
            (0, "I", "r", "k1", "a"),
            (1, "I", "r", "k2", "b"),
            (2, "I", "r", "k3", "c"),
            (3, "I", "r", "k4", "d"),
        ]),
        batch_id="seed",
    )
    v_from = t.snapshot.version
    # delta train: update chain on k1, no-op update on k2, delete k3,
    # delete of a key that never existed, insert k5
    merge_batch(
        t,
        _df(spark, [
            (10, "U", "r", "k1", "a2"),
            (11, "U", "r", "k2", "b"),      # payload unchanged -> no row
            (12, "D", "r", "k3", None),
            (13, "D", "r", "ghost", None),  # never existed -> no row
        ]),
        batch_id="d1",
        strategy="append_delta",
    )
    merge_batch(
        t,
        _df(spark, [
            (20, "U", "r", "k1", "a3"),     # chain: final winner a3
            (21, "I", "r", "k5", "e"),
        ]),
        batch_id="d2",
        strategy="append_delta",
    )
    return t, v_from


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _diff(t, v_from):
    """The state-diff change feed, the fast path's reference."""
    return t._changes_diff(t.log.read_version(v_from), t.snapshot)


def test_mor_fast_path_parity_with_diff(delta_table):
    t, v_from = delta_table
    fast = _rows(t.changes(v_from))
    diff = _rows(_diff(t, v_from))
    assert fast == diff
    assert fast == sorted(
        [
            ("r", "k1", "U", "a3"),
            ("r", "k3", "D", None),
            ("r", "k5", "I", "e"),
        ]
    )


def test_mor_fast_path_is_taken_and_skips_new_state(delta_table):
    """The fast path must actually engage on a pure-delta range (guard
    against silently always falling back): the diff reference's plan
    differs."""
    t, v_from = delta_table
    plan_fast = t.changes(v_from)._jdf.queryExecution().optimizedPlan().toString()
    plan_diff = _diff(t, v_from)._jdf.queryExecution().optimizedPlan().toString()
    # diff path full-outer-joins two states; fast path left-joins winners
    assert "FullOuter" in plan_diff and "FullOuter" not in plan_fast


def test_mor_fast_path_declines_after_compaction(delta_table):
    """Compaction (or any CoW rewrite) inside the range removes files —
    the feed falls back to the diff path and stays correct."""
    t, v_from = delta_table
    t.compact()
    fast_route = _rows(t.changes(v_from))
    diff = _rows(_diff(t, v_from))
    assert fast_route == diff
    assert ("r", "k1", "U", "a3") in fast_route


def test_mor_fast_path_across_schema_epoch(spark, tmp_path):
    """Delta files written under an older schema version classify
    correctly after an ALTER (field-id projection inside the fast path)."""
    t = LakeTable.create(spark, str(tmp_path / "t2"), SCHEMA, ["repo", "path"], n_buckets=4)
    merge_batch(t, _df(spark, [(0, "I", "r", "k1", "a")]), batch_id="seed")
    v_from = t.snapshot.version
    merge_batch(
        t, _df(spark, [(10, "U", "r", "k1", "a2")]), batch_id="d1", strategy="append_delta"
    )
    new_schema = TableSchema(
        [
            Field(1, "repo", "string"),
            Field(2, "path", "string"),
            Field(3, "content", "string"),
            Field(4, "stars", "int", default=0),
        ],
        schema_version=2,
    )
    t.alter_schema(new_schema)
    fast = _rows(t.changes(v_from))
    diff = _rows(_diff(t, v_from))
    assert fast == diff == [("r", "k1", "U", "a2", 0)]
