"""Out-of-order (cross-batch overlapping LSN) correctness — the
streaming tail's contract: a multi-epoch file split delivers batches in
arbitrary LSN order, and the final state must still be the global LWW
answer. Root cause of the round-6 fix: resident state carried no
per-row LSN (every batch event beat the resident row) and deletes left
no tombstone (a late update resurrected a newer delete). State files
now persist (__op, __lsn) per winner row; folds arbitrate on them."""

from pyspark.sql import functions as F

from panorama_elt_spark.cdc.generator import (
    ChangeLogSpec,
    expected_final_state,
    generate_change_log,
)
from panorama_elt_spark.cdc.merge import merge_batch
from panorama_elt_spark.lakehouse import Field, LakeTable, TableSchema
from panorama_elt_spark.streaming import stream_changelog_to_table

SCHEMA = TableSchema(
    [
        Field(1, "repo", "string", False),
        Field(2, "path", "string", False),
        Field(3, "commit", "string"),
        Field(4, "lang", "string"),
        Field(5, "content", "string"),
    ],
    schema_version=1,
)

KV = TableSchema(
    [Field(1, "id", "bigint", False), Field(2, "val", "string")],
    schema_version=1,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _ev(spark, rows):
    return spark.createDataFrame(rows, "lsn long, op string, id long, val string")


def test_stream_out_of_order_single_file_epochs(spark, tmp_path):
    """One file per microbatch over a multi-file log write: epochs see
    arbitrary interleaved LSN ranges (late updates AND late deletes
    across epochs). Final state must equal the global LWW oracle."""
    spec = ChangeLogSpec(n_events=800, n_keys=100)
    log = generate_change_log(spark, spec)
    log_dir = str(tmp_path / "log")
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["repo", "path"], n_buckets=8)
    log.repartition(8).write.parquet(log_dir)
    q = stream_changelog_to_table(
        spark, log_dir, t, str(tmp_path / "ckpt"), max_files_per_trigger=1
    )
    q.awaitTermination()
    assert t.snapshot.last_lsn == spec.n_events - 1
    got = _rows(t.read().select("repo", "path", "commit", "lang", "content"))
    exp = _rows(
        expected_final_state(spark, spec).select(
            "repo", "path", "commit", "lang", "content"
        )
    )
    assert got == exp and len(got) > 0


def _late_batch_checks(spark, tmp_path, strategy):
    t = LakeTable.create(
        spark, str(tmp_path / f"t_{strategy}"), KV, ["id"], n_buckets=4
    )
    # NEWER batch applied first: update id=1, delete id=2, insert id=3
    newer = _ev(spark, [(100, "U", 1, "new1"), (101, "D", 2, None), (102, "I", 3, "new3")])
    merge_batch(t, newer, batch_id="b-newer", strategy=strategy)
    # OLDER batch arrives late: stale update of 1, resurrection attempt
    # of 2, stale delete of 3, and a genuinely unseen key 4
    older = _ev(
        spark,
        [(10, "U", 1, "old1"), (11, "U", 2, "old2"), (12, "D", 3, None), (13, "I", 4, "old4")],
    )
    merge_batch(t, older, batch_id="b-older", strategy=strategy)
    got = {r["id"]: r["val"] for r in t.read().collect()}
    # 1 keeps the newer value, 2 stays deleted (tombstone), 3 survives
    # the stale delete, 4 (never seen) applies
    assert got == {1: "new1", 3: "new3", 4: "old4"}, (strategy, got)


def test_merge_late_batch_fused(spark, tmp_path):
    _late_batch_checks(spark, tmp_path, "fused")


def test_merge_late_batch_bucket_local(spark, tmp_path):
    _late_batch_checks(spark, tmp_path, "bucket_local")


def test_merge_late_batch_append_delta(spark, tmp_path):
    _late_batch_checks(spark, tmp_path, "append_delta")


def test_late_delta_vs_stored_base_lsn(spark, tmp_path):
    """A CoW base row carries its winner LSN; a LATE merge-on-read delta
    must lose to it at read time, and the change feed must emit nothing
    for the suppressed key (parity with the diff path)."""
    t = LakeTable.create(spark, str(tmp_path / "t"), KV, ["id"], n_buckets=2)
    merge_batch(t, _ev(spark, [(100, "U", 1, "cow1"), (101, "D", 2, None)]), batch_id="b1")
    v1 = t.snapshot.version
    merge_batch(
        t,
        _ev(spark, [(10, "U", 1, "late1"), (11, "U", 2, "late2"), (12, "I", 5, "new5")]),
        batch_id="b2",
        strategy="append_delta",
    )
    got = {r["id"]: r["val"] for r in t.read().collect()}
    assert got == {1: "cow1", 5: "new5"}, got
    fast = _rows(t.changes(v1))
    slow = _rows(t._changes_diff(t.log.read_version(v1), t.snapshot))
    assert fast == slow
    assert {r[0] for r in fast} == {5}  # only the genuinely new key


def test_compaction_preserves_out_of_order_arbitration(spark, tmp_path):
    """compact() keeps tombstones and stored LSNs: a late batch arriving
    AFTER compaction still loses to the folded rows."""
    t = LakeTable.create(spark, str(tmp_path / "t"), KV, ["id"], n_buckets=2)
    merge_batch(
        t,
        _ev(spark, [(100, "U", 1, "new1"), (101, "D", 2, None)]),
        batch_id="b1",
        strategy="append_delta",
    )
    assert t.compact() > 0
    assert not t.snapshot.delta_buckets()
    merge_batch(
        t, _ev(spark, [(10, "U", 1, "old1"), (11, "U", 2, "old2")]), batch_id="b2"
    )
    got = {r["id"]: r["val"] for r in t.read().collect()}
    assert got == {1: "new1"}, got


def test_rebucket_preserves_out_of_order_arbitration(spark, tmp_path):
    """rebucket() rewrites the folded state under a new layout; stored
    LSNs and tombstones must survive the rewrite."""
    t = LakeTable.create(spark, str(tmp_path / "t"), KV, ["id"], n_buckets=2)
    merge_batch(t, _ev(spark, [(100, "U", 1, "new1"), (101, "D", 2, None)]), batch_id="b1")
    t.rebucket(4)
    merge_batch(
        t, _ev(spark, [(10, "U", 1, "old1"), (11, "U", 2, "old2")]), batch_id="b2"
    )
    got = {r["id"]: r["val"] for r in t.read().collect()}
    assert got == {1: "new1"}, got


def test_datasource_read_hides_tombstones_and_arbitrates(spark, tmp_path):
    """format('panorama') parity: tombstones invisible, late deltas lose
    to stored base LSNs on the Arrow read path too."""
    from panorama_elt_spark.sources.panorama_datasource import PanoramaDataSource

    spark.dataSource.register(PanoramaDataSource)
    root = str(tmp_path / "t")
    t = LakeTable.create(spark, root, KV, ["id"], n_buckets=2)
    merge_batch(t, _ev(spark, [(100, "U", 1, "cow1"), (101, "D", 2, None)]), batch_id="b1")
    merge_batch(
        t,
        _ev(spark, [(10, "U", 1, "late1"), (11, "U", 2, "late2")]),
        batch_id="b2",
        strategy="append_delta",
    )
    lib = _rows(t.read().select("id", "val"))
    ds = _rows(spark.read.format("panorama").load(root).select("id", "val"))
    assert ds == lib == [(1, "cow1")]


def test_stream_restart_after_out_of_order(spark, tmp_path):
    """Exactly-once across a restart with out-of-order epochs: re-running
    the drained stream applies nothing new and the state is unchanged."""
    spec = ChangeLogSpec(n_events=400, n_keys=60)
    log = generate_change_log(spark, spec)
    log_dir = str(tmp_path / "log")
    ckpt = str(tmp_path / "ckpt")
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["repo", "path"], n_buckets=4)
    log.repartition(5).write.parquet(log_dir)
    stream_changelog_to_table(spark, log_dir, t, ckpt, max_files_per_trigger=1).awaitTermination()
    v = t.snapshot.version
    before = _rows(t.read().select("repo", "path", F.col("commit")))
    stream_changelog_to_table(spark, log_dir, t, ckpt, max_files_per_trigger=1).awaitTermination()
    assert t.snapshot.version == v
    assert _rows(t.read().select("repo", "path", F.col("commit"))) == before
