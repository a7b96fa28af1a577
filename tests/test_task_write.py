"""Task-side manifest stats + per-attempt unique data dirs.

Round-4 findings closed here: (a) the commit path no longer does
driver-side os.walk + parquet-footer reads — write tasks emit
(path, bucket, rows) themselves; (b) two writers racing the same batch
id can no longer collide in a shared data/s{N} directory (the loser
used to die on mode=errorifexists or, worse, manifest the winner's
part files via the directory walk)."""

import os
import threading

from pyspark.sql import functions as F

from panorama_elt_spark.cdc.generator import ChangeLogSpec, generate_change_log
from panorama_elt_spark.cdc.merge import merge_batch
from panorama_elt_spark.lakehouse import Field, LakeTable, TableSchema
from panorama_elt_spark.lakehouse import table as table_mod

SCHEMA = TableSchema(
    [Field(1, "repo", "string"), Field(2, "path", "string"), Field(3, "content", "string")],
    schema_version=1,
)


def _events(spark, n=4000, keys=400):
    return generate_change_log(spark, ChangeLogSpec(n_events=n, n_keys=keys, seed=3)).select(
        "lsn", "op", "repo", "path", "content"
    )


def test_task_write_parity_with_jvm_fallback(spark, tmp_path, monkeypatch):
    """Both write paths produce the same state rows and the same
    per-bucket manifest stats (paths differ by attempt id)."""
    # the size hint would route this toy batch to the JVM path on both
    # sides — force the task writer so the parity is real
    monkeypatch.setattr(table_mod, "SMALL_BATCH_ROWS", 0)
    ev = _events(spark).cache()
    try:
        states, stats = [], []
        for posix, sub in ((True, "task"), (False, "jvm")):
            # a root executors cannot write as POSIX paths takes the JVM writer
            monkeypatch.setattr(table_mod, "root_is_shared_posix", lambda root, p=posix: p)
            t = LakeTable.create(
                spark, str(tmp_path / sub), SCHEMA, ["repo", "path"], n_buckets=8
            )
            merge_batch(t, ev, batch_id="b0")
            snap = t.snapshot
            states.append(
                sorted(map(tuple, t.read().collect()))
            )
            stats.append(
                sorted((f.bucket, f.rows, f.kind, f.schema_version) for f in snap.files)
            )
        assert states[0] == states[1]
        assert stats[0] == stats[1]
    finally:
        ev.unpersist()


def test_task_write_paths_are_task_reported(spark, tmp_path, monkeypatch):
    """Every manifested path exists, parses its bucket dir, and carries
    the exact row count of that file (spot-check against a read)."""
    monkeypatch.setattr(table_mod, "SMALL_BATCH_ROWS", 0)
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["repo", "path"], n_buckets=8)
    merge_batch(t, _events(spark), batch_id="b0")
    snap = t.snapshot
    assert snap.files, "expected data files"
    total = 0
    for f in snap.files:
        p = os.path.join(t.root, f.path)
        assert os.path.exists(p), f.path
        assert f"bucket={f.bucket}/" in f.path.replace(os.sep, "/")
        # per-attempt unique dir, not the shared data/s{N}
        first = f.path.split("/")[1]
        assert "-" in first, f.path
        total += f.rows
    # f.rows counts physical rows: delete winners persist as hidden
    # tombstone rows (out-of-order arbitration), which user reads drop
    assert total == t.read(with_lsn=True).count()
    assert t.read().count() <= total


def test_concurrent_same_batch_writers_unique_dirs(spark, tmp_path):
    """Two threads merge the SAME deterministic batch concurrently —
    the full race, not just the commit-time CAS: both write their data
    files (no shared-directory collision), one commits, the loser
    resolves to the exactly-once skip, and the final state equals a
    serial apply. vacuum() then reaps the loser's unreferenced files."""
    ev = _events(spark).cache()
    try:
        t = LakeTable.create(
            spark, str(tmp_path / "race"), SCHEMA, ["repo", "path"], n_buckets=8
        )
        results, errors = [], []

        def attempt():
            try:
                results.append(merge_batch(t, ev, batch_id="b0"))
            except Exception as exc:  # no exception is acceptable
                errors.append(exc)

        threads = [threading.Thread(target=attempt) for _ in range(2)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        assert not errors, errors
        skipped = sorted(r.skipped for r in results)
        assert skipped == [False, True], results
        assert t.snapshot.version == 1

        # state equals a serial apply on a fresh table
        t2 = LakeTable.create(
            spark, str(tmp_path / "serial"), SCHEMA, ["repo", "path"], n_buckets=8
        )
        merge_batch(t2, ev, batch_id="b0")
        assert sorted(map(tuple, t.read().collect())) == sorted(
            map(tuple, t2.read().collect())
        )

        # loser's orphaned attempt dir is reaped, state intact
        removed = t.vacuum()
        assert removed >= 1
        assert t.read().count() == t2.read().count()
    finally:
        ev.unpersist()
