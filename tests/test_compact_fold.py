"""One fold, one exchange: compaction and the fused merge fold a
bucket's base files, its merge-on-read deltas and (for the merge) the
batch's events with a single ``lww_fold`` whose exchange is pinned to
the bucket layout (``LakeTable.fold_and_write``), so the write adds no
second shuffle. Linear compaction hints its size to the writer: below
``SMALL_BATCH_ROWS`` it takes the JVM writer (footer zone
maps, no bloom sidecars, no Python worker); clustering compaction keeps
the task writer for its read-side metadata.

The fixture (``tools/compact_fold_plans.build``): a copy-on-write base
at LSN 0-999, one uncompacted delta epoch at LSN 2000-2999 holding
deltas in every bucket, and late events at LSN 1000-1999 (older than
the deltas, deletes included)."""

import os

from pyspark.sql import SparkSession

from panorama_elt_spark.cdc.generator import expected_final_state
from panorama_elt_spark.cdc.merge import merge_batch
from tools.compact_fold_plans import (
    N_BUCKETS,
    build,
    executed_plans,
    shuffle_exchanges,
    write_plans,
)

COLS = ["repo", "path", "commit", "lang", "content"]


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _one_pinned_exchange(plan: str) -> None:
    exchanges = shuffle_exchanges(plan)
    assert len(exchanges) == 1, exchanges
    assert exchanges[0].startswith("hashpartitioning(repo#"), exchanges
    assert "path#" in exchanges[0] and f", {N_BUCKETS})" in exchanges[0], exchanges
    assert "REPARTITION" not in plan


def test_compaction_and_fused_merge_run_one_pinned_exchange(spark, tmp_path):
    t, _late, _spec = build(spark, str(tmp_path / "compact"))
    plans = write_plans(executed_plans(spark, t.compact))
    assert len(plans) == 1
    _one_pinned_exchange(plans[0])

    t, late, _spec = build(spark, str(tmp_path / "fused"))
    plans = write_plans(
        executed_plans(spark, lambda: merge_batch(t, late, "b-late", strategy="fused"))
    )
    assert len(plans) == 1
    _one_pinned_exchange(plans[0])


def _sidecars(t, files):
    return [f for f in files if os.path.exists(os.path.join(t.root, f.path + ".bloom"))]


def test_small_linear_compaction_takes_the_jvm_writer(spark, tmp_path):
    t, _late, _spec = build(spark, str(tmp_path / "t"))
    before = _rows(t.read(with_lsn=True))
    assert any(r[-2] == "D" for r in before)  # tombstones are part of the state
    assert t.compact() == N_BUCKETS
    files = t.snapshot.files
    assert files and all(f.kind == "base" for f in files)
    assert not _sidecars(t, files)
    assert all(f.stats and "__lsn" in f.stats and "1" in f.stats for f in files)
    assert _rows(t.read(with_lsn=True)) == before


def test_clustering_compaction_keeps_the_task_writer(spark, tmp_path):
    t, _late, _spec = build(spark, str(tmp_path / "t"))
    before = _rows(t.read(with_lsn=True))
    assert t.compact(sort_by=["path"]) == N_BUCKETS
    files = t.snapshot.files
    assert len(_sidecars(t, files)) == len(files)
    assert _rows(t.read(with_lsn=True)) == before


def test_fused_merge_over_uncompacted_deltas_matches_oracle(spark, tmp_path):
    t, late, spec = build(spark, str(tmp_path / "t"))
    merge_batch(t, late, "b-late", strategy="fused")
    assert not t.snapshot.delta_buckets()  # the fused rewrite folded them
    got = _rows(t.read().select(*COLS))
    exp = _rows(expected_final_state(spark, spec).select(*COLS))
    assert got == exp and len(got) > 0


def test_get_spark_turns_dataframe_debugging_off(monkeypatch):
    """Off by default (no per-call py4j call-site capture); ``extra_conf``
    turns it back on."""
    from panorama_elt_spark.session import get_spark

    key = "spark.python.sql.dataFrameDebugging.enabled"
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda self: dict(self._options))
    assert get_spark(master="local[1]")[key] == "false"
    assert get_spark(master="local[1]", extra_conf={key: "true"})[key] == "true"
