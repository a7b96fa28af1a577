"""Bucket-count evolution: ``rebucket(n)`` rewrites the folded state
under a new ``pmod(hash(keys), n)`` layout in one atomic commit.

The scale contract: a bucket must stay executor-memory-sized, so a
table that outgrows its creation-time count gets re-split; everything
downstream (merges, point-lookup pruning, data-source planning, time
travel) resolves ``n_buckets`` from the snapshot it reads, so the
change needs no coordination beyond the commit itself."""

import subprocess
import sys

import pytest

from panorama_elt_spark.cdc import CdcEngine, ChangeLogSpec, generate_change_log
from panorama_elt_spark.cdc.merge import commit_or_skip
from panorama_elt_spark.lakehouse import LakeTable
from panorama_elt_spark.lakehouse.snapshot import CommitConflict
from tests.test_cdc_core import REPO_SCHEMA_V1 as SCHEMA
from tools.compact_fold_plans import executed_plans, shuffle_exchanges, write_plans


def _state(t, version=None):
    return sorted(
        (r["repo"], r["path"], r["commit"], r["content"])
        for r in t.read(version=version).collect()
    )


def _make(spark, tmp_path, n_buckets=4, mor=True):
    t = LakeTable.create(
        spark, str(tmp_path / "t"), SCHEMA, ["repo", "path"], n_buckets=n_buckets
    )
    log = generate_change_log(spark, ChangeLogSpec(n_events=4000, n_keys=400))
    CdcEngine(t).replay(log, batch_size=2000, max_lsn=1999)
    if mor:
        # leave uncompacted deltas so rebucket must fold them
        CdcEngine(t, strategy="append_delta").replay(log, batch_size=2000)
        assert t.snapshot.delta_buckets()
    return t, log


def _with_lsn(t):
    return sorted(map(tuple, t.read(with_lsn=True).collect()))


def test_rebucket_preserves_state_and_folds_deltas(spark, tmp_path):
    t, log = _make(spark, tmp_path)
    before = _state(t)
    before_lsn = _with_lsn(t)
    assert any(r[-2] == "D" for r in before_lsn)  # tombstones are state too
    v_pre = t.snapshot.version
    out = []
    plans = write_plans(executed_plans(spark, lambda: out.append(t.rebucket(16))))
    snap = out[0]
    assert snap.n_buckets == 16
    assert _state(t) == before
    assert _with_lsn(t) == before_lsn
    # one exchange: the fold is pinned to the NEW count, so it already
    # is the new layout and the write adds no repartition
    assert len(plans) == 1
    exchanges = shuffle_exchanges(plans[0])
    assert len(exchanges) == 1, exchanges
    assert exchanges[0].startswith("hashpartitioning(repo#"), exchanges
    assert "path#" in exchanges[0] and ", 16)" in exchanges[0], exchanges
    assert "REPARTITION" not in plans[0]
    # deltas folded, files live under the new layout
    assert not snap.delta_buckets()
    buckets = {f.bucket for f in snap.files}
    assert buckets <= set(range(16)) and len(buckets) > 4
    # time travel: the pre-rebucket version still reads under ITS layout
    assert _state(t, version=v_pre) == before


def test_rebucket_point_lookup_plans_one_bucket(spark, tmp_path):
    t, _ = _make(spark, tmp_path, mor=False)
    t.rebucket(32)
    row = t.read().limit(1).collect()[0]
    got = t.read_where(
        [("repo", "eq", row["repo"]), ("path", "eq", row["path"])]
    ).collect()
    assert len(got) == 1 and got[0]["commit"] == row["commit"]


def test_merges_continue_after_rebucket(spark, tmp_path):
    t, log = _make(spark, tmp_path, mor=False)
    t.rebucket(16)
    report = CdcEngine(t).replay(log, batch_size=2000)
    assert [b.skipped for b in report.batches] == [False]
    # final state equals a straight replay into a fresh table
    ref = LakeTable.create(
        spark, str(tmp_path / "ref"), SCHEMA, ["repo", "path"], n_buckets=16
    )
    CdcEngine(ref).replay(log, batch_size=2000)
    assert _state(t) == _state(ref)


def test_stale_commit_after_rebucket_conflicts(spark, tmp_path):
    """A merge that read the pre-rebucket snapshot must NOT rebase onto
    the rebucketed table — its files carry stale bucket ids."""
    t, _ = _make(spark, tmp_path, mor=False)
    stale = t.snapshot
    t.rebucket(16)
    with pytest.raises(CommitConflict):
        commit_or_skip(
            t, stale, set(), [], batch_id="late", lineage_rows=[],
            last_lsn=stale.last_lsn,
        )


def test_rebucket_noop_and_validation(spark, tmp_path):
    t, _ = _make(spark, tmp_path, mor=False)
    v = t.snapshot.version
    assert t.rebucket(4).version == v  # same count: no commit
    with pytest.raises(ValueError):
        t.rebucket(0)


def test_rebucket_history_and_cli(spark, tmp_path):
    t, _ = _make(spark, tmp_path, mor=False)
    out = subprocess.run(
        [
            sys.executable, "-m", "panorama_elt_spark.cli",
            "rebucket", "--root", t.root, "--n-buckets", "8",
        ],
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "4 -> 8 buckets" in out.stdout
    t2 = LakeTable.load(t.spark, t.root)
    assert t2.snapshot.n_buckets == 8
    assert t2.history(limit=1).collect()[0]["operation"] == "rewrite"
