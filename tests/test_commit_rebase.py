"""Optimistic commit rebase (Iceberg-style conflict resolution): a CAS
loser re-targets the fresh snapshot when the winning commit provably
didn't invalidate it — compaction carries concurrently-landed MOR
deltas forward onto its rewritten base, a delta append re-parents over
a compaction — and still hard-fails on real conflicts (concurrent
ALTER, a rival rewrite of the same buckets, a moved LSN checkpoint).
Reference parity: the reference serializes everything through one
process (``panorama_elt.py`` CLI); here maintenance and ingestion are
separate writers that must not block each other at 100 TB."""

import threading

import pytest
from pyspark.sql import functions as F

from panorama_elt_spark.cdc import CdcEngine, merge_batch
from panorama_elt_spark.cdc.merge import commit_or_skip
from panorama_elt_spark.lakehouse import Field, LakeTable, TableSchema
from panorama_elt_spark.lakehouse.snapshot import CommitConflict

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

LOG_DDL = (
    "lsn bigint, op string, repo string, path string, commit string, "
    "lang string, content string"
)


def _make(spark, tmp_path, n_buckets=4):
    return LakeTable.create(
        spark, str(tmp_path / "t"), SCHEMA, ["repo", "path"], n_buckets=n_buckets
    )


def _state(t):
    return sorted(
        (r["repo"], r["path"], r["commit"], r["content"]) for r in t.read().collect()
    )


def test_compaction_rebases_over_concurrent_delta_append(spark, tmp_path):
    """The Hudi property: an ingest batch landing between compaction's
    read and its commit is carried forward as an unfolded delta on top
    of the compacted base — neither job fails, LWW state is exact."""
    t = _make(spark, tmp_path)
    b0 = spark.createDataFrame(
        [(i, "I", "r", f"p{i}", "c0", "py", f"v0-{i}") for i in range(4)], LOG_DDL
    )
    merge_batch(t, b0, "b0")  # v1: base files
    b1 = spark.createDataFrame(
        [(10, "U", "r", "p0", "c1", "py", "v1-0"), (11, "D", "r", "p1", "c1", "py", "")],
        LOG_DDL,
    )
    merge_batch(t, b1, "b1", strategy="append_delta")  # v2: + deltas

    # --- compaction starts: reads v2, writes the folded base ---
    snap = t.snapshot
    assert snap.version == 2
    target = snap.delta_buckets()
    assert target
    folded = t.read(buckets=target, with_lsn=True)
    new_files = t.write_bucket_files(snap, folded, snap.version + 1)

    # --- a delta batch lands BEFORE compaction commits ---
    b2 = spark.createDataFrame(
        [(20, "U", "r", "p0", "c2", "py", "v2-0"), (21, "I", "r", "p9", "c2", "py", "v2-9")],
        LOG_DDL,
    )
    merge_batch(t, b2, "b2", strategy="append_delta")  # v3 wins the CAS

    # --- compaction commits from its stale parent: must rebase, not die ---
    t.commit_replace_buckets(snap, target, new_files, retry_on_conflict=True)
    assert t.snapshot.version == 4
    # b2's updates survived the fold-forward: p0 shows c2, p9 exists
    assert _state(t) == sorted(
        [
            ("r", "p0", "c2", "v2-0"),
            ("r", "p2", "c0", "v0-2"),
            ("r", "p3", "c0", "v0-3"),
            ("r", "p9", "c2", "v2-9"),
        ]
    )
    # the carried b2 files are still merge-on-read deltas in the new snapshot
    assert any(f.kind == "delta" for f in t.snapshot.files)
    # exactly-once ledger intact across the rebase
    for b in ("b0", "b1", "b2"):
        assert t.is_batch_committed(b)


def test_delta_append_rebases_over_compaction(spark, tmp_path):
    """The reverse race: an append-only commit whose parent went stale
    because a compaction landed re-parents cleanly (the append depends
    on no resident state), and the committed lineage rows carry the
    version that actually landed, not the one the merge predicted."""
    t = _make(spark, tmp_path)
    b0 = spark.createDataFrame(
        [(i, "I", "r", f"p{i}", "c0", "py", f"v0-{i}") for i in range(4)], LOG_DDL
    )
    merge_batch(t, b0, "b0")
    b1 = spark.createDataFrame([(10, "U", "r", "p0", "c1", "py", "v1-0")], LOG_DDL)
    merge_batch(t, b1, "b1", strategy="append_delta")

    stale = t.snapshot  # an ingest's parent, captured pre-compaction
    assert t.compact() > 0  # v3 lands under the stale reader
    lineage = [
        {
            "batch_id": "bx",
            "bucket": 0,
            "lsn_lo": 20,
            "lsn_hi": 20,
            "rows_in": 0,
            "rows_upserted": 0,
            "rows_deleted": 0,
            "snapshot_version": stale.version + 1,  # the merge's stale guess
        }
    ]
    snap, lost = commit_or_skip(
        t, stale, set(), [], batch_id="bx", last_lsn=stale.last_lsn,
        lineage_rows=lineage,
    )
    assert not lost
    assert snap.version == 4  # rebased past the compaction's v3
    row = [r for r in snap.lineage if r["batch_id"] == "bx"][0]
    assert row["snapshot_version"] == 4  # stamped by the commit, not the guess


def test_rebase_refuses_concurrent_schema_change(spark, tmp_path):
    t = _make(spark, tmp_path)
    stale = t.snapshot
    v2 = TableSchema(SCHEMA.fields + [Field(6, "stars", "bigint", default=0)], 2)
    t.alter_schema(v2)
    with pytest.raises(CommitConflict):
        t.commit_replace_buckets(stale, set(), [], retry_on_conflict=True)


def test_rebase_refuses_rival_bucket_rewrite(spark, tmp_path):
    """Two compactions racing the same buckets: the loser's inputs are
    gone from the winning snapshot — no rebase, the fold is stale."""
    t = _make(spark, tmp_path)
    b0 = spark.createDataFrame(
        [(i, "I", "r", f"p{i}", "c0", "py", f"v0-{i}") for i in range(8)], LOG_DDL
    )
    merge_batch(t, b0, "b0")
    stale = t.snapshot
    buckets = {f.bucket for f in stale.files}
    rewritten = t.write_bucket_files(
        stale, t.read(buckets=buckets, with_lsn=True), stale.version + 1
    )
    t.commit_replace_buckets(stale, buckets, rewritten)  # rival wins
    ours = t.write_bucket_files(
        stale, t.read(buckets=buckets, with_lsn=True).limit(0), stale.version + 1
    )
    with pytest.raises(CommitConflict):
        t.commit_replace_buckets(stale, buckets, ours, retry_on_conflict=True)


def test_rebase_refuses_moved_checkpoint(spark, tmp_path):
    """A checkpointing commit (an ingest batch) whose parent's LSN line
    moved underneath it is a second tail — a genuine lost update."""
    t = _make(spark, tmp_path)
    stale = t.snapshot
    b0 = spark.createDataFrame([(0, "I", "r", "p0", "c0", "py", "x")], LOG_DDL)
    merge_batch(t, b0, "b0")  # advances last_lsn to 0
    with pytest.raises(CommitConflict):
        t.commit_replace_buckets(
            stale, set(), [], last_lsn=5, retry_on_conflict=True
        )


def test_live_race_compaction_vs_ingest(spark, tmp_path):
    """Live two-writer run, no orchestration: one thread applies delta
    batches, the other loops compact(). Whatever the interleaving, no
    writer may fail and the final state must be the exact LWW fold."""
    t = _make(spark, tmp_path)
    seed = spark.createDataFrame(
        [(i, "I", "r", f"p{i}", "c0", "py", f"v0-{i}") for i in range(6)], LOG_DDL
    )
    merge_batch(t, seed, "seed")
    errs = []
    done = threading.Event()

    def ingest():
        try:
            for k in range(3):
                lsn = 100 * (k + 1)
                batch = spark.createDataFrame(
                    [
                        (lsn, "U", "r", f"p{k}", f"c{k + 1}", "py", f"u{k}"),
                        (lsn + 1, "I", "r", f"q{k}", f"c{k + 1}", "py", f"n{k}"),
                    ],
                    LOG_DDL,
                )
                merge_batch(t, batch, f"b{k}", strategy="append_delta")
        except Exception as e:  # pragma: no cover - failure reporting
            errs.append(e)
        finally:
            done.set()

    def maintain():
        import time

        try:
            while not done.is_set():
                if t.compact() == 0:
                    time.sleep(0.05)  # nothing to fold: don't spin on metadata
        except Exception as e:  # pragma: no cover - failure reporting
            errs.append(e)

    ti, tm = threading.Thread(target=ingest), threading.Thread(target=maintain)
    ti.start(), tm.start()
    ti.join(), tm.join()
    assert errs == []
    expected = sorted(
        [("r", f"p{k}", f"c{k + 1}", f"u{k}") for k in range(3)]
        + [("r", f"q{k}", f"c{k + 1}", f"n{k}") for k in range(3)]
        + [("r", f"p{i}", "c0", f"v0-{i}") for i in range(3, 6)]
    )
    assert _state(t) == expected
    for k in range(3):
        assert t.is_batch_committed(f"b{k}")


def test_engine_async_compaction_matches_sync(spark, tmp_path):
    """CdcEngine(compact_async=True) folds deltas off the replay loop's
    serial path; final state and exactly-once ledger are identical to
    the synchronous fold, and deltas really do get compacted."""
    from panorama_elt_spark.cdc import ChangeLogSpec, expected_final_state, generate_change_log

    spec = ChangeLogSpec(n_events=3000, n_keys=200)
    log = generate_change_log(spark, spec).cache()
    states = {}
    for mode in ("sync", "async"):
        t = LakeTable.create(
            spark, str(tmp_path / mode), SCHEMA, ["repo", "path"], n_buckets=4
        )
        eng = CdcEngine(
            t,
            strategy="append_delta",
            compact_every=2,
            compact_async=(mode == "async"),
        )
        report = eng.replay(log, batch_size=1000)
        assert all(not b.skipped for b in report.batches)
        states[mode] = _state(t)
        # the replay's folds ran: not every bucket still holds a delta train
        assert t.snapshot.version > len(report.batches) + 0  # merges + >=0 folds
    log.unpersist()
    assert states["async"] == states["sync"]
    expected = sorted(
        (r["repo"], r["path"], r["commit"], r["content"])
        for r in expected_final_state(spark, spec).collect()
    )
    assert states["async"] == expected


def test_engine_async_compaction_requires_mor():
    with pytest.raises(ValueError):
        CdcEngine(table=None, strategy="fused", compact_async=True)
