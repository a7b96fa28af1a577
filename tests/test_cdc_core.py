"""CDC engine: dedupe equivalence, replay convergence (DuckDB oracle with
per-row sha256 equality), exactly-once idempotency, kill-resume, skew,
schema evolution mid-log."""

import os

import duckdb
import pytest
from pyspark.sql import functions as F

from panorama_elt_spark.cdc import (
    CdcEngine,
    ChangeLogSpec,
    expected_final_state,
    generate_change_log,
    lww_dedupe_window,
    merge_batch,
)
from panorama_elt_spark.lakehouse import Field, LakeTable, TableSchema
from panorama_elt_spark.lakehouse import table as table_mod
from panorama_elt_spark.lakehouse.fold import lww_fold

REPO_SCHEMA_V1 = TableSchema(
    [
        Field(1, "repo", "string", False),
        Field(2, "path", "string", False),
        Field(3, "commit", "string"),
        Field(4, "lang", "string"),
        Field(5, "content", "string"),
    ],
    schema_version=1,
)

SPEC = ChangeLogSpec(n_events=4000, n_keys=300)


def _rows(df, cols=("repo", "path", "commit", "lang", "content")):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


# --------------------------------------------------------------- dedupe


def _fold_log(log):
    """``lww_fold`` over a change log (system columns under their names)."""
    events = log.withColumnsRenamed({"op": "__op", "lsn": "__lsn"})
    payload = [c for c in events.columns if c not in ("repo", "path", "__op", "__lsn")]
    return lww_fold(events, ["repo", "path"], payload).withColumnsRenamed(
        {"__op": "op", "__lsn": "lsn"}
    )


def test_dedupe_strategies_agree(spark):
    """The engine's fold picks the same winner per key as the windowed
    reference dedupe (the oracle's semantics)."""
    log = generate_change_log(spark, SPEC)
    cols = ("repo", "path", "lsn", "op", "commit", "lang", "content")
    a = _rows(_fold_log(log), cols)
    w = _rows(lww_dedupe_window(log, ["repo", "path"]), cols)
    assert a == w
    assert len(a) <= SPEC.n_keys


def test_dedupe_agg_is_partial_aggregated(spark):
    """``lww_fold`` must compile to a hash aggregate with map-side
    partial_merge (shuffle bounded by keys, not events) — the 10^10 plan."""
    log = generate_change_log(spark, SPEC)
    plan = _fold_log(log)._jdf.queryExecution().executedPlan().toString()
    assert "partial_max_by" in plan  # map-side combine before the exchange
    assert "Window" not in plan  # not the shuffle-everything window plan


def test_generator_skew_and_duplicates(spark):
    log = generate_change_log(spark, SPEC).cache()
    n = log.count()
    assert n > SPEC.n_events  # duplicates present
    dup_share = (n - SPEC.n_events) / SPEC.n_events
    assert 0.05 < dup_share < 0.15
    top = (
        log.groupBy("repo", "path").count().orderBy(F.desc("count")).limit(3).collect()
    )
    top3_share = sum(r["count"] for r in top) / n
    assert top3_share > 0.10  # Zipf-skewed hot keys
    log.unpersist()


# ---------------------------------------------------------------- merge


def _make_table(spark, tmp_path, n_buckets=16):
    return LakeTable.create(
        spark, str(tmp_path / "repos"), REPO_SCHEMA_V1, ["repo", "path"], n_buckets=n_buckets
    )


def test_single_batch_merge_matches_oracle(spark, tmp_path):
    t = _make_table(spark, tmp_path)
    log = generate_change_log(spark, SPEC)
    stats = merge_batch(t, log, "b0")
    assert not stats.skipped
    assert stats.buckets_touched > 0
    expected = _rows(expected_final_state(spark, SPEC))
    assert _rows(t.read()) == expected
    # deletes really delete
    assert t.read().count() == len(expected)


def test_merge_reapply_is_noop(spark, tmp_path):
    t = _make_table(spark, tmp_path)
    log = generate_change_log(spark, SPEC)
    merge_batch(t, log, "b0")
    v = t.snapshot.version
    stats2 = merge_batch(t, log, "b0")
    assert stats2.skipped
    assert t.snapshot.version == v


def test_merge_prunes_buckets(spark, tmp_path):
    """A batch touching one key must rewrite only that key's bucket."""
    t = _make_table(spark, tmp_path, n_buckets=16)
    log = generate_change_log(spark, SPEC)
    merge_batch(t, log, "b0")
    one = t.read().limit(1).collect()[0]
    upd = spark.createDataFrame(
        [(10**9, "U", one["repo"], one["path"], "newcommit", one["lang"], "new content")],
        "lsn bigint, op string, repo string, path string, commit string, lang string, content string",
    )
    stats = merge_batch(t, upd, "b1")
    assert stats.buckets_touched == 1
    got = t.read().filter(
        (F.col("repo") == one["repo"]) & (F.col("path") == one["path"])
    ).collect()
    assert got[0]["commit"] == "newcommit"


# --------------------------------------------------- replay & exactly-once


def _duckdb_oracle(log_path: str):
    """Independent engine oracle: LWW replay in DuckDB SQL, with sha256
    digests (BASELINE.json per-row invariant)."""
    con = duckdb.connect()
    return con.execute(
        f"""
        WITH dedup AS (
          SELECT * FROM (
            SELECT *, row_number() OVER (
              PARTITION BY repo, path ORDER BY lsn DESC) AS rn
            FROM (SELECT DISTINCT lsn, op, repo, path, commit, lang, content
                  FROM read_parquet('{log_path}/*.parquet'))
          ) WHERE rn = 1 AND op <> 'D'
        )
        SELECT repo, path, commit, lang, sha256(content) AS digest
        FROM dedup ORDER BY repo, path
        """
    ).fetchall()


def test_replay_converges_to_duckdb_oracle_sha256(spark, tmp_path):
    log = generate_change_log(spark, SPEC)
    log_path = str(tmp_path / "log.parquet")
    log.write.parquet(log_path)

    t = _make_table(spark, tmp_path)
    engine = CdcEngine(t)
    report = engine.replay(log, batch_size=1000)
    assert len([b for b in report.batches if not b.skipped]) == 4

    got = sorted(
        tuple(r)
        for r in t.read()
        .select("repo", "path", "commit", "lang", F.sha2("content", 256).alias("digest"))
        .collect()
    )
    assert got == sorted(tuple(r) for r in _duckdb_oracle(log_path))


def test_replay_is_idempotent(spark, tmp_path):
    log = generate_change_log(spark, SPEC)
    t = _make_table(spark, tmp_path)
    CdcEngine(t).replay(log, batch_size=1000)
    state1 = _rows(t.read())
    v1 = t.snapshot.version
    report2 = CdcEngine(t).replay(log, batch_size=1000)
    assert all(b.skipped for b in report2.batches)
    assert t.snapshot.version == v1
    assert _rows(t.read()) == state1


def test_kill_and_resume_from_checkpoint(spark, tmp_path):
    log = generate_change_log(spark, SPEC)
    t = _make_table(spark, tmp_path)
    # "crash" after two batches
    CdcEngine(t).replay(log, batch_size=1000, max_lsn=1999)
    assert t.snapshot.last_lsn == 1999
    # fresh engine instance resumes from the snapshot checkpoint
    t2 = LakeTable.load(spark, str(tmp_path / "repos"))
    report = CdcEngine(t2).replay(log, batch_size=1000)
    applied = [b for b in report.batches if not b.skipped]
    assert [b.batch_id for b in applied] == ["b2@1000", "b3@1000"]
    assert _rows(t2.read()) == _rows(expected_final_state(spark, SPEC))


def test_lineage_rows_recorded(spark, tmp_path):
    log = generate_change_log(spark, SPEC)
    t = _make_table(spark, tmp_path)
    CdcEngine(t).replay(log, batch_size=2000)
    lin = t.lineage_df()
    assert lin.count() > 0
    agg = lin.agg(
        F.min("lsn_lo").alias("lo"), F.max("lsn_hi").alias("hi"),
        F.sum("rows_upserted").alias("up"),
    ).collect()[0]
    assert agg["lo"] >= 0 and agg["hi"] <= SPEC.n_events - 1
    assert agg["up"] > 0
    # lineage covers both committed snapshots
    assert lin.select("snapshot_version").distinct().count() == 2


# ------------------------------------------------------- schema evolution


def test_schema_evolution_mid_log(spark, tmp_path):
    """Events from lsn 2000 carry schema v2 (adds stars int, default 0).
    The ALTER lands before batch b2; old rows read back with the default."""
    spec = ChangeLogSpec(n_events=4000, n_keys=300, schema_v2_from_lsn=2000)
    log = generate_change_log(spark, spec)
    t = _make_table(spark, tmp_path)
    v2 = TableSchema(
        REPO_SCHEMA_V1.fields + [Field(6, "stars", "int", default=0)], schema_version=2
    )
    registry = {1: REPO_SCHEMA_V1, 2: v2}
    engine = CdcEngine(t, schema_registry=registry)
    engine.replay(log, batch_size=1000)

    assert t.snapshot.schema.schema_version == 2
    final = t.read()
    assert "stars" in final.columns
    # keys last touched before lsn 2000 have the backfilled default
    old = final.join(
        expected_final_state(spark, spec).filter(F.col("lsn") < 2000).select("repo", "path"),
        ["repo", "path"],
    )
    assert old.count() > 0
    assert old.filter(F.col("stars") != 0).count() == 0
    # keys written at v2 carry real values
    assert final.filter(F.col("stars") > 0).count() > 0
    # values match the independent LWW oracle
    exp = expected_final_state(spark, spec)
    exp_rows = sorted(
        (r["repo"], r["path"], r["commit"], r["lang"], r["content"],
         r["stars"] if r["lsn"] >= 2000 else 0)
        for r in exp.collect()
    )
    got_rows = _rows(final, ("repo", "path", "commit", "lang", "content", "stars"))
    assert got_rows == exp_rows


# ------------------------------------------------- bucket-local strategy


def test_bucket_local_merge_matches_fused(spark, tmp_path):
    """The mapInArrow bucket-local strategy (resident rows never enter a
    shuffle) must produce the byte-identical final state as the fused
    aggregate across a multi-batch replay with deletes + duplicates."""
    log = generate_change_log(spark, SPEC)
    states = {}
    for strategy in ("fused", "bucket_local"):
        t = LakeTable.create(
            spark, str(tmp_path / strategy), REPO_SCHEMA_V1, ["repo", "path"], n_buckets=16
        )
        CdcEngine(t, strategy=strategy).replay(log, batch_size=1000)
        states[strategy] = _rows(t.read())
    assert states["fused"] == states["bucket_local"]
    assert states["fused"] == _rows(expected_final_state(spark, SPEC))


def test_bucket_local_merges_mixed_schema_versions(spark, tmp_path):
    """The bucket-local kernel projects resident files by field id and
    folds merge-on-read deltas itself, so residents written under an
    older schema version — with or without deltas on top — merge there
    with no fallback, to exactly the fused state."""
    v2 = TableSchema(
        REPO_SCHEMA_V1.fields + [Field(6, "stars", "int", default=0)], schema_version=2
    )
    registry = {1: REPO_SCHEMA_V1, 2: v2}
    log_schema = (
        "lsn bigint, op string, repo string, path string, commit string, "
        "lang string, content string, stars int, schema_version int"
    )

    def batch(rows):
        return spark.createDataFrame(rows, log_schema)

    def run(strategy, root, with_deltas):
        t = LakeTable.create(
            spark, str(tmp_path / root), REPO_SCHEMA_V1, ["repo", "path"], n_buckets=4
        )
        eng = CdcEngine(t, schema_registry=registry, strategy=strategy)
        # batch 0 writes v1 files; batch 1 (v2 events) merges against them
        eng.apply_batch(
            batch([(0, "I", "o/r", "a.py", "c0", "py", "A0", None, 1),
                   (1, "I", "o/r", "b.py", "c1", "md", "B0", None, 1)]),
            "b0",
        )
        if with_deltas:
            # v1 deltas on top of a.py's bucket, folded by the next merge
            CdcEngine(t, schema_registry=registry, strategy="append_delta").apply_batch(
                batch([(2, "U", "o/r", "a.py", "c2", "py", "A0b", None, 1),
                       (3, "I", "o/r", "d.py", "c3", "py", "D0", None, 1)]),
                "bd",
            )
            assert t.snapshot.delta_buckets()
        stats = eng.apply_batch(
            batch([(4, "U", "o/r", "a.py", "c4", "py", "A1", 7, 2),
                   (5, "I", "o/r", "c.py", "c5", "py", "C0", 9, 2),
                   (6, "D", "o/r", "d.py", None, None, None, None, 2)]),
            "b1",
        )
        assert stats.strategy == strategy
        cols = tuple(t.snapshot.schema.names)
        return _rows(t.read(), cols)

    for with_deltas in (False, True):
        tag = "deltas" if with_deltas else "plain"
        got = run("bucket_local", f"bl-{tag}", with_deltas)
        assert got == run("fused", f"fused-{tag}", with_deltas)
        assert ("o/r", "a.py", "c4", "py", "A1", 7) in got


def test_bucket_local_merge_over_duplicate_appended_keys(spark, tmp_path):
    """Two appends leave the same key twice in one bucket; an explicit
    bucket_local merge updating that key must fold both resident copies
    like the fused merge does, not assume resident keys are unique."""
    row = [("o/r", "a.py", "c0", "py", "A0"), ("o/r", "b.py", "c0", "md", "B0")]
    events = spark.createDataFrame(
        [(0, "U", "o/r", "a.py", "c1", "py", "A1")],
        "lsn bigint, op string, repo string, path string, commit string, "
        "lang string, content string",
    )
    states = {}
    for strategy in ("fused", "bucket_local"):
        t = _make_table(spark, tmp_path / strategy)
        for _ in range(2):
            t.append(spark.createDataFrame(row, "repo string, path string, "
                                           "commit string, lang string, content string"))
        stats = merge_batch(t, events, "b0", strategy=strategy)
        assert stats.strategy == strategy
        states[strategy] = _rows(t.read())
    assert states["bucket_local"] == states["fused"]
    assert ("o/r", "a.py", "c1", "py", "A1") in states["fused"]


def test_auto_strategy_is_fused_in_local_mode(spark, tmp_path):
    """auto must not pick the Arrow hop under a local master (measured
    slower than the in-memory shuffle it avoids) — assert the *resolved*
    strategy, not just the (strategy-independent) final state."""
    t = _make_table(spark, tmp_path)
    log = generate_change_log(spark, SPEC)
    stats = merge_batch(t, log, "b0", strategy="auto")
    assert stats.strategy == "fused"
    plan_rows = _rows(t.read())
    assert plan_rows == _rows(expected_final_state(spark, SPEC))


def test_merge_on_read_append_delta(spark, tmp_path):
    """append_delta writes delta files only (no bucket rewrite); reads
    fold them to exactly the LWW state; compact() folds them into base
    files without changing the visible rows."""
    log = generate_change_log(spark, SPEC)
    t = _make_table(spark, tmp_path)
    b0 = log.filter(F.col("lsn") < 2000)
    b1 = log.filter(F.col("lsn") >= 2000)
    s0 = merge_batch(t, b0, "b0", strategy="append_delta")
    s1 = merge_batch(t, b1, "b1", strategy="append_delta")
    assert s0.strategy == s1.strategy == "append_delta"
    kinds = {f.kind for f in t.snapshot.files}
    assert kinds == {"delta"}  # nothing was rewritten, base never existed
    expected = _rows(expected_final_state(spark, SPEC))
    assert _rows(t.read()) == expected
    # compaction: same rows, no deltas left, zero-shuffle reads again
    n = t.compact()
    assert n > 0
    assert {f.kind for f in t.snapshot.files} == {"base"}
    assert _rows(t.read()) == expected
    assert t.compact() == 0  # idempotent: nothing left to fold
    # orphaned pre-compaction files are vacuumable; state intact
    t.vacuum()
    assert _rows(t.read()) == expected


def test_merge_on_read_interops_with_cow(spark, tmp_path):
    """A CoW (fused) merge over a table holding deltas folds them into
    its resident read and replaces them — mixed-mode tables converge."""
    log = generate_change_log(spark, SPEC)
    t = _make_table(spark, tmp_path)
    merge_batch(t, log.filter(F.col("lsn") < 2000), "b0", strategy="append_delta")
    assert {f.kind for f in t.snapshot.files} == {"delta"}
    merge_batch(t, log.filter(F.col("lsn") >= 2000), "b1", strategy="fused")
    assert _rows(t.read()) == _rows(expected_final_state(spark, SPEC))


def test_changes_feed_classifies_ops(spark, tmp_path):
    """LakeTable.changes between two snapshots yields exactly the
    inserted / updated / deleted keys with the right change_op."""
    t = _make_table(spark, tmp_path)
    cols = "lsn long, op string, repo string, path string, commit string, lang string, content string"
    b0 = spark.createDataFrame(
        [
            (0, "I", "r", "keep", "c0", "py", "same"),
            (1, "I", "r", "upd", "c1", "py", "old"),
            (2, "I", "r", "del", "c2", "py", "bye"),
        ],
        cols,
    )
    merge_batch(t, b0, "b0")
    v0 = t.snapshot.version
    b1 = spark.createDataFrame(
        [
            (3, "U", "r", "upd", "c3", "py", "new"),
            (4, "D", "r", "del", None, None, None),
            (5, "I", "r", "ins", "c5", "py", "hello"),
        ],
        cols,
    )
    merge_batch(t, b1, "b1")
    got = {
        (r["path"], r["change_op"], r["content"])
        for r in t.changes(v0).collect()
    }
    assert got == {
        ("upd", "U", "new"),
        ("del", "D", None),
        ("ins", "I", "hello"),
    }
    # pruning: only buckets whose file set changed are diffed — at most
    # the 3 touched keys' buckets, never all 16
    touched = t.changed_buckets(v0)
    assert 1 <= len(touched) <= 3
    assert t.changed_buckets(t.snapshot.version) == set()  # self-diff empty
    assert t.changes(t.snapshot.version).count() == 0


def test_engine_auto_compaction(spark, tmp_path):
    """compact_every folds MOR deltas during replay, bounding read
    amplification; the final state is unchanged."""
    log = generate_change_log(spark, SPEC)
    t = _make_table(spark, tmp_path)
    engine = CdcEngine(t, strategy="append_delta", compact_every=2)
    engine.replay(log, batch_size=1000)  # 4 batches → compactions after b1, b3
    assert {f.kind for f in t.snapshot.files} == {"base"}  # fully folded
    assert _rows(t.read()) == _rows(expected_final_state(spark, SPEC))


def test_winner_prefilter_matches_unfiltered_merge(spark, tmp_path, monkeypatch):
    """The late-materialization prefilter (on by default at SPEC's 13x
    dup ratio, so every other test exercises it) must produce the exact
    state of the unfiltered fused merge."""
    log = generate_change_log(spark, SPEC)
    monkeypatch.setattr(table_mod, "SMALL_BATCH_ROWS", 0)  # force it on
    t1 = _make_table(spark, tmp_path / "with_pf")
    merge_batch(t1, log, "b0")
    monkeypatch.setenv("PANORAMA_PREFILTER_MAX_BYTES", "0")  # disable
    t2 = _make_table(spark, tmp_path / "no_pf")
    merge_batch(t2, log, "b0")
    assert _rows(t1.read()) == _rows(t2.read())


def test_strategy_argument_passes_through_and_invalid_raises(spark, tmp_path):
    t = _make_table(spark, tmp_path)
    log = generate_change_log(spark, SPEC)
    stats = merge_batch(t, log, "b0", strategy="append_delta")
    assert stats.strategy == "append_delta"
    # unknown strategy raises instead of silently degrading
    with pytest.raises(ValueError, match="bucketlocal"):
        merge_batch(t, log, "b1", strategy="bucketlocal")
    with pytest.raises(ValueError, match="fussed"):
        merge_batch(t, log, "b1", strategy="fussed")


# ------------------------------------------------------- lineage outcomes


def test_lineage_counts_outcomes_not_events(spark, tmp_path):
    """rows_deleted/rows_upserted count per-key *outcomes* (the max-LSN
    winner's op), not raw delete events: a D→U chain is one upsert, a
    multi-D chain is one delete."""
    t = _make_table(spark, tmp_path, n_buckets=4)
    rows = [
        (1, "D", "r1", "a", None, None, None),        # a: D then U → upsert
        (2, "U", "r1", "a", "c2", "py", "xa"),
        (3, "D", "r1", "b", None, None, None),        # b: D, D → ONE delete
        (4, "D", "r1", "b", None, None, None),
        (5, "U", "r1", "c", "c5", "py", "yc"),        # c: U then D → delete
        (6, "D", "r1", "c", None, None, None),
        (7, "I", "r1", "e", "c7", "py", "ze"),        # e: plain insert
    ]
    batch = spark.createDataFrame(
        rows,
        "lsn bigint, op string, repo string, path string, commit string, lang string, content string",
    )
    stats = merge_batch(t, batch, "b0")
    assert stats.keys_in_batch == 4
    assert stats.rows_in == 7
    assert stats.rows_deleted == 2   # winners D: keys b and c
    assert stats.rows_upserted == 2  # winners not-D: keys a and e
    lineage = t.snapshot.lineage
    assert sum(r["rows_deleted"] for r in lineage) == 2
    assert sum(r["rows_upserted"] for r in lineage) == 2
    state = {(r["repo"], r["path"]) for r in t.read().collect()}
    assert state == {("r1", "a"), ("r1", "e")}


def test_prefilter_is_null_key_safe(spark, tmp_path, monkeypatch):
    """NULL is a valid groupBy key; the winner-prefilter broadcast join
    must not silently drop NULL-keyed events (the prefilter fires
    data-dependently, so dropping them would make the same log produce
    different states depending on dup ratio)."""
    monkeypatch.setattr(table_mod, "SMALL_BATCH_ROWS", 0)  # force it on
    nullable = TableSchema(
        [
            Field(1, "repo", "string", True),
            Field(2, "path", "string", True),
            Field(3, "commit", "string"),
            Field(4, "lang", "string"),
            Field(5, "content", "string"),
        ],
        schema_version=1,
    )
    t = LakeTable.create(
        spark, str(tmp_path / "repos"), nullable, ["repo", "path"], n_buckets=4
    )
    rows = [
        (1, "I", None, None, "c1", "py", "v1"),   # null-key update chain
        (2, "U", None, None, "c2", "py", "v2"),
        (3, "U", None, None, "c3", "py", "v3"),
        (4, "I", "r1", "a", "c4", "py", "w1"),    # normal update chain
        (5, "U", "r1", "a", "c5", "py", "w2"),
        (6, "U", "r1", "a", "c6", "py", "w3"),
    ]
    batch = spark.createDataFrame(
        rows,
        "lsn bigint, op string, repo string, path string, commit string, lang string, content string",
    )
    # rows_in=6 >= 2 * n_keys=2 → the prefilter path fires
    stats = merge_batch(t, batch, "b0")
    assert stats.keys_in_batch == 2
    assert stats.rows_upserted == 2
    got = sorted(
        [(r["repo"], r["path"], r["commit"]) for r in t.read().collect()],
        key=lambda x: (x[0] is not None, x),
    )
    assert got == [(None, None, "c3"), ("r1", "a", "c6")]


def test_prefilter_on_off_parity_nasty_log(spark, tmp_path, monkeypatch):
    """The winner prefilter fires data-dependently, so its presence must
    never change the result. Same nasty log (NULL keys, duplicate
    deliveries, delete chains, out-of-order LSNs) merged with the
    prefilter forced off vs on, under both CoW and merge-on-read —
    all four states identical."""
    nullable = TableSchema(
        [
            Field(1, "repo", "string", True),
            Field(2, "path", "string", True),
            Field(3, "commit", "string"),
            Field(4, "lang", "string"),
            Field(5, "content", "string"),
        ],
        schema_version=1,
    )
    rows = [
        (5, "U", None, "p", "c5", "py", "n5"),     # null repo, out of order
        (1, "I", None, "p", "c1", "py", "n1"),
        (3, "D", None, "p", None, None, None),
        (7, "I", "r", None, "c7", "py", "m7"),     # null path
        (7, "I", "r", None, "c7", "py", "m7"),     # duplicate delivery
        (2, "I", "r", "p", "c2", "py", "x2"),
        (9, "D", "r", "p", None, None, None),      # ends deleted
        (4, "U", "s", "q", "c4", "py", "y4"),
        (6, "U", "s", "q", "c6", "py", "y6"),
        (8, "U", "s", "q", "c8", "py", "y8"),      # update chain
    ]
    log = spark.createDataFrame(
        rows,
        "lsn bigint, op string, repo string, path string, commit string, lang string, content string",
    )
    states = {}
    monkeypatch.setattr(table_mod, "SMALL_BATCH_ROWS", 0)
    for strategy in ("fused", "append_delta"):
        for prefilter in (True, False):
            monkeypatch.setenv(
                "PANORAMA_PREFILTER_MAX_BYTES", "128000000" if prefilter else "0"
            )
            root = str(tmp_path / f"{strategy}_{prefilter}")
            t = LakeTable.create(spark, root, nullable, ["repo", "path"], n_buckets=4)
            merge_batch(t, log, "b0", strategy=strategy)
            states[(strategy, prefilter)] = sorted(
                ((r["repo"], r["path"], r["commit"], r["content"]) for r in t.read().collect()),
                key=str,
            )
    expected = [
        (None, "p", "c5", "n5"),
        ("r", None, "c7", "m7"),
        ("s", "q", "c8", "y8"),
    ]
    for state in states.values():
        assert state == sorted(expected, key=str)


def serial_replay(engine, log, batch_size):
    """The stats prefetch's reference: one public ``apply_batch`` per
    aligned batch of a fresh table, each computing its own stats."""
    max_lsn = log.agg(F.max("lsn")).collect()[0][0]
    return [
        engine.apply_batch(
            log.filter(
                (F.col("lsn") >= k * batch_size) & (F.col("lsn") < (k + 1) * batch_size)
            ),
            f"b{k}@{batch_size}",
        )
        for k in range(max_lsn // batch_size + 1)
    ]


def test_stats_prefetch_on_off_parity(spark, tmp_path):
    """The stats prefetch is pure pipelining: ``replay`` produces the
    state, lineage, and batch ids of a serial loop of ``apply_batch``
    calls without it (byte-identical per-row sha256)."""
    log = generate_change_log(spark, SPEC)
    states = {}
    for flag in ("1", "0"):
        root = tmp_path / f"prefetch_{flag}"
        root.mkdir()
        t = _make_table(spark, root)
        if flag == "1":
            batches = CdcEngine(t).replay(log, batch_size=1000).batches
        else:
            batches = serial_replay(CdcEngine(t), log, batch_size=1000)
        states[flag] = {
            "state": sorted(
                tuple(r) for r in t.read().select(
                    "repo", "path", "commit", F.sha2("content", 256)
                ).collect()
            ),
            "batches": [b.batch_id for b in batches],
            "lineage": sorted(
                tuple(r) for r in t.lineage_df().drop("snapshot_version").collect()
            ),
            "last_lsn": t.snapshot.last_lsn,
        }
    assert states["1"] == states["0"]
    assert len(states["1"]["state"]) > 0


def test_commit_conflict_same_batch_resolves_to_skip(spark, tmp_path):
    """Exactly-once under concurrent retry: two writers race the same
    deterministic batch id; the CAS loser sees the id in the winning
    snapshot and reports skipped (its files stay unreferenced for
    vacuum). A conflict from a DIFFERENT batch id is a real lost update
    and re-raises for the caller to retry from the fresh snapshot."""
    from panorama_elt_spark.cdc.merge import commit_or_skip
    from panorama_elt_spark.lakehouse.snapshot import CommitConflict

    t = _make_table(spark, tmp_path, n_buckets=4)
    stale = t.snapshot  # parent captured BEFORE the winner commits
    log = spark.createDataFrame(
        [(0, "I", "r", "p", "c", "py", "x")],
        "lsn bigint, op string, repo string, path string, commit string, "
        "lang string, content string",
    )
    merge_batch(t, log, "b0")  # the winner lands the batch
    v_after = t.snapshot.version
    state = _rows(t.read())
    snap, lost = commit_or_skip(t, stale, set(), [], batch_id="b0", lineage_rows=[])
    assert lost and snap.version == v_after
    assert _rows(t.read()) == state  # winner's state untouched
    # a DIFFERENT batch that moved the LSN checkpoint line under us (as
    # the real merge call shape always records) is a lost update — no
    # silent rebase, the caller must re-merge from the fresh snapshot
    with pytest.raises(CommitConflict):
        commit_or_skip(
            t, stale, set(), [], batch_id="other", lineage_rows=[],
            last_lsn=stale.last_lsn,
        )
