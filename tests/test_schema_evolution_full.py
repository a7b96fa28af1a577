"""FIXTURES.md §4: add / widen / rename variants through the engine,
with mixed-version batches and old-file readability after each ALTER."""

from pyspark.sql import functions as F

from panorama_elt_spark.cdc import CdcEngine
from panorama_elt_spark.lakehouse import Field, LakeTable, TableSchema

V1 = TableSchema(
    [
        Field(1, "repo", "string", False),
        Field(2, "path", "string", False),
        Field(3, "commit", "string"),
        Field(4, "lang", "string"),
        Field(5, "content", "string"),
    ],
    schema_version=1,
)
# add: stars int default 0
V2 = TableSchema(V1.fields + [Field(6, "stars", "int", default=0)], schema_version=2)
# widen stars → bigint AND rename lang → language (field id 4 stable)
V3 = TableSchema(
    [
        Field(1, "repo", "string", False),
        Field(2, "path", "string", False),
        Field(3, "commit", "string"),
        Field(4, "language", "string"),
        Field(5, "content", "string"),
        Field(6, "stars", "bigint", default=0),
    ],
    schema_version=3,
)

REGISTRY = {1: V1, 2: V2, 3: V3}

LOG_SCHEMA = (
    "lsn bigint, op string, repo string, path string, commit string, "
    "lang string, language string, content string, stars bigint, schema_version int"
)


def _log(spark, rows):
    return spark.createDataFrame(rows, LOG_SCHEMA)


def test_add_widen_rename_through_replay(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), V1, ["repo", "path"], n_buckets=4)
    engine = CdcEngine(t, schema_registry=REGISTRY)

    # batch 0: v1 events (no stars, column named lang)
    engine.apply_batch(
        _log(spark, [
            (0, "I", "o/r", "a.py", "c0", "py", None, "A0", None, 1),
            (1, "I", "o/r", "b.py", "c1", "md", None, "B0", None, 1),
        ]),
        "b0",
    )
    assert t.snapshot.schema.schema_version == 1

    # batch 1: v2 arrives (stars int) → ALTER ADD lands first
    engine.apply_batch(
        _log(spark, [
            (2, "U", "o/r", "a.py", "c2", "py", None, "A1", 7, 2),
        ]),
        "b1",
    )
    assert t.snapshot.schema.schema_version == 2
    rows = {r["path"]: r.asDict() for r in t.read().collect()}
    assert rows["a.py"]["stars"] == 7
    assert rows["b.py"]["stars"] == 0  # backfilled default on v1-written file

    # batch 2: v3 (rename lang→language, widen stars→bigint), mixed with a
    # late v1 event for a new key — conform maps it through old names
    engine.apply_batch(
        _log(spark, [
            (3, "I", "o/r", "c.py", "c3", None, "sql", "C0", 2**40, 3),
            (4, "I", "o/r", "d.py", "c4", "yaml", None, "D0", None, 1),
        ]),
        "b2",
    )
    snap = t.snapshot
    assert snap.schema.schema_version == 3
    assert snap.schema.field_by_name("language").id == 4
    assert snap.schema.field_by_name("stars").type == "bigint"
    rows = {r["path"]: r.asDict() for r in t.read().collect()}
    assert set(t.read().columns) == {"repo", "path", "commit", "language", "content", "stars"}
    # v1-written rows surface under the renamed column
    assert rows["b.py"]["language"] == "md"
    assert rows["d.py"]["language"] == "yaml"
    # widened value survives
    assert rows["c.py"]["stars"] == 2**40
    # all four keys present
    assert len(rows) == 4


def test_alter_is_metadata_only(spark, tmp_path):
    """No data files are rewritten by an ALTER."""
    t = LakeTable.create(spark, str(tmp_path / "t"), V1, ["repo", "path"], n_buckets=4)
    engine = CdcEngine(t, schema_registry=REGISTRY)
    engine.apply_batch(
        _log(spark, [(0, "I", "o/r", "a.py", "c0", "py", None, "A0", None, 1)]), "b0"
    )
    files_before = {f.path for f in t.snapshot.files}
    t.alter_schema(V2)
    assert {f.path for f in t.snapshot.files} == files_before


def _evo_log(spark, n=3000):
    """Deterministic 3-epoch change log: v1 events, then v2 (stars),
    then v3 (rename+widen), with update chains crossing the epochs."""
    rows = []
    for lsn in range(n):
        k = f"k{lsn % 300}"
        if lsn < n // 3:
            rows.append((lsn, "U" if lsn % 5 else "I", "o/r", k, f"c{lsn}", "py", None, f"C{lsn}", None, 1))
        elif lsn < 2 * n // 3:
            rows.append((lsn, "D" if lsn % 17 == 0 else "U", "o/r", k, f"c{lsn}", "py", None, f"C{lsn}", lsn, 2))
        else:
            rows.append((lsn, "U", "o/r", k, f"c{lsn}", None, "sql", f"C{lsn}", lsn * 2, 3))
    return _log(spark, rows)


def test_prefetch_on_off_parity_under_evolution(spark, tmp_path, monkeypatch):
    """Round-4 verdict item 7: with a registry the stats prefetch stays
    ON between ALTER boundaries (the evolution schedule is precomputed
    from the log). States must be byte-identical with prefetch on (the
    replay) and off (a serial loop of ``apply_batch`` calls), the
    evolution must land at v3 both ways, and with a correct schedule no
    batch recomputes its stats at apply time."""
    import panorama_elt_spark.cdc.engine as engine_mod
    import panorama_elt_spark.cdc.merge as merge_mod
    from tests.test_cdc_core import serial_replay

    log = _evo_log(spark).cache()
    try:
        states = {}
        for flag in ("1", "0"):
            calls = {"n": 0}
            orig = merge_mod.compute_batch_stats

            def counting(*a, **kw):
                calls["n"] += 1
                return orig(*a, **kw)

            monkeypatch.setattr(merge_mod, "compute_batch_stats", counting)
            monkeypatch.setattr(engine_mod, "compute_batch_stats", counting)
            t = LakeTable.create(
                spark, str(tmp_path / f"t{flag}"), V1, ["repo", "path"], n_buckets=4
            )
            engine = CdcEngine(t, schema_registry=REGISTRY)
            if flag == "1":
                batches = engine.replay(log, batch_size=500).batches
            else:
                batches = serial_replay(engine, log, batch_size=500)
            assert len(batches) == 6 and not any(b.skipped for b in batches)
            assert t.snapshot.schema.schema_version == 3
            # exactly one stats computation per batch — the prediction
            # held across both ALTER boundaries (no discard+recompute)
            assert calls["n"] == 6, calls
            states[flag] = sorted(map(tuple, t.read().collect()))
            monkeypatch.setattr(merge_mod, "compute_batch_stats", orig)
            monkeypatch.setattr(engine_mod, "compute_batch_stats", orig)
        assert states["1"] == states["0"]
    finally:
        log.unpersist()


def test_apply_batch_rejects_stale_stats(spark, tmp_path):
    """apply_batch validates precomputed stats: a stamp from the wrong
    schema epoch is released and recomputed, never applied; stamped
    stats on a registry-less engine raise."""
    import pytest

    from panorama_elt_spark.cdc.merge import batch_events, compute_batch_stats

    t = LakeTable.create(spark, str(tmp_path / "t"), V1, ["repo", "path"], n_buckets=4)
    engine = CdcEngine(t, schema_registry=REGISTRY)
    batch = _log(spark, [(0, "I", "o/r", "a.py", "c0", "py", None, "A0", None, 1)])
    from panorama_elt_spark.cdc.engine import conform_batch

    stats = compute_batch_stats(batch_events(conform_batch(batch, V1, REGISTRY), t.snapshot), t.snapshot)
    stats.schema_version = 99  # wrong epoch stamp
    res = engine.apply_batch(batch, "b0", stats, max_schema_version=1)
    assert not res.skipped and t.read().count() == 1
    assert not stats.per_key.is_cached  # released, not leaked

    plain = CdcEngine(LakeTable.create(spark, str(tmp_path / "p"), V1, ["repo", "path"], n_buckets=4))
    ev = batch.select("lsn", "op", "repo", "path", "commit", "lang", "content")
    s2 = compute_batch_stats(batch_events(ev, t.snapshot), t.snapshot)
    s2.schema_version = 2
    with pytest.raises(ValueError):
        plain.apply_batch(ev, "b0", s2)
    assert not s2.per_key.is_cached
