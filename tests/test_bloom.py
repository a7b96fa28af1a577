"""Per-file key bloom sidecars: point-lookup file skipping inside a
bucket (lakehouse/bloom.py + the task-writer sidecar + read_where's
third metadata level). Pruning is conservative — no false negatives —
so results never change; the win is files planned."""

import os

import pytest
from pyspark.sql import functions as F

from panorama_elt_spark.functions.murmur import murmur3_hash
from panorama_elt_spark.lakehouse import Field, LakeTable, TableSchema
from panorama_elt_spark.lakehouse import table as table_mod
from panorama_elt_spark.lakehouse.bloom import (
    build,
    deserialize,
    might_contain,
    serialize,
    sidecar_file_filter,
)

SCHEMA = TableSchema(
    [
        Field(1, "id", "bigint", False),
        Field(2, "ts", "timestamp"),
        Field(3, "val", "double"),
    ]
)


def _frame(spark, n=20000):
    return spark.range(0, n).select(
        F.col("id"),
        F.expr(
            "cast('2026-01-01' as timestamp) + make_dt_interval(0,0,0,id)"
        ).alias("ts"),
        (F.col("id") * 1.0).alias("val"),
    )


# ------------------------------------------------------------------ unit


def test_bloom_no_false_negatives_and_low_fpr():
    import numpy as np

    rng = np.random.RandomState(7)
    members = rng.randint(-(2**31), 2**31, size=20_000, dtype=np.int64)
    m, bits = build(members)
    doc = deserialize(serialize(m, bits))
    assert all(might_contain(doc, int(h)) for h in members[:2000])
    others = rng.randint(-(2**31), 2**31, size=5000, dtype=np.int64)
    member_set = set(int(x) & 0xFFFFFFFF for x in members)
    probes = [int(x) for x in others if (int(x) & 0xFFFFFFFF) not in member_set]
    fpr = sum(might_contain(doc, h) for h in probes) / len(probes)
    assert fpr < 0.05, fpr


def _bloom_table(spark, tmp_path, **env):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["id"], n_buckets=2)
    t.append(_frame(spark))
    t.compact(sort_by=["ts"], max_rows_per_file=1250)
    return t


def test_sidecars_written_and_pruning_bites(spark, tmp_path):
    t = _bloom_table(spark, tmp_path)
    snap = t.snapshot
    files = snap.files
    assert len(files) >= 16
    assert all(
        os.path.exists(os.path.join(t.root, f.path + ".bloom")) for f in files
    )
    # driver-side probe: a single key keeps ~1 file of its bucket
    fp = murmur3_hash([1234], ["bigint"])
    keep = sidecar_file_filter(t.io, t.root, [fp])
    from panorama_elt_spark.functions.murmur import bucket_of

    b = bucket_of([1234], ["bigint"], snap.n_buckets)
    in_bucket = snap.files_in_buckets({b})
    kept = [f for f in in_bucket if keep(f)]
    assert len(kept) < len(in_bucket) / 2, (len(kept), len(in_bucket))
    # end to end: the lookup is correct
    got = t.read_where([("id", "eq", 1234)]).collect()
    assert len(got) == 1 and got[0]["val"] == 1234.0
    # a key that does not exist: correct empty result
    assert t.read_where([("id", "eq", 10**9)]).count() == 0


def test_bloom_keeps_mor_lookup_correct(spark, tmp_path, monkeypatch):
    """Delta files carry blooms too; a key updated in a delta must fold
    base + delta even with pruning active."""
    # the toy merges would take the JVM writer, which writes no sidecars
    monkeypatch.setattr(table_mod, "SMALL_BATCH_ROWS", 0)
    from panorama_elt_spark.cdc import CdcEngine, ChangeLogSpec, generate_change_log
    from tests.test_cdc_core import REPO_SCHEMA_V1

    t = LakeTable.create(
        spark, str(tmp_path / "m"), REPO_SCHEMA_V1, ["repo", "path"], n_buckets=2
    )
    log = generate_change_log(spark, ChangeLogSpec(n_events=3000, n_keys=300))
    CdcEngine(t).replay(log, batch_size=1500, max_lsn=1499)
    CdcEngine(t, strategy="append_delta").replay(log, batch_size=1500)
    assert t.snapshot.delta_buckets()
    full = {
        (r["repo"], r["path"]): r["commit"] for r in t.read().collect()
    }
    for (repo, path), commit in list(full.items())[:10]:
        got = t.read_where([("repo", "eq", repo), ("path", "eq", path)]).collect()
        assert len(got) == 1 and got[0]["commit"] == commit


def test_bloom_disabled_and_jvm_fallback_still_correct(spark, tmp_path, monkeypatch):
    # task-writer files whose sidecars are gone: absence means "keep"
    t1 = LakeTable.create(spark, str(tmp_path / "a"), SCHEMA, ["id"], n_buckets=2)
    t1.append(_frame(spark, 2000))
    for f in t1.snapshot.files:
        os.remove(os.path.join(t1.root, f.path + ".bloom"))
    assert t1.read_where([("id", "eq", 55)]).count() == 1
    # JVM writer (a root executors cannot write as POSIX paths): no sidecars
    monkeypatch.setattr(table_mod, "root_is_shared_posix", lambda root: False)
    t2 = LakeTable.create(spark, str(tmp_path / "b"), SCHEMA, ["id"], n_buckets=2)
    t2.append(_frame(spark, 2000))
    assert not any(
        os.path.exists(os.path.join(t2.root, f.path + ".bloom"))
        for f in t2.snapshot.files
    )
    assert t2.read_where([("id", "eq", 55)]).count() == 1


def test_vacuum_reaps_orphan_sidecars(spark, tmp_path):
    t = _bloom_table(spark, tmp_path)
    n_sidecars = sum(
        1
        for dirpath, _d, names in os.walk(os.path.join(t.root, "data"))
        for n in names
        if n.endswith(".bloom")
    )
    assert n_sidecars >= 16
    t.compact(sort_by=["ts"], max_rows_per_file=1250)  # rewrite everything
    t.expire_snapshots(keep_last=1)
    t.vacuum()
    leftover = [
        os.path.join(dirpath, n)
        for dirpath, _d, names in os.walk(os.path.join(t.root, "data"))
        for n in names
        if n.endswith(".bloom")
    ]
    live = {f.path for f in t.snapshot.files}
    rel = {os.path.relpath(p, t.root)[: -len(".bloom")] for p in leftover}
    assert rel <= live  # every surviving sidecar belongs to a live file
    assert t.read_where([("id", "eq", 77)]).count() == 1


def test_bloom_through_datasource_planning(spark, tmp_path):
    """format("panorama") point lookups probe the same sidecars at plan
    time: fewer files planned, identical rows."""
    from pyspark.sql.datasource import EqualTo
    from panorama_elt_spark.catalog import register_data_source
    from panorama_elt_spark.sources.panorama_datasource import PanoramaReader

    t = _bloom_table(spark, tmp_path)
    unfiltered = PanoramaReader(t.root, {})
    n_all = sum(len(p.files) for p in unfiltered.partitions())
    pruned = PanoramaReader(t.root, {})
    list(pruned.pushFilters([EqualTo(("id",), 1234)]))
    n_pruned = sum(len(p.files) for p in pruned.partitions())
    assert 0 < n_pruned < n_all / 4, (n_pruned, n_all)
    register_data_source(spark)
    got = (
        spark.read.format("panorama")
        .load(t.root)
        .filter("id = 1234")
        .collect()
    )
    assert len(got) == 1 and got[0]["val"] == 1234.0
