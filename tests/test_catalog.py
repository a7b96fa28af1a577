"""Durable lake catalog: persist_catalog / attach_catalog.

Contract: ``persist_catalog`` writes one ``_catalog.json`` under the
lake base dir (through FileIO), and ``attach_catalog`` rebuilds the full
raw+typed SQL surface from it in one call — in the writing session, in
a *different* process (the cross-session persistence the reference gets
from Glue/Athena), and over the ``panorama`` data source with identical
rows.
"""

import json
import os
import subprocess
import sys

import pytest

from panorama_elt_spark.catalog import (
    CATALOG_DOC,
    attach_catalog,
    persist_catalog,
    read_catalog,
)
from panorama_elt_spark.lakehouse import Field, LakeTable, TableSchema
from panorama_elt_spark.lakehouse.fileio import InMemoryFileIO

SCHEMA = TableSchema(
    [
        Field(1, "repo", "string", False),
        Field(2, "n", "string"),
        Field(3, "seen", "string"),
    ],
    schema_version=1,
)
FIELD_TYPES = {"repo": "varchar(80)", "n": "bigint", "seen": "datetime"}


def _mk_lake(spark, base):
    os.makedirs(base, exist_ok=True)
    for name, rows in [
        ("commits", [("a", "1", "2024-01-02 03:04:05.000000"), ("b", "x", "NULL")]),
        ("repos", [("c", "7", "2024-05-06 07:08:09.000000")]),
    ]:
        t = LakeTable.create(
            spark, os.path.join(base, name), SCHEMA, ["repo"], n_buckets=2
        )
        t.overwrite(
            spark.createDataFrame(rows, SCHEMA.to_struct()),
            properties={"field_types": FIELD_TYPES},
        )
    return base


@pytest.fixture()
def lake(spark, tmp_path):
    return _mk_lake(spark, str(tmp_path / "lake"))


def test_persist_writes_single_document(lake):
    doc = persist_catalog(lake)
    assert {t["name"] for t in doc["tables"]} == {"commits", "repos"}
    on_disk = read_catalog(lake)
    assert on_disk["tables"] == doc["tables"]


def test_attach_rebuilds_views_from_document(spark, lake):
    persist_catalog(lake)
    for v in ("commits", "commits_raw", "repos", "repos_raw"):
        spark.catalog.dropTempView(v)
    views = attach_catalog(spark, lake)
    assert set(views) == {"commits", "commits_raw", "repos", "repos_raw"}
    # raw stays all-string; typed applies the declared classes
    raw = {tuple(r) for r in spark.table("commits_raw").collect()}
    assert ("b", "x", "NULL") in raw
    typed = {tuple(r) for r in spark.table("commits").collect()}
    by_repo = {t[0]: t for t in typed}
    assert by_repo["a"][1] == 1  # bigint TRY_CAST
    assert by_repo["b"][1] is None  # malformed -> NULL
    assert by_repo["b"][2] is None  # 'NULL' temporal -> NULL


def test_attach_via_datasource_matches_native(spark, lake):
    persist_catalog(lake)
    native = attach_catalog(spark, lake)
    native_rows = {
        v: sorted(map(tuple, spark.table(v).collect())) for v in native
    }
    ds_views = attach_catalog(spark, lake, use_datasource=True)
    assert set(ds_views) == set(native)
    for v in ds_views:
        assert sorted(map(tuple, spark.table(v).collect())) == native_rows[v]


def test_attach_without_document_falls_back_to_scan(spark, lake):
    assert read_catalog(lake) is None
    views = attach_catalog(spark, lake)
    assert "commits" in views and "repos_raw" in views


def test_custom_views_persist_and_attach(spark, lake):
    persist_catalog(
        lake, extra_views={"big_commits": "SELECT repo, n FROM commits WHERE n >= 1"}
    )
    views = attach_catalog(spark, lake)
    assert "big_commits" in views
    assert {r.repo for r in spark.table("big_commits").collect()} == {"a"}


def test_document_io_through_fake_object_store():
    io = InMemoryFileIO()
    # a lake written before persist_catalog existed: no doc, no tables
    assert read_catalog("mem://lake", io) is None
    doc = persist_catalog("mem://lake", io)
    assert doc["tables"] == []
    stored = json.loads(io.read_text(os.path.join("mem://lake", CATALOG_DOC)))
    assert stored["format_version"] == 1


def test_attach_in_fresh_process(spark, lake, tmp_path):
    """The persistence claim itself: a brand-new interpreter + Spark
    session rebuilds the SQL surface from the document alone."""
    persist_catalog(lake)
    driver = str(tmp_path / "drv.py")
    with open(driver, "w") as fh:
        fh.write(
            """
import sys
sys.path.insert(0, %r)
from panorama_elt_spark.session import get_spark
from panorama_elt_spark.catalog import attach_catalog
spark = get_spark("attach-x-session", master="local[2]", shuffle_partitions=4)
views = attach_catalog(spark, sys.argv[1])
rows = spark.sql("SELECT repo, n FROM commits ORDER BY repo").collect()
print("XSESSION views=%%d rows=%%s" %% (len(views), [tuple(r) for r in rows]))
spark.stop()
"""
            % os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        )
    r = subprocess.run(
        [sys.executable, driver, lake],
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert r.returncode == 0, (r.stdout[-800:], r.stderr[-800:])
    assert "XSESSION views=4 rows=[('a', 1), ('b', None)]" in r.stdout


@pytest.mark.parametrize("use_datasource", [False, True])
def test_attach_resolves_each_table_once(spark, lake, monkeypatch, use_datasource):
    """The raw and typed views of a table come from one snapshot
    resolution: a commit between two resolutions could pair one
    schema's typed columns with another snapshot's rows."""
    from panorama_elt_spark.lakehouse.snapshot import SnapshotLog

    persist_catalog(lake)
    calls = []
    orig = SnapshotLog.resolve

    def counting(self, *args, **kw):
        calls.append(self.root)
        return orig(self, *args, **kw)

    monkeypatch.setattr(SnapshotLog, "resolve", counting)
    views = attach_catalog(spark, lake, use_datasource=use_datasource)
    monkeypatch.setattr(SnapshotLog, "resolve", orig)
    assert sorted(os.path.basename(r) for r in calls) == ["commits", "repos"]
    typed = {tuple(r) for r in spark.table("commits").collect()}
    assert {t[0]: t[1] for t in typed} == {"a": 1, "b": None}
    assert set(views) == {"commits", "commits_raw", "repos", "repos_raw"}
