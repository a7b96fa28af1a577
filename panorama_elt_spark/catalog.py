"""Durable lake catalog: persisted view definitions + one-call attach.

The reference persists its query surface in AWS Glue/Athena — tables
and views survive any one process because the *catalog service* holds
them (``panorama_datalake.py:169-213`` partition registration,
``panorama_elt.py:283-343`` ``create_table_views``). This module is the
self-contained equivalent: a single catalog document
(``{base_dir}/_catalog.json``, written through the ``FileIO`` seam, so
it lands next to the data on whatever store holds the lake) records
every table and the views derived from it, and ``attach_catalog`` turns
that document back into a session's SQL surface in one call.

Design notes, in scale order:

* **One GET instead of a tree walk.** ``attach_catalog`` on a lake with
  the document reads exactly one object; the fallback discovery scan
  (``list_tables``) lists the whole base prefix — fine on POSIX, slow
  and eventually-consistent on an object store with thousands of
  tables. ``persist_catalog`` is the write side; ``extract-and-load``
  and ``create-views --persist`` call it after loading.
* **Attach-time snapshot resolution.** Registered views reflect each
  table's committed snapshot *as of the attach* — re-attach to pick up
  later commits (Spark's ``REFRESH TABLE`` model; the reference
  likewise re-runs ``create-table-views`` after loads). Per-query
  resolution through a long-lived catalog entry is not expressible
  today: Spark 4.1 rebuilds a DDL-created python-datasource instance
  *without* its stored options at scan time (verified empirically —
  ``reader()`` receives ``{}`` for ``CREATE TABLE ... USING panorama``
  tables), and a cached relation plans its partitions once, so the
  supported persistence unit is the definition, not a live relation.
* **Raw + typed pair per table.** ``{name}_raw`` is the all-string
  bronze layer; ``{name}`` applies the TRY-class conversions from the
  snapshot's declared field types (``functions/typed_view.py``) — the
  same silver semantics ``LakeTable.register_typed_view`` gives
  in-session.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import SparkSession

from .functions.typed_view import typed_view
from .lakehouse.fileio import FileIO, LocalFileIO
from .lakehouse.table import LakeTable, list_tables

CATALOG_DOC = "_catalog.json"


def register_data_source(spark: SparkSession) -> None:
    """Make ``format("panorama")`` available in this session (idempotent)."""
    from .sources.panorama_datasource import PanoramaDataSource

    # bucket pruning needs python-source filter pushdown; runtime-settable,
    # so sessions not built by get_spark() still work
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(PanoramaDataSource)


def persist_catalog(
    base_dir: str,
    io: FileIO | None = None,
    extra_views: dict[str, str] | None = None,
) -> dict:
    """Write (or rewrite) the lake's catalog document from the tables
    currently under ``base_dir``.

    ``extra_views`` maps custom view names to SQL text over the
    standard views (persisted verbatim, registered last on attach).
    Returns the document. The write goes through ``FileIO.write_text``
    (temp+rename locally, conditional-PUT-style on object stores), so
    readers never see a torn document.
    """
    io = io or LocalFileIO()
    doc = {
        "format_version": 1,
        "tables": [
            {"name": os.path.basename(root.rstrip("/")), "root": os.path.basename(root.rstrip("/"))}
            for root in list_tables(base_dir, io)
        ],
        "views": extra_views or {},
        "updated_unix": time.time(),
    }
    io.write_text(os.path.join(base_dir, CATALOG_DOC), json.dumps(doc, indent=1))
    return doc


def read_catalog(base_dir: str, io: FileIO | None = None) -> dict | None:
    io = io or LocalFileIO()
    path = os.path.join(base_dir, CATALOG_DOC)
    if not io.exists(path):
        return None
    return json.loads(io.read_text(path))


def attach_catalog(
    spark: SparkSession,
    base_dir: str,
    io: FileIO | None = None,
    use_datasource: bool = False,
) -> list[str]:
    """Recreate the lake's SQL surface in this session from the catalog
    document (one object read; falls back to a discovery scan when the
    document is missing, e.g. a lake written before ``persist_catalog``
    existed).

    For each table: ``{name}_raw`` (bronze, all declared columns) and
    ``{name}`` (typed silver view). ``use_datasource=True`` routes the
    raw layer through ``format("panorama")`` instead of
    ``LakeTable.read()`` — identical rows (parity-tested), useful when
    the session should treat the lake purely as an external source.
    Returns the registered view names.
    """
    io = io or LocalFileIO()
    doc = read_catalog(base_dir, io)
    if doc is None:
        roots = list_tables(base_dir, io)
    else:
        roots = [os.path.join(base_dir, t["root"]) for t in doc["tables"]]
    views: list[str] = []
    for root in roots:
        name = os.path.basename(root.rstrip("/"))
        # one snapshot resolution per table: both views see the same
        # commit (the data source is pinned to its version)
        table = LakeTable(spark, root, io)
        if use_datasource:
            register_data_source(spark)
            snap = table.snapshot
            raw = spark.read.format("panorama").option("version", snap.version).load(root)
            raw.createOrReplaceTempView(f"{name}_raw")
            typed_view(snap, raw).createOrReplaceTempView(name)
        else:
            table.register_typed_view(name, raw_name=f"{name}_raw")
        views += [f"{name}_raw", name]
    for vname, sql in (doc or {}).get("views", {}).items():
        spark.sql(f"CREATE OR REPLACE TEMP VIEW {vname} AS {sql}")
        views.append(vname)
    return views
