"""extract-and-load orchestration — the reference's flagship command.

``panorama_elt.py:101-146`` iterates a settings file over datasources
and tables: per table it extracts the rows, lands them in the lake as
an all-string raw layer, creates/updates the lake table, and (re)builds
the typed view (``mysql_datasource.py:226-311`` →
``panorama_datalake.py:313-343`` raw DDL + ``:372-415`` view DDL).

Spark-first recomposition: extraction is a declarative ``spark.read``
(CSV / XLSX sheets / JDBC — each already a first-class source module),
the landing is one atomic all-bucket snapshot swap
(``LakeTable.overwrite``), and the typed view is the K5 conversion
projection registered from the declared field-type map, which is stored
*in the snapshot* so any later session can rebuild the view without the
settings file.

Settings YAML (descendant of the reference settings file, SURVEY §1.3):

    datalake:
      base_dir: /lake
      n_buckets: 16
    datasources:
      - name: ops_csv
        type: csv                    # csv | xlsx | jdbc
        tables:
          - name: users
            location: /in/users.csv
            key_cols: [id]           # optional; default first column
            fields:                  # optional; declared types drive the
              - {name: id, type: INT}        # typed view (absent → all
              - {name: joined, type: DATETIME}  # string, NULLIF only)
      - name: finance_xlsx
        type: xlsx
        location: /in/book.xlsx      # one workbook, sheets are tables
        tables:
          - {name: budget}           # sheet name (or sheet: <name>)
      - name: prod_mysql
        type: jdbc                   # gated: needs a driver jar
        url: jdbc:mysql://host:3306/db
        tables:
          - {name: auth_user, partition_column: id}
      - name: modulestore
        type: mongo                  # nested-document collection (the
        uri: mongodb://host:27017    # reference's course-structures
        database: edxapp             # shape); live read gated behind
        collection: modulestore.structures  # MongoUnavailable —
        location: /in/structures_parquet    # 'location:' is the
        tables:                             # offline nested-doc path
          - {name: course_blocks, key_cols: [course_id, block_id]}
"""

from __future__ import annotations

import os
from dataclasses import asdict, dataclass, field as dc_field

from pyspark.sql import DataFrame, SparkSession

from .functions.typed_view import raw_string_columns
from .lakehouse import Field, LakeTable, TableSchema
from .sources.csv_source import read_csv_table
from .sources.jdbc_source import JdbcSource
from .sources.xls_source import read_xls_tables


@dataclass
class TableLoadResult:
    datasource: str
    table: str
    status: str  # loaded | failed | skipped
    root: str = ""
    rows: int = 0
    view: str = ""
    snapshot_version: int = -1
    error: str = ""

    def to_dict(self) -> dict:
        return asdict(self)


@dataclass
class ElTSettings:
    base_dir: str
    n_buckets: int = 16
    datasources: list[dict] = dc_field(default_factory=list)


def load_settings(path: str) -> ElTSettings:
    import yaml

    with open(path) as fh:
        doc = yaml.safe_load(fh)
    lake = doc.get("datalake") or {}
    if "base_dir" not in lake:
        raise ValueError("settings must declare datalake.base_dir")
    return ElTSettings(
        base_dir=lake["base_dir"],
        n_buckets=int(lake.get("n_buckets", 16)),
        datasources=doc.get("datasources") or [],
    )


def extract_table(spark: SparkSession, ds: dict, tbl: dict) -> DataFrame:
    """One table's extraction as a declarative scan (S1/S8/S9)."""
    kind = (ds.get("type") or "").lower()
    if kind == "csv":
        return read_csv_table(spark, tbl["location"], all_string=True)
    if kind in ("xlsx", "xls"):
        sheet = tbl.get("sheet", tbl["name"])
        sheets = read_xls_tables(spark, ds["location"])
        if sheet not in sheets:
            raise ValueError(
                f"sheet {sheet!r} not in workbook {ds['location']} "
                f"(has {sorted(sheets)})"
            )
        return sheets[sheet]
    if kind == "jdbc":
        src = JdbcSource(
            spark,
            url=ds["url"],
            user=ds.get("user", ""),
            password=ds.get("password", ""),
            properties=ds.get("properties") or {},
        )
        kwargs = {}
        if tbl.get("partition_column"):
            kwargs["partition_column"] = tbl["partition_column"]
        return src.read_table(tbl["name"], **kwargs)
    if kind == "mongo":
        # the reference's course-structures pipeline as one declarative
        # plan: $exists scan (S5) → block flatten → parent attribute
        # copy-down (J4), ref course_structures_datasource.py:160-197,
        # 263-438; the scan itself is gated/offline via read_mongo_docs
        from .operators.nested import fill_parent_attrs, filter_published, flatten_blocks
        from .sources.mongo_source import read_mongo_docs

        return fill_parent_attrs(flatten_blocks(filter_published(read_mongo_docs(spark, ds))))
    raise ValueError(f"unknown datasource type {kind!r} (csv | xlsx | jdbc | mongo)")


def land_table(
    spark: SparkSession,
    base_dir: str,
    name: str,
    df: DataFrame,
    *,
    key_cols: list[str] | None = None,
    n_buckets: int = 16,
    field_types: dict[str, str] | None = None,
) -> tuple[LakeTable, int]:
    """Raw-layer landing: every column string (the reference's raw-table
    contract, ``panorama_datalake.py:281-284``), one atomic all-bucket
    overwrite, declared field types recorded in the snapshot for the
    typed view. Re-running an extract replaces the previous load — the
    idempotent whole-table analogue of the reference's partition
    re-upload."""
    import os

    raw = df.select(raw_string_columns(df))
    cols = raw.columns
    keys = list(key_cols) if key_cols else [cols[0]]
    missing = [k for k in keys if k not in cols]
    if missing:
        raise ValueError(f"key columns not in extracted table {name}: {missing}")
    root = os.path.join(base_dir, name)
    schema = TableSchema(
        [Field(i + 1, c, "string", c not in keys) for i, c in enumerate(cols)],
        schema_version=1,
    )
    try:
        table = LakeTable.load(spark, root)
        if table.snapshot.schema.names != cols or table.snapshot.key_cols != keys:
            # source shape changed: re-create (the reference logs
            # "Creating or updating datalake table" and re-issues DDL)
            table.drop()
            table = LakeTable.create(spark, root, schema, keys, n_buckets=n_buckets)
    except FileNotFoundError:
        table = LakeTable.create(spark, root, schema, keys, n_buckets=n_buckets)
    snap = table.overwrite(
        raw, properties={"field_types": dict(field_types or {})}
    )
    return table, snap.total_rows()


def discover_tables(spark: SparkSession, ds: dict) -> list[str]:
    """S3 per datasource type: the table list the source itself reports
    (ref ``get_tables`` duck-typed protocol, ``panorama_elt.py:77-98``).
    xlsx/xls workbooks enumerate their sheets; JDBC queries the live
    catalog (gated); csv/mongo tables are their declared entries (a csv
    table IS a located file; a mongo collection lands as one flattened
    table), so discovery confirms rather than extends them."""
    kind = (ds.get("type") or "").lower()
    if kind in ("xlsx", "xls"):
        return sorted(read_xls_tables(spark, ds["location"]))
    if kind == "jdbc":
        return JdbcSource(
            spark,
            url=ds["url"],
            user=ds.get("user", ""),
            password=ds.get("password", ""),
            properties=ds.get("properties") or {},
        ).get_tables()
    if kind in ("csv", "mongo"):
        return [t["name"] for t in ds.get("tables") or []]
    raise ValueError(f"unknown datasource type {kind!r} (csv | xlsx | jdbc | mongo)")


def set_tables(
    spark: SparkSession,
    settings_path: str,
    *,
    only_datasource: str | None = None,
    only_tables: list[str] | None = None,
) -> dict[str, list[str]]:
    """Update a settings file's ``tables:`` sections from datasource
    discovery (ref ``set-tables``, ``panorama_elt.py:346-407``). The
    reference *wipes* each list down to bare ``{name}`` entries ("use
    with care"); here a discovered table that already has an entry keeps
    its declared config (fields, key_cols), so the verb composes with
    ``set-tables-fields`` instead of destroying its output. Returns the
    written table list per datasource; round-trips ``load_settings``."""
    import yaml

    import warnings

    with open(settings_path) as fh:
        doc = yaml.safe_load(fh)
    written: dict[str, list[str]] = {}
    for ds in doc.get("datasources") or []:
        if only_datasource and ds.get("name") != only_datasource:
            continue
        names = discover_tables(spark, ds)
        if only_tables:
            names = [n for n in names if n in only_tables]
        existing = {t["name"]: t for t in ds.get("tables") or []}
        dropped = sorted(set(existing) - set(names))
        if dropped:
            # a declared table that discovery no longer reports (renamed
            # sheet, dropped db table) loses its per-table config — say so
            warnings.warn(
                f"set-tables: datasource {ds.get('name', '?')!r} drops declared "
                f"tables no longer discovered: {dropped}",
                stacklevel=2,
            )
        ds["tables"] = [existing.get(n, {"name": n}) for n in names]
        written[ds.get("name", "?")] = names
    # validate the rewritten document BEFORE replacing the user's file:
    # write to a sibling temp path, re-parse it through load_settings,
    # and only then atomically swap it in — a discovery result that
    # load_settings rejects leaves the original settings untouched.
    tmp_path = settings_path + ".set-tables.tmp"
    with open(tmp_path, "w") as fh:
        yaml.safe_dump(doc, fh, sort_keys=False)
    try:
        load_settings(tmp_path)
    except Exception:
        os.remove(tmp_path)
        raise
    os.replace(tmp_path, settings_path)
    return written


def create_views(spark: SparkSession, base_dir: str) -> list[str]:
    """Rebuild the raw + typed views of every lake table under
    ``base_dir`` (ref ``create-table-views``, ``panorama_elt.py:283-343``).
    The declared field-type map lives in each table's snapshot, so a
    brand-new session needs exactly this one call — no settings file."""
    import os

    from .lakehouse.table import list_tables

    views: list[str] = []
    for root in list_tables(base_dir):
        name = os.path.basename(root.rstrip("/"))
        LakeTable(spark, root).register_typed_view(name, raw_name=f"{name}_raw")
        views.append(name)
    return views


def extract_and_load(
    spark: SparkSession,
    settings: ElTSettings,
    *,
    only_datasource: str | None = None,
    only_table: str | None = None,
    fail_fast: bool = False,
) -> list[TableLoadResult]:
    """The flagship loop: for each (selected) datasource table — extract,
    land, register raw + typed views. Per-table failures are recorded
    and the loop continues (the reference's per-datasource try/except,
    ``panorama_elt.py:120-140``) unless ``fail_fast``."""
    results: list[TableLoadResult] = []
    for ds in settings.datasources:
        if only_datasource and ds.get("name") != only_datasource:
            continue
        for tbl in ds.get("tables") or []:
            name = tbl["name"]
            if only_table and name != only_table:
                continue
            res = TableLoadResult(datasource=ds.get("name", "?"), table=name, status="loaded")
            try:
                df = extract_table(spark, ds, tbl)
                field_types = {
                    f["name"]: f["type"] for f in (tbl.get("fields") or [])
                }
                table, rows = land_table(
                    spark,
                    settings.base_dir,
                    name,
                    df,
                    key_cols=tbl.get("key_cols"),
                    n_buckets=settings.n_buckets,
                    field_types=field_types,
                )
                table.register_typed_view(name, raw_name=f"{name}_raw")
                res.root = table.root
                res.rows = rows
                res.view = name
                res.snapshot_version = table.snapshot.version
            except Exception as exc:
                res.status = "failed"
                res.error = f"{type(exc).__name__}: {exc}"
                if fail_fast:
                    results.append(res)
                    raise
            results.append(res)
    # persist the lake's catalog document so any later session can
    # rebuild this view surface with one attach_catalog call (the
    # reference's Glue-persisted tables/views, panorama_elt.py:283-343)
    if any(r.status == "loaded" for r in results):
        from .catalog import persist_catalog

        persist_catalog(settings.base_dir)
    return results
