"""Bronze→silver typed view: per-type-class conversions over an
all-string raw layer.

Reimplements the reference's Athena view generator
(``panorama_datalake.py:372-415``): the raw layer erases every column to
string (``:283``) and the view reconstructs types in four classes
(``:379-405``). Spark equivalents use ``try_*`` functions so malformed
values become NULL (TRY semantics) instead of failing under ANSI mode.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .normalize import micros_format

_INT_TYPES = {"int", "tinyint", "smallint", "mediumint", "bigint"}
_FLOAT_TYPES = {"float", "double", "decimal"}
_TIME_TYPES = {"datetime", "date", "timestamp", "time", "year"}
_STRING_TYPES = {
    "char", "varchar", "tinytext", "text", "mediumtext", "longtext",
    "enum", "string", "json",
}

_TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"


def typed_view_columns(field_types: dict[str, str]) -> list[Column]:
    """One conversion expression per field, by declared (MySQL-ish) type.

    | class    | conversion                               | ref site |
    |----------|------------------------------------------|----------|
    | integer  | TRY_CAST(x AS BIGINT)                    | :383-384 |
    | float    | TRY_CAST(x AS DOUBLE) (DECIMAL lossy)    | :385-386 |
    | temporal | TRY(date_parse(x, '%Y-%m-%d %H:%i:%s.%f'))| :389-391 |
    | string   | NULLIF(x, 'NULL')                        | :395,400 |
    | other    | TRY_CAST(x AS <type>)                    | :404-405 |
    """
    cols: list[Column] = []
    for name, mysql_type in field_types.items():
        base = mysql_type.lower().split("(")[0].strip()
        src = F.col(name)
        if base in _INT_TYPES:
            out = src.try_cast("bigint")
        elif base in _FLOAT_TYPES:
            out = src.try_cast("double")
        elif base in _TIME_TYPES:
            out = F.try_to_timestamp(src, F.lit(_TS_FMT))
        elif base in _STRING_TYPES:
            out = F.nullif(src, F.lit("NULL"))
        else:
            out = src.try_cast(base)
        cols.append(out.alias(name))
    return cols


def typed_view(snap, raw: DataFrame) -> DataFrame:
    """A lake table's typed (silver) view over its raw frame: one
    ``typed_view_columns`` conversion per schema column, by the declared
    field-type map the snapshot stores (``field_types``, set by
    extract-and-load); columns without a declared type stay string."""
    declared = snap.properties.get("field_types") or {}
    return raw.select(
        typed_view_columns({c: declared.get(c, "string") for c in snap.schema.names})
    )


def raw_string_columns(df: DataFrame) -> list[Column]:
    """The inverse edge: render every column as the raw layer would store
    it — strings, datetimes with 6-digit microseconds (reference K1)."""
    cols = []
    for f in df.schema.fields:
        if f.dataType.typeName() in ("timestamp", "timestamp_ntz"):
            cols.append(micros_format(F.col(f.name)).alias(f.name))
        else:
            cols.append(F.col(f.name).cast("string").alias(f.name))
    return cols
