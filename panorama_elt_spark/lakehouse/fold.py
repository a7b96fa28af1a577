"""The last-writer-wins fold — the one rule every read, merge and change
feed applies: per key, the row with the highest ``__lsn`` wins, and its
``__op`` says whether the key is live (``'D'`` = a hidden tombstone).

Every data file carries ``__op``/``__lsn`` (table format 3): merge
output stores each winner's op and LSN, merge-on-read deltas store the
event's, and plain appends/overwrites store ``'E'``/``-1`` — older than
any event, so an event always outranks them. The fold therefore never
has to invent or repair a system column.

It exists in exactly two forms, one per engine:

* ``lww_fold`` — the JVM form, ``groupBy(keys).agg(max_by(struct(payload,
  __op), __lsn), max(__lsn))``. A hash aggregate gets map-side partial
  aggregation, so a hot key collapses to at most one row per map
  partition before the exchange.
* ``lww_winners`` — the Arrow form, for executor-side kernels that hold a
  whole bucket (bucketing co-locates every row of a key): the data
  source's reads and change feeds and the bucket-local merge. One stable
  sort by ``__lsn`` and one order-keeping group-by pick each key's first
  row, all in Arrow. Its input comes from ``load_projected``, which maps
  every file onto the current schema by field id.

Each engine reads a planned file set the same way: read every file
(base and delta alike, at their stored system columns), fold only if the
set holds a delta, then drop tombstones unless the caller keeps
``__op``/``__lsn``.

LSNs are unique per key by contract; a duplicated ``(key, lsn)`` is an
at-least-once redelivery with an identical payload, so any of its rows
is the answer. NULL is a valid key value and groups like any other.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F


def lww_fold(df: DataFrame, keys: list[str], payload: list[str]) -> DataFrame:
    """One winner row per key: ``keys``, ``payload``, ``__op``, ``__lsn``
    of the max-``__lsn`` row (tombstones included — callers that serve
    user reads drop ``__op = 'D'``)."""
    winner = F.max_by(
        F.struct(*[F.col(c) for c in payload], F.col("__op")), F.col("__lsn")
    ).alias("__w")
    return (
        df.groupBy(*keys)
        .agg(winner, F.max("__lsn").alias("__lsn"))
        .select(
            *keys,
            *[F.col(f"__w.{c}").alias(c) for c in payload],
            F.col("__w.__op").alias("__op"),
            F.col("__lsn"),
        )
    )


def target_fields(schema) -> list[tuple[int, str, str, object]]:
    """A schema as the plain ``(field_id, name, type, default)`` rows the
    executor-side kernels take."""
    return [(f.id, f.name, f.type, f.default) for f in schema.fields]


def history_fields(history: dict) -> dict[int, list[tuple[int, str, str]]]:
    """``schema_history`` as plain ``{version: [(field_id, name, type)]}``."""
    return {sv: [(f.id, f.name, f.type) for f in s.fields] for sv, s in history.items()}


def arrow_type(type_name: str):
    """Table-schema DDL name → the arrow type Spark expects back."""
    from pyspark.sql.pandas.types import to_arrow_type

    from .schema import spark_type

    return to_arrow_type(spark_type(type_name))


def load_projected(
    root: str,
    files: list[tuple[str, int, str]],
    histories: dict[int, list[tuple[int, str, str]]],
    target_fields: list[tuple[int, str, str, object]],
):
    """Read a file set (``(root-relative path, schema_version, kind)``
    rows) and project every file onto the target schema by field id
    (cast widened types, backfill added columns with their declared
    default), carrying each file's ``__op``/``__lsn`` through."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    tables = []
    for relpath, schema_version, _kind in files:
        tbl = pq.read_table(os.path.join(root, relpath))
        old_by_id = {fid: (name, t) for fid, name, t in histories[schema_version]}
        cols, names = [], []
        for fid, name, tname, default in target_fields:
            at = arrow_type(tname)
            old = old_by_id.get(fid)
            if old is None:  # column postdates this file: backfill
                col = (
                    pa.nulls(len(tbl), type=at)
                    if default is None
                    else pa.array([default] * len(tbl)).cast(at)
                )
            else:
                col = tbl.column(old[0])
                if col.type != at:
                    col = pc.cast(col, at)
            cols.append(col)
            names.append(name)
        cols += [
            pc.cast(tbl.column("__op"), pa.string()),
            pc.cast(tbl.column("__lsn"), pa.int64()),
        ]
        names += ["__op", "__lsn"]
        tables.append(pa.table(cols, names=names))
    if not tables:
        fields = [(name, arrow_type(t)) for _, name, t, _ in target_fields]
        fields += [("__op", pa.string()), ("__lsn", pa.int64())]
        return pa.table({n: pa.nulls(0, type=t) for n, t in fields})
    return tables[0] if len(tables) == 1 else pa.concat_tables(tables)


def lww_winners(tbl, key_cols: list[str]):
    """One winner row per key by max ``__lsn`` (keeps ``__op``) — the
    Arrow twin of ``lww_fold``, run inside one bucket.

    A stable descending sort on ``__lsn`` puts each key's winner first;
    a single-threaded group-by keeps the first row index per key, and
    one ``take`` gathers the winners. Arrow groups NULL key values like
    any other value (``lww_fold``'s ``groupBy`` semantics), and a
    duplicated ``(key, lsn)`` keeps one row. ``skip_nulls=False`` pins
    ``first`` to the first row in sort order."""
    import pyarrow.compute as pc

    order = pc.sort_indices(tbl, [("__lsn", "descending")])
    ranked = tbl.select(key_cols).take(order).append_column("__i", order)
    first = ranked.group_by(key_cols, use_threads=False).aggregate(
        [("__i", "first", pc.ScalarAggregateOptions(skip_nulls=False))]
    )
    return tbl.take(first["__i_first"])
