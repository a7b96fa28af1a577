"""The change-feed classification: the one rule that turns an *old* and a
*new* side of a table into I/U/D rows, for ``LakeTable.changes`` and the
``format("panorama")`` batch and streaming feeds. Callers only pick the
sides, keyed on ``key_cols`` and carrying the payload (and optionally
``__op``/``__lsn``):

* **state diff** (any range): the FROM and TO states, folded and
  tombstone-free, full outer joined;
* **range winners** (a pure delta-append range): the LWW winners of the
  range's delta files, left joined to the FROM state read with its
  tombstones and stored LSNs.

Keys match **null-safely** (``IS NOT DISTINCT FROM``), as ``lww_fold``
groups them. A row is *visible* when present with ``__op != 'D'``:
visible only on the new side is I, only on the old side is D, on both
with a payload that differs (null-safely) is U; a no-op update or a
delete of an absent key emits nothing. Range winners only: a winner
older than the old row's stored ``__lsn`` never applied (the read fold
keeps the old row) and emits nothing — the diff's new side is already
folded and ``overwrite`` stamps ``-1``, so the guard must not run there.
Output: keys + ``change_op`` + payload, NULL payload on D rows.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, functions as F

def _payload(columns: list[str], keys: list[str]) -> list[str]:
    return [c for c in columns if c not in keys and c not in ("__op", "__lsn")]


def classify_changes(
    old: DataFrame, new: DataFrame, keys: list[str], *, range_winners: bool = False
) -> DataFrame:
    """The I/U/D rows between ``old`` and ``new`` (see the module doc)."""
    payload = _payload(new.columns, keys)

    def side(df: DataFrame, prefix: str) -> DataFrame:
        vis = F.col("__op") != "D" if "__op" in df.columns else F.lit(True)
        return df.select(
            *[F.col(c).alias(prefix + c) for c in df.columns], vis.alias(prefix + "vis")
        )

    on = reduce(
        lambda a, b: a & b,
        [F.col(f"__new_{k}").eqNullSafe(F.col(f"__old_{k}")) for k in keys],
    )
    j = side(new, "__new_").join(
        side(old, "__old_"), on, "left" if range_winners else "full_outer"
    )
    if range_winners:
        j = j.filter(
            F.col("__old___lsn").isNull() | (F.col("__new___lsn") >= F.col("__old___lsn"))
        )
    old_vis = F.coalesce(F.col("__old_vis"), F.lit(False))
    new_vis = F.coalesce(F.col("__new_vis"), F.lit(False))
    differs = reduce(
        lambda a, b: a | b,
        [~F.col(f"__new_{c}").eqNullSafe(F.col(f"__old_{c}")) for c in payload],
        F.lit(False),
    )
    op = (
        F.when(new_vis & ~old_vis, F.lit("I"))
        .when(old_vis & ~new_vis, F.lit("D"))
        .when(old_vis & new_vis & differs, F.lit("U"))
    )
    # D rows are exactly those without a visible new row: payload NULL
    return j.select(
        *[F.coalesce(F.col(f"__new_{k}"), F.col(f"__old_{k}")).alias(k) for k in keys],
        op.alias("change_op"),
        *[F.when(new_vis, F.col(f"__new_{c}")).alias(c) for c in payload],
    ).filter(F.col("change_op").isNotNull())


def _fill_value(t):
    """A fixed value of key type ``t`` that stands in for NULL in an Arrow
    join key; the ``is_null`` flag beside it keeps a real value apart."""
    import pyarrow as pa

    if pa.types.is_binary(t):
        return pa.scalar(b"", t)
    dates, stamps = pa.types.is_date(t), pa.types.is_timestamp(t)
    return pa.scalar(0, pa.int32() if dates else pa.int64() if stamps else pa.int8()).cast(t)


def classify_changes_arrow(old, new, keys: list[str], *, range_winners: bool = False):
    """Arrow twin of ``classify_changes``: the I/U/D rows between two
    ``pyarrow.Table`` sides of one bucket."""
    import pyarrow as pa
    import pyarrow.compute as pc

    payload = _payload(new.column_names, keys)
    join_keys = [f"__j{i}" for i in range(len(keys))] + [f"__isnull{i}" for i in range(len(keys))]

    def side(tbl, prefix: str):
        # Arrow joins never match NULL: join on the filled key plus its
        # is_null flag instead
        cols = [pc.fill_null(tbl[k], _fill_value(tbl[k].type)) for k in keys]
        cols += [pc.is_null(tbl[k]) for k in keys]
        vis = (
            pc.not_equal(tbl["__op"], "D")
            if "__op" in tbl.column_names
            else pa.array([True] * len(tbl), type=pa.bool_())
        )
        cols += [tbl[c] for c in tbl.column_names] + [vis]
        names = join_keys + [prefix + c for c in tbl.column_names] + [prefix + "vis"]
        return pa.table(cols, names=names)

    how = "left outer" if range_winners else "full outer"
    j = side(new, "__new_").join(side(old, "__old_"), keys=join_keys, join_type=how)
    if range_winners:
        j = j.filter(pc.fill_null(pc.greater_equal(j["__new___lsn"], j["__old___lsn"]), True))
    old_vis = pc.fill_null(j["__old_vis"], False)
    new_vis = pc.fill_null(j["__new_vis"], False)
    differs = pa.array([False] * len(j), type=pa.bool_())
    for c in payload:
        a, b = j[f"__new_{c}"], j[f"__old_{c}"]
        same = pc.or_kleene(pc.equal(a, b), pc.and_(pc.is_null(a), pc.is_null(b)))
        differs = pc.or_(differs, pc.invert(pc.fill_null(same, False)))
    op = pc.case_when(
        pc.make_struct(
            pc.and_(new_vis, pc.invert(old_vis)),
            pc.and_(old_vis, pc.invert(new_vis)),
            pc.and_(pc.and_(old_vis, new_vis), differs),
        ),
        pa.scalar("I"),
        pa.scalar("D"),
        pa.scalar("U"),
    )
    # D rows are exactly those without a visible new row: payload NULL
    cols = [pc.coalesce(j[f"__new_{k}"], j[f"__old_{k}"]) for k in keys] + [op]
    for c in payload:
        cols.append(pc.if_else(new_vis, j[f"__new_{c}"], pa.scalar(None, j[f"__new_{c}"].type)))
    out = pa.table(cols, names=list(keys) + ["change_op"] + payload)
    return out.filter(pc.is_valid(op))
