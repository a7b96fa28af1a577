"""Per-file column statistics (zone maps) and the file-skipping planner.

Each committed data file may carry ``stats``: a JSON-safe dict of
``key -> [lower, upper, null_count]`` where ``key`` is the column's
*field id* rendered as a string (evolution-safe: renames keep identity)
or a reserved literal name for the merge-on-read bookkeeping columns
(``__lsn``). Bounds are inclusive. A missing key, a missing file-stats
dict, or ``None`` bounds all mean "unknown" — the planner then keeps
the file, so skipping can never drop a matching row.

This is the Iceberg/Delta data-skipping shape re-expressed for the
bucketed lake: stats are collected by the *write tasks* at zero extra
scan cost (the parquet encoder tracks min/max/null-count per row group
as it writes; the kernel harvests the just-written footer at close —
``table.footer_zone_map`` — and the JVM-writer fallback reads the same
footers driver-side), stored in the immutable manifest files — never in
the snapshot document, which stays O(manifest list) — and consulted at
scan *planning* time, before any file IO. At the 100 TB design point
the win is task-count: a time-range query over a table whose files
correlate with ingestion order (CDC commits naturally do) plans only
the files whose [min,max] window intersects the predicate, instead of
one task per live file. Spark's parquet reader still row-group-skips
inside each file it does open; this layer removes the files (and their
scheduler/task/open costs) entirely.

Reference parity note: the reference engine has no file-level pruning
(Athena's parquet stats act only after S3 listing); this module is a
scale addition, not a port.
"""

from __future__ import annotations

import datetime as _dt

# DDL type names whose values have a total order we can bound. (binary
# and complex types are deliberately absent: no stat -> never skipped.)
ORDERABLE_TYPES = {
    "tinyint",
    "smallint",
    "int",
    "bigint",
    "float",
    "double",
    "string",
    "date",
    "timestamp",
}

# string bounds longer than this are truncated (lower) / widened
# (upper) so a pathological value can never bloat a manifest
MAX_STR_BOUND = 64

_MAX_CODEPOINT = 0x10FFFF


def truncate_lower(s: str) -> str:
    """A valid lower bound for ``s`` of bounded length (a prefix of a
    string never compares greater than the string)."""
    return s if len(s) <= MAX_STR_BOUND else s[:MAX_STR_BOUND]


def truncate_upper(s: str) -> str | None:
    """A valid upper bound for ``s`` of bounded length, or ``None`` when
    no bounded upper bound exists (all prefix chars at the max code
    point). Iceberg's rule: truncate, then increment the last code
    point that can be incremented and drop everything after it."""
    if len(s) <= MAX_STR_BOUND:
        return s
    prefix = s[:MAX_STR_BOUND]
    chars = list(prefix)
    for i in range(len(chars) - 1, -1, -1):
        cp = ord(chars[i])
        if cp < _MAX_CODEPOINT:
            return "".join(chars[:i]) + chr(cp + 1)
    return None


def encode_bound(value, ddl_type: str):
    """Python/pyarrow scalar -> JSON-safe manifest value (or ``None`` =
    unknown). Timestamps/dates serialize as ISO strings; NaN (which is
    unordered and not JSON) degrades to unknown."""
    if value is None:
        return None
    if ddl_type in ("float", "double"):
        value = float(value)
        return None if value != value else value  # NaN -> unknown
    if ddl_type == "timestamp":
        if isinstance(value, _dt.datetime):
            return value.isoformat()
        return None
    if ddl_type == "date":
        if isinstance(value, _dt.date):
            return value.isoformat()
        return None
    if ddl_type == "string":
        if isinstance(value, bytes):  # parquet footers hand strings back as bytes
            try:
                value = value.decode("utf-8")
            except UnicodeDecodeError:
                return None
        return value if isinstance(value, str) else None
    if isinstance(value, bool):
        return None
    if isinstance(value, int):
        return value
    return None


def decode_bound(value, ddl_type: str):
    """Manifest JSON value -> comparable Python value (or ``None``)."""
    if value is None:
        return None
    if ddl_type == "timestamp":
        try:
            return _dt.datetime.fromisoformat(value)
        except (TypeError, ValueError):
            return None
    if ddl_type == "date":
        try:
            return _dt.date.fromisoformat(value)
        except (TypeError, ValueError):
            return None
    return value


def _comparable(a, b) -> bool:
    """Guard mixed naive/aware datetime comparisons (undefined order):
    unknown beats wrong."""
    if isinstance(a, _dt.datetime) and isinstance(b, _dt.datetime):
        return (a.tzinfo is None) == (b.tzinfo is None)
    return True


def file_may_match(
    stats: dict | None,
    rows: int,
    preds: list[tuple[str, str, object]],
    types_by_key: dict[str, str],
) -> bool:
    """Conservative containment check: may any row of a file with these
    stats satisfy ALL of ``preds``?

    ``preds`` rows are ``(stats_key, op, value)`` with op in
    ``eq | lt | le | gt | ge | in | isnull | notnull``; any pred the
    stats can't decide keeps the file.
    """
    if not preds:
        return True
    for key, op, value in preds:
        if stats is None or key not in stats:
            continue  # unknown column stats -> can't skip on this pred
        lo_raw, hi_raw, null_count = stats[key]
        ddl = types_by_key.get(key, "string")
        lo, hi = decode_bound(lo_raw, ddl), decode_bound(hi_raw, ddl)
        if op == "isnull":
            if null_count is not None and null_count == 0:
                return False
            continue
        if op == "notnull":
            if null_count is not None and rows and null_count >= rows:
                return False
            continue
        # ordering preds never match nulls; an all-null file can't satisfy them
        if null_count is not None and rows and null_count >= rows:
            return False
        if op == "in":
            vals = [v for v in value if v is not None]
            if not vals:
                return False
            if lo is not None and hi is not None:
                if not all(_comparable(v, lo) for v in vals):
                    continue
                if not any(lo <= v <= hi for v in vals):
                    return False
            continue
        if value is None:
            return False  # eq/lt/... null matches nothing (SQL semantics)
        if lo is not None and _comparable(value, lo):
            if op == "eq" and value < lo:
                return False
            if op == "lt" and value <= lo:
                return False
            if op == "le" and value < lo:
                return False
        if hi is not None and _comparable(value, hi):
            if op == "eq" and value > hi:
                return False
            if op == "gt" and value >= hi:
                return False
            if op == "ge" and value > hi:
                return False
    return True

