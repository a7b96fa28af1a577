"""Bucketed copy-on-write lake table over parquet + snapshot log.

Storage layout (table root):

    _meta/version-hint.txt, v{N}.json      (snapshot log, see snapshot.py)
    data/s{N}/bucket=<k>/part-*.parquet    (files written by commit N)

Design for 100 TB:

* Rows are hash-bucketed by ``pmod(hash(*key_cols), n_buckets)``
  (Murmur3, the HashPartitioning family — see ``bucket_expr``) —
  the same function on write and on merge, so a change batch touches only
  the buckets its keys hash to and a MERGE rewrites *only those buckets*
  (copy-on-write at bucket grain). This is the scalable generalization of
  the reference's whole-partition S3 overwrite upsert
  (``panorama_datalake.py:215-258`` — same key ⇒ last-writer-wins at
  partition grain); here the unit shrinks from "all rows of a course" to
  1/n_buckets of the keyspace, and n_buckets is sized so one bucket's
  rewrite fits an executor (e.g. 16k buckets at 100 TB ≈ 6 GB/bucket).
* Old files are never mutated; every commit is a new immutable file set +
  one new snapshot document → readers are never blocked, time travel is
  free, and a failed job leaves no visible change (orphan files are
  removed by ``vacuum``).
* Schema evolution: data files carry the schema_version they were written
  under; the read path maps each file group to the current schema by
  field id (rename = pure metadata, add = backfill literal, widen = cast)
  — no rewrite of old data.
"""

from __future__ import annotations

import os
import threading as _threading
from collections import OrderedDict
from contextlib import contextmanager
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession, functions as F

from .fileio import FileIO, LocalFileIO
from .feed import classify_changes
from .fold import lww_fold
from .schema import TableSchema, spark_type
from .snapshot import (
    CommitConflict,
    DataFile,
    ManifestEntry,
    Snapshot,
    SnapshotLog,
    newer_schema,
    plan_changes,
    snapshot_changed_buckets,
)

BUCKET_COL = "__bucket"

# The one row threshold, read at call time by the stats-cache gate
# (``compute_batch_stats``), the prefilter gate (``plan_batch``) and the
# writer gate (``write_bucket_files``): below it a fixed per-batch cost
# (cache materialisation, broadcast, Python-worker spawn) outweighs a
# saving that scales with rows.
SMALL_BATCH_ROWS = 100_000
# data files the read-plan memo (``_PlanMemo``) may reference in total:
# every memoized plan holds its relations' file listings on the driver
PLAN_MEMO_FILES = 20_000
# Arrow batch rows for the task writer (why: ``write_bucket_files``)
ARROW_WRITE_BATCH = 131_072
# buckets per manifest file: bounds a bucket rewrite's collateral
MANIFEST_SPAN = 8
# optimistic-rebase attempts on a CAS conflict (``retry_on_conflict``)
COMMIT_RETRIES = 5
# key-value combinations a lookup may hash for bucket/bloom pruning
MAX_PRUNE_COMBOS = 1024
# in-document lineage rows / committed batch ids before they spill
LINEAGE_RETAIN = 4096
BATCHID_RECENT = 4096

# per-session locks guarding session-conf set/run/restore windows (the
# arrow write-batch pinning): keyed by session id, created lazily. The
# registry itself is tiny (one entry per live SparkSession).
_CONF_LOCKS: dict[int, object] = {}
_CONF_LOCKS_GUARD = _threading.Lock()


def _session_conf_lock(spark):
    # reentrant: the merge pins the shuffle layout around a write whose
    # own arrow-batch pinning re-enters the same lock on the same thread
    with _CONF_LOCKS_GUARD:
        return _CONF_LOCKS.setdefault(id(spark), _threading.RLock())


class _PlanMemo:
    """Analyzed read plans of immutable file sets, one LRU per process.

    Building a read's DataFrame is fixed JVM work per ``Dataset`` (tens
    of ms per parquet relation), paid again on every read of a snapshot
    that has not changed. A key names only immutable facts: the session
    itself, the root, the projection's schema version, the planned
    paths, and the session confs that casts bake in at analysis. Data
    files are never rewritten in place and their paths carry a
    per-attempt uuid, so a commit, compaction or rebucket changes the
    key by itself; snapshot versions never enter it (``drop()`` then
    ``create()`` restarts them). A key with no file at all is not
    memoized, since only paths tell two tables at one root apart.

    A hit returns a fresh ``Dataset`` over the stored analyzed plan, so
    every read still optimizes, plans and executes anew: results and
    physical plans are never shared. Bounded by ``PLAN_MEMO_FILES``
    total referenced files, not by entry count."""

    def __init__(self) -> None:
        self._lock = _threading.Lock()
        self._entries: OrderedDict[tuple, tuple[object, int]] = OrderedDict()
        self.files = 0

    def frame(self, spark, key: tuple, n_files: int, build) -> DataFrame:
        with self._lock:
            hit = self._entries.get(key)
            if hit is not None:
                self._entries.move_to_end(key)
        if hit is not None:
            jds = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
                spark._jsparkSession, hit[0]
            )
            return DataFrame(jds, spark)
        df = build()
        if 0 < n_files <= PLAN_MEMO_FILES:
            plan = df._jdf.queryExecution().analyzed()
            evicted = []
            with self._lock:
                if key not in self._entries:
                    self._entries[key] = (plan, n_files)
                    self.files += n_files
                while self.files > PLAN_MEMO_FILES:
                    evicted.append(self._entries.popitem(last=False))
                    self.files -= evicted[-1][1][1]
            del evicted  # releases the JVM plans outside the lock
        return df


_PLAN_MEMO = _PlanMemo()


def _side_paths(files: list[DataFile]) -> tuple:
    """One planned side as a ``_PLAN_MEMO`` fact: its sorted paths (a
    path's kind never changes — each file is registered once)."""
    return tuple(sorted(f.path for f in files))


@contextmanager
def _pinned_shuffle(spark, n_partitions: int):
    """Pin the aggregate exchange to the bucket count (and stop AQE from
    coalescing it) so shuffle partition id == bucket id for the write.

    Guarded by the per-session conf lock (``_session_conf_lock``,
    reentrant — the write's own arrow-batch pinning nests inside): two
    threads on one session interleaving their set/restore windows would
    otherwise leave the pinned values stuck session-wide. Cross-session
    work (the async-compaction thread runs on a cloned session) never
    contends."""
    with _session_conf_lock(spark):
        old_parts = spark.conf.get("spark.sql.shuffle.partitions")
        old_coalesce = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
        spark.conf.set("spark.sql.shuffle.partitions", str(n_partitions))
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        try:
            yield
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old_parts)
            spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", old_coalesce)


def bucket_expr(key_cols: list[str], n_buckets: int):
    """Deterministic key→bucket hash.

    Uses Murmur3 (``F.hash``, seed 42) — the *same* hash family Spark's
    HashPartitioning uses — so ``df.repartition(n_buckets, *key_cols)``
    places every row of bucket b into shuffle partition b. The merge
    exploits that: one exchange serves both the per-key aggregation and
    the per-bucket file layout (zero extra shuffle before the write).
    """
    return F.pmod(F.hash(*[F.col(c) for c in key_cols]), F.lit(n_buckets)).cast("int")


def _appended_rows(df: DataFrame, snap: "Snapshot") -> DataFrame:
    """``df`` as plain-append rows: the schema columns plus the system
    columns every data file carries, at ``'E'``/-1 — older than any
    change event, so a later merge or delta always outranks them."""
    return df.select(
        *snap.schema.names,
        F.lit("E").alias("__op"),
        F.lit(-1).cast("long").alias("__lsn"),
    )


def _stat_columns(snap: "Snapshot", df_columns: list[str]) -> list[tuple[str, str, str]]:
    """(column, ddl_type, stats_key) rows for the zone-map collectors:
    every orderable schema column present in the write, keyed by field
    id (rename-safe), plus the ``__lsn`` system column every file
    carries, keyed by its literal name.

    Per-column opt-out (the Iceberg ``write.metadata.metrics.column.*``
    knob): the ``stats_skip_cols`` table property (comma list) drops
    named columns from collection — their files then carry no bound for
    that key and are simply never skipped on it (conservative). Meant
    for wide payload strings (document bodies) whose min/max scan costs
    write throughput but whose bounds no realistic predicate uses."""
    from .filestats import ORDERABLE_TYPES

    skip = {
        c.strip()
        for c in snap.properties.get("stats_skip_cols", "").split(",")
        if c.strip()
    }
    return [
        (f.name, f.type, str(f.id))
        for f in snap.schema.fields
        if f.name in df_columns and f.type in ORDERABLE_TYPES and f.name not in skip
    ] + [("__lsn", "bigint", "__lsn")]


def _prune_files_for_state(
    snap: "Snapshot", files: list["DataFile"], predicates: list[tuple[str, str, object]]
) -> list["DataFile"]:
    """Zone-map file skipping for a state read: ``filestats.file_may_match``
    containment plus the merge-on-read safety rule. Key-column
    predicates prune ANY file — a key's value is identical in every row
    and file that holds the key, so a file whose key window excludes the
    predicate holds no contributing row. Payload predicates prune BASE
    files only, and only base files that cannot outrank a delta: a base
    row folds in at its stored ``__lsn`` (-1 for plain appends), so in
    a bucket that holds deltas a base file whose ``__lsn`` window
    reaches ≥ 0 may carry the true winner of a key a *late* delta also
    names — pruning it would resurrect the stale delta row. Appended
    (-1) base files always lose ties to deltas, and base files in
    delta-free buckets face no competition, so both keep the plain
    payload-pruning rule. Pruning a delta file is never
    allowed on payload predicates (it could resurrect a superseded or
    deleted base row whose stale payload happens to match). Callers
    re-apply the full predicate on the DataFrame; pruning is
    planning-only and conservative."""
    if not predicates:
        return files
    from .filestats import decode_bound, file_may_match

    types_by_key = {str(f.id): f.type for f in snap.schema.fields}
    by_name = {f.name: f for f in snap.schema.fields}
    key_preds: list[tuple[str, str, object]] = []
    payload_preds: list[tuple[str, str, object]] = []
    for col, op, value in predicates:
        fld = by_name.get(col)
        if fld is None:
            continue  # unknown column: no pruning on this pred
        row = (str(fld.id), op, value)
        (key_preds if fld.name in snap.key_cols else payload_preds).append(row)
    delta_buckets = {getattr(f, "bucket", None) for f in files if f.kind == "delta"}
    # min delta __lsn per bucket (None = some delta's window is unknown)
    delta_lo: dict[int, int | None] = {}
    for f in files:
        if f.kind != "delta":
            continue
        lo = (
            decode_bound(f.stats["__lsn"][0], "bigint")
            if f.stats and "__lsn" in f.stats
            else None
        )
        b = getattr(f, "bucket", None)
        if b in delta_lo:
            cur = delta_lo[b]
            delta_lo[b] = None if lo is None or cur is None else min(cur, lo)
        else:
            delta_lo[b] = lo

    def may_outrank_deltas(f) -> bool:
        if getattr(f, "bucket", None) not in delta_buckets:
            return False
        if not f.stats or "__lsn" not in f.stats:
            # every writer records an __lsn window, so only a file
            # written without stats lacks one — and file_may_match
            # keeps stats-less files whatever the predicates
            return False
        hi = decode_bound(f.stats["__lsn"][1], "bigint")
        if hi is None:
            return True  # undecodable window: conservative
        if hi < 0:
            return False  # only appended rows (-1): they lose every tie
        lo = delta_lo.get(getattr(f, "bucket", None))
        return lo is None or hi >= lo

    out = []
    for f in files:
        preds = key_preds + (
            payload_preds
            if f.kind == "base" and not may_outrank_deltas(f)
            else []
        )
        if file_may_match(f.stats, f.rows, preds, types_by_key):
            out.append(f)
    return out


def normalize_pred_tz(predicates, session_tz: str | None):
    """Attach the session time zone to naive datetime predicate values.
    The writers store timestamp bounds tz-aware (Spark timestamps are
    instants; Arrow hands them back UTC-anchored), and filestats treats
    an aware↔naive comparison as undecidable (keeps the file) — so a
    naive caller value would disable timestamp skipping entirely. A
    naive literal means session-tz wall time in Spark, which is exactly
    this coercion. Unparseable zones degrade to no-op (conservative)."""
    import datetime as _dt

    try:
        from zoneinfo import ZoneInfo

        tz = ZoneInfo(session_tz) if session_tz else None
    except Exception:
        tz = None
    if tz is None:
        return predicates

    def fix(v):
        if isinstance(v, _dt.datetime) and v.tzinfo is None:
            return v.replace(tzinfo=tz)
        return v

    out = []
    for col, op, value in predicates:
        if op == "in":
            value = [fix(v) for v in value]
        else:
            value = fix(value)
        out.append((col, op, value))
    return out


def normalize_key_value_sets(
    value_sets: dict[str, set], types_by_col: dict[str, str], session_tz: str | None
) -> dict[str, set] | None:
    """Session-tz coercion for the *key-hash* pruning path (bucket /
    bloom): naive datetime values mean session-tz wall time in Spark,
    but ``murmur3_hash`` hashes naive datetimes as UTC — on a non-UTC
    session a naive point-lookup value would plan the wrong bucket and
    silently return no rows. Returns the value sets with naive
    timestamp values made aware, or ``None`` when that is impossible
    (unknown/unparseable session tz) — callers must then DISABLE
    bucket/bloom pruning for this predicate set (conservative: scan
    more, never miss rows)."""
    import datetime as _dt

    def naive(v) -> bool:
        return isinstance(v, _dt.datetime) and v.tzinfo is None

    needs = [
        c
        for c, vs in value_sets.items()
        if types_by_col.get(c) == "timestamp" and any(naive(v) for v in vs)
    ]
    if not needs:
        return value_sets
    try:
        from zoneinfo import ZoneInfo

        tz = ZoneInfo(session_tz) if session_tz else None
    except Exception:
        tz = None
    if tz is None:
        return None
    out = dict(value_sets)
    for c in needs:
        out[c] = {v.replace(tzinfo=tz) if naive(v) else v for v in value_sets[c]}
    return out


def key_hash_pruning(
    snap: "Snapshot", predicates, session_tz: str | None
) -> tuple[set[int], list[int]] | None:
    """Key-hash pruning inputs of a predicate set: ``(buckets,
    fingerprints)`` when ``eq``/``in`` predicates pin every key column to
    a finite value set, else ``None`` (scan every bucket, probe no
    bloom); a step of ``plan_state_files``. Values are hashed with the
    writers' Murmur3 (``functions/murmur.py``), every combination in one
    kernel call; the buckets prune the scan and the fingerprints probe
    the per-file bloom sidecars. Pruning is refused (``None``) for key types the kernel
    cannot hash, naive timestamps without a usable session tz
    (``normalize_key_value_sets``), more than ``MAX_PRUNE_COMBOS``
    combinations, and values that do not convert to the key type."""
    from itertools import product

    from ..functions.murmur import SUPPORTED_TYPES, hash_rows

    keys = list(snap.key_cols)
    types_by_col = {f.name: f.type for f in snap.schema.fields}
    if not all(types_by_col.get(c) in SUPPORTED_TYPES for c in keys):
        return None
    value_sets: dict[str, set] = {}
    for col, op, value in predicates:
        if col not in keys or op not in ("eq", "in"):
            continue
        vals = {value} if op == "eq" else set(value)
        value_sets[col] = vals if col not in value_sets else value_sets[col] & vals
    if set(value_sets) != set(keys):
        return None
    value_sets = normalize_key_value_sets(value_sets, types_by_col, session_tz)
    if value_sets is None:
        return None
    combos = 1
    for vs in value_sets.values():
        combos *= len(vs)
    if combos > MAX_PRUNE_COMBOS:
        return None
    try:
        fps = hash_rows(
            list(product(*[list(value_sets[c]) for c in keys])),
            [types_by_col[c] for c in keys],
        )
    except (ValueError, TypeError):
        return None  # a value the key type cannot hold: scan, never guess
    return {int(b) for b in fps.astype("int64") % snap.n_buckets}, [int(h) for h in fps]


class StatePlan(NamedTuple):
    """``plan_state_files``'s answer: the files a state read scans, and
    the bucket set key-hash pruning pinned (``None``: every bucket)."""

    files: list[DataFile]
    key_buckets: set[int] | None


def plan_state_files(
    snap: Snapshot,
    predicates: list[tuple[str, str, object]],
    *,
    session_tz: str | None,
    io: FileIO,
    root: str,
    buckets: set[int] | None = None,
    with_deltas: bool = True,
) -> StatePlan:
    """The one state-read plan both engines execute (``LakeTable.read`` /
    ``read_where`` in the JVM, the ``panorama`` data source in Arrow):
    the files of ``snap`` a read of ``(column, op, value)`` predicates
    must scan, pruned on metadata only. In order: the ``buckets`` the
    caller names; naive datetimes take the session time zone
    (``normalize_pred_tz``); key-hash pruning (``key_hash_pruning``)
    narrows the buckets; zone maps drop files whose windows exclude the
    predicates (``_prune_files_for_state``, with its merge-on-read
    rule); the key fingerprints probe the per-file bloom sidecars
    through ``io`` (no false negatives); ``with_deltas=False`` drops the
    delta files last, leaving the raw base state. Every level is
    conservative, so a caller that re-applies the predicates gets
    exactly the rows of an unpruned read."""
    predicates = normalize_pred_tz(predicates, session_tz)
    pruning = key_hash_pruning(snap, predicates, session_tz) if predicates else None
    key_buckets, fingerprints = pruning or (None, None)
    if key_buckets is not None:
        buckets = key_buckets if buckets is None else buckets & key_buckets
    files = snap.files if buckets is None else snap.files_in_buckets(buckets)
    files = _prune_files_for_state(snap, files, predicates)
    if fingerprints:
        from .bloom import sidecar_file_filter

        keep = sidecar_file_filter(io, root, fingerprints)
        files = [f for f in files if keep(f)]
    if not with_deltas:
        files = [f for f in files if f.kind != "delta"]
    return StatePlan(files, key_buckets)


def _pred_column_expr(col: str, op: str, value):
    """One ``(col, op, value)`` predicate as a Spark Column (the residual
    filter ``read_where`` re-applies after conservative file pruning)."""
    c = F.col(col)
    if op == "eq":
        return c == F.lit(value)
    if op == "lt":
        return c < F.lit(value)
    if op == "le":
        return c <= F.lit(value)
    if op == "gt":
        return c > F.lit(value)
    if op == "ge":
        return c >= F.lit(value)
    if op == "in":
        return c.isin(list(value))
    if op == "isnull":
        return c.isNull()
    if op == "notnull":
        return c.isNotNull()
    raise ValueError(f"unknown predicate op: {op!r}")


def _parquet_footer_stats(
    paths: list[str], stat_cols: list[tuple[str, str, str]]
) -> dict[str, tuple[int, dict | None]]:
    """Footer-only row counts + zone maps (metadata read, no data scan)
    — the fallback manifest-stats path for roots executors cannot write
    as POSIX paths and for small writes routed to the JVM writer (the
    bulk path collects stats in the write tasks, ``_task_write_fn``).
    Parquet footers carry per-row-group min/max/null-count; aggregating
    them per file gives bounds identical in meaning to the task-side
    ones."""
    from concurrent.futures import ThreadPoolExecutor

    import pyarrow.parquet as pq

    def one(p: str) -> tuple[str, tuple[int, dict | None]]:
        md = pq.ParquetFile(p).metadata
        return p, (md.num_rows, footer_zone_map(md, stat_cols))

    with ThreadPoolExecutor(max_workers=16) as ex:
        return dict(ex.map(one, paths))


def footer_zone_map(md, stat_cols: list[tuple[str, str, str]]) -> dict | None:
    """Aggregate one parquet file's per-row-group column statistics
    (``pq.ParquetFile(p).metadata``) into a manifest zone map
    ``{stats_key: [lo, hi, null_count]}``.

    This is the zero-extra-scan stats source: the parquet encoder
    already tracks min/max/null-count per row group as it writes, so
    harvesting the footer costs one metadata read (~0.2 ms, page-cache
    hot in the write task) instead of a second pass over the data.
    pyarrow OMITS statistics for oversized values (> 4096 bytes), so a
    footer bound is either exact or absent — an absent row-group bound
    poisons that key's file bound to unknown, and the planner then never
    skips on it (conservative by construction)."""
    from .filestats import decode_bound, encode_bound, truncate_lower, truncate_upper

    by_name = {cname: (ddl, key) for cname, ddl, key in stat_cols}
    # key -> list of per-row-group (lo, hi, nulls); None bound/nulls
    # = that group is unknown, which poisons the file's bound
    groups: dict[str, list] = {}
    for rg in range(md.num_row_groups):
        row_group = md.row_group(rg)
        for ci in range(row_group.num_columns):
            col = row_group.column(ci)
            name = col.path_in_schema
            if name not in by_name:
                continue
            ddl, key = by_name[name]
            st = col.statistics
            if st is None or not st.has_min_max:
                groups.setdefault(key, []).append((None, None, None))
                continue
            lo, hi = encode_bound(st.min, ddl), encode_bound(st.max, ddl)
            if ddl == "string":
                lo = None if lo is None else truncate_lower(lo)
                hi = None if hi is None else truncate_upper(hi)
            groups.setdefault(key, []).append((lo, hi, st.null_count))
    stats: dict[str, list] = {}
    for key, per_group in groups.items():
        ddl = next(d for _c, d, k in stat_cols if k == key)
        los = [g[0] for g in per_group]
        his = [g[1] for g in per_group]
        nulls = [g[2] for g in per_group]
        lo = None
        if all(v is not None for v in los):
            decoded = [(decode_bound(v, ddl), v) for v in los]
            lo = min(decoded, key=lambda t: t[0])[1] if all(d is not None for d, _ in decoded) else None
        hi = None
        if all(v is not None for v in his):
            decoded = [(decode_bound(v, ddl), v) for v in his]
            hi = max(decoded, key=lambda t: t[0])[1] if all(d is not None for d, _ in decoded) else None
        nc = sum(nulls) if all(v is not None for v in nulls) else None
        if (lo, hi, nc) != (None, None, None):
            stats[key] = [lo, hi, nc]
    return stats or None


def root_is_shared_posix(root: str) -> bool:
    """True when every executor sees ``root`` as a plain POSIX path
    (shared mount or single machine) — the gate for the task-side
    pyarrow write/read kernels. Object-store roots (s3a://...) are
    JVM-readable but not pyarrow-path-readable, so they take the JVM
    write + footer-stats fallback (explicit opt-in still works if the
    deployment mounts the store, e.g. via FUSE)."""
    if "://" in root and not root.startswith("file://"):
        return False
    return os.path.isdir(root.removeprefix("file://"))


def _task_write_fn(
    abs_dir: str,
    rel_dir: str,
    out_names: list[str],
    arrow_schema,
    flush_rows: int = 1 << 16,
    stat_cols: list[tuple[str, str, str]] | None = None,
    max_rows_per_file: int | None = None,
    bloom_col: str | None = None,
):
    """mapInArrow kernel: write this partition's rows as parquet files
    (one per bucket present), streaming row groups so a 100 TB-scale
    bucket never has to fit in task memory, and emit one manifest row
    (path, bucket, rows, stats) per file — per-file stats come from the
    write task itself, not a driver-side walk of a shared directory
    (which was both O(table-IO) on the commit path and racy under
    concurrent same-version attempts).

    ``stat_cols`` rows are (column, ddl_type, stats_key): at file close
    the kernel harvests the zone map from the just-written parquet
    footer (``footer_zone_map`` — the encoder already tracked
    min/max/null-count per row group, so stats cost one ~0.2 ms
    metadata read instead of a second scan of the data). With
    ``max_rows_per_file`` the writer rolls to a fresh file at row-group
    boundaries once a file crosses the cap — on sorted input (e.g.
    ``compact(sort_by=...)``) rolled files carry disjoint bound windows,
    which is exactly what makes the planner's file skipping bite."""
    stat_cols = stat_cols or []

    def fn(batches):
        import json as _json
        import os as _os
        import uuid as _uuid

        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        from panorama_elt_spark.lakehouse.table import footer_zone_map

        # bucket -> mutable file state
        writers: dict[int, dict] = {}
        part = _uuid.uuid4().hex[:16]
        out_rows = []

        def open_file(b: int, seq: int) -> dict:
            bucket_dir = _os.path.join(abs_dir, f"bucket={b}")
            _os.makedirs(bucket_dir, exist_ok=True)
            name = f"part-{part}.parquet" if seq == 0 else f"part-{part}-{seq}.parquet"
            return {
                "writer": pq.ParquetWriter(
                    _os.path.join(bucket_dir, name), arrow_schema, compression="snappy"
                ),
                "abs_path": _os.path.join(bucket_dir, name),
                "rel_path": f"{rel_dir}/bucket={b}/{name}",
                "buf": [],
                "buf_rows": 0,
                "total": 0,
                "seq": seq,
                "kh": [],
            }

        def finalize(st: dict, b: int) -> None:
            st["writer"].close()
            if st["total"] == 0:  # a rolled file no further rows reached
                _os.remove(st["abs_path"])
                return
            stats = (
                footer_zone_map(pq.ParquetFile(st["abs_path"]).metadata, stat_cols)
                if stat_cols
                else None
            )
            if st["kh"]:
                # per-file key bloom sidecar (lakehouse/bloom.py): built
                # vectorized from the F.hash column Spark computed
                # JVM-side; nothing lands in the manifest — the probe
                # discovers sidecars by path and treats absence as
                # "no bloom, keep the file"
                import numpy as _np

                from panorama_elt_spark.lakehouse import bloom as _bloom

                m, bits = _bloom.build(_np.concatenate(st["kh"]))
                with open(st["abs_path"] + ".bloom", "w") as fh:
                    fh.write(_bloom.serialize(m, bits))
            out_rows.append(
                {
                    "path": st["rel_path"],
                    "bucket": b,
                    "rows": st["total"],
                    "stats": _json.dumps(stats) if stats else None,
                }
            )

        def flush(b, roll: bool) -> int:
            st = writers[b]
            n = st["buf_rows"]
            if st["buf"]:
                st["writer"].write_table(
                    pa.Table.from_batches(st["buf"], schema=arrow_schema)
                )
                st["total"] += n
                st["buf"], st["buf_rows"] = [], 0
            if roll and max_rows_per_file and st["total"] >= max_rows_per_file:
                finalize(st, b)
                writers[b] = open_file(b, st["seq"] + 1)
            return n

        buffered = 0  # rows held across every open bucket
        for rb in batches:
            if rb.num_rows == 0:
                continue
            tbl = pa.Table.from_batches([rb])
            # one bucket per partition in the pre-partitioned hot path;
            # otherwise one stable sort groups the rows into bucket runs,
            # each taken as its own table (in input order) so a flushed
            # buffer frees its memory
            bs = tbl.column(BUCKET_COL).to_numpy()
            order = None
            if (bs != bs[0]).any():
                order = pc.sort_indices(tbl, [(BUCKET_COL, "ascending")])
                bs = bs[order.to_numpy()]
            cuts = (bs[1:] != bs[:-1]).nonzero()[0] + 1
            for lo, hi in zip([0, *cuts], [*cuts, len(bs)]):
                b = int(bs[lo])
                sub_full = tbl if order is None else tbl.take(order.slice(lo, hi - lo))
                kh = sub_full.column(bloom_col) if bloom_col else None
                sub = sub_full.select(out_names).cast(arrow_schema)
                if b not in writers:
                    writers[b] = open_file(b, 0)
                # slice the batch to the open file's remaining capacity
                # (zero-copy) so rolled files honor max_rows_per_file
                # exactly — on sorted input that is what makes their
                # zone-map windows disjoint
                while sub.num_rows:
                    st = writers[b]
                    take = sub.num_rows
                    if max_rows_per_file:
                        room = max_rows_per_file - (st["total"] + st["buf_rows"])
                        take = min(take, max(room, 1))
                    piece = sub.slice(0, take)
                    sub = sub.slice(take)
                    if kh is not None:
                        st["kh"].append(
                            kh.slice(0, take)
                            .combine_chunks()
                            .to_numpy(zero_copy_only=False)
                        )
                        kh = kh.slice(take)
                    st["buf"].extend(piece.to_batches())
                    st["buf_rows"] += piece.num_rows
                    buffered += piece.num_rows
                    if st["buf_rows"] >= flush_rows or (
                        max_rows_per_file
                        and st["total"] + st["buf_rows"] >= max_rows_per_file
                    ):
                        buffered -= flush(b, roll=True)
            # a task holds at most flush_rows (plus one input batch)
            # however many buckets it sees: write out the largest buffers
            if buffered >= flush_rows:
                by_size = sorted(writers, key=lambda x: writers[x]["buf_rows"], reverse=True)
                for big in by_size:
                    if buffered < flush_rows:
                        break
                    buffered -= flush(big, roll=True)
        for b in list(writers):
            flush(b, roll=False)
            finalize(writers[b], b)
        if out_rows:
            manifest_schema = pa.schema(
                [
                    ("path", pa.string()),
                    ("bucket", pa.int32()),
                    ("rows", pa.int64()),
                    ("stats", pa.string()),
                ]
            )
            yield pa.RecordBatch.from_pylist(out_rows, schema=manifest_schema)

    return fn


def list_tables(base_dir: str, io: FileIO | None = None) -> list[str]:
    """S3: table-list discovery (ref ``mysql_datasource.py:126-135``
    ``SHOW TABLES``): every directory under ``base_dir`` holding a
    snapshot log is a lake table. Returns sorted table roots."""
    io = io or LocalFileIO()
    out = []
    for name in io.list_dir(base_dir):
        root = os.path.join(base_dir, name)
        if SnapshotLog(root, io).exists():
            out.append(root)
    return out


class LakeTable:
    def __init__(self, spark: SparkSession, root: str, io: FileIO | None = None):
        self.spark = spark
        self.root = root
        self.io = io or LocalFileIO()
        self.log = SnapshotLog(root, self.io)
        # spill files are immutable → cache survives snapshot re-reads
        self._batchid_spill_cache: dict[str, frozenset] = {}

    def is_batch_committed(self, batch_id: str, snap: Snapshot | None = None) -> bool:
        """The exactly-once membership check. The recent in-document id
        window answers the overwhelmingly common cases (a brand-new id:
        miss everywhere; a recent retry: hit in-doc); only a miss falls
        through to the spilled id files — immutable, so cached per
        table handle, one read per file per process lifetime."""
        import json

        snap = snap or self.snapshot
        if batch_id in snap.committed_batches:
            return True
        for rel in snap.batchid_files:
            ids = self._batchid_spill_cache.get(rel)
            if ids is None:
                ids = frozenset(
                    json.loads(self.io.read_text(os.path.join(self.root, rel)))
                )
                self._batchid_spill_cache[rel] = ids
            if batch_id in ids:
                return True
        return False

    # ------------------------------------------------------------------ DDL

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        schema: TableSchema,
        key_cols: list[str],
        n_buckets: int = 32,
        io: FileIO | None = None,
    ) -> "LakeTable":
        table = cls(spark, root, io)
        if table.log.exists():
            raise ValueError(f"table already exists at {root}")
        missing = [k for k in key_cols if schema.field_by_name(k) is None]
        if missing:
            raise ValueError(f"key columns not in schema: {missing}")
        snap = Snapshot(
            version=0, schema=schema, n_buckets=n_buckets, key_cols=list(key_cols)
        )
        table.log.commit(snap, expected_parent=None)
        return table

    # ------------------------------------------------------- manifests

    def _write_manifests(self, files: list[DataFile]) -> list[ManifestEntry]:
        """Write ``files`` as immutable manifest files, each covering at
        most ``MANIFEST_SPAN`` buckets. The span bounds the collateral
        of a later rewrite: replacing one bucket re-chunks only its
        group-mates, never the table."""
        import json
        import uuid

        by_bucket: dict[int, list[DataFile]] = {}
        for f in files:
            by_bucket.setdefault(f.bucket, []).append(f)
        buckets = sorted(by_bucket)
        entries: list[ManifestEntry] = []
        for i in range(0, len(buckets), MANIFEST_SPAN):
            group = buckets[i : i + MANIFEST_SPAN]
            group_files = [f for b in group for f in by_bucket[b]]
            rel = os.path.join(
                self.log.manifest_dir, f"m-{uuid.uuid4().hex[:16]}.json"
            )
            self.io.write_text(
                os.path.join(self.root, rel),
                json.dumps({"entries": [f.to_dict() for f in group_files]}),
            )
            entries.append(
                ManifestEntry(
                    path=rel,
                    buckets=group,
                    kinds=sorted({f.kind for f in group_files}),
                    n_files=len(group_files),
                    n_rows=sum(f.rows for f in group_files),
                )
            )
        return entries

    def _carry_manifests(
        self, parent: Snapshot, replaced_buckets: set[int]
    ) -> list[ManifestEntry]:
        """Parent manifests minus ``replaced_buckets``: untouched
        manifests carry over as references and wholly replaced ones
        drop out (zero IO either way); manifests whose bucket group
        only partly intersects the replacement are loaded, filtered and
        re-chunked."""
        out: list[ManifestEntry] = []
        for m in parent.manifests:
            hit = set(m.buckets) & replaced_buckets
            if not hit:
                out.append(m)
                continue
            if len(hit) == len(set(m.buckets)):
                continue
            survivors = [
                f for f in parent.load_manifest(m) if f.bucket not in replaced_buckets
            ]
            if survivors:
                out.extend(self._write_manifests(survivors))
        return out

    @classmethod
    def load(cls, spark: SparkSession, root: str, io: FileIO | None = None) -> "LakeTable":
        """Open an existing table; raises ``FileNotFoundError`` if there
        is none and ``UnsupportedFormatVersion`` if its current snapshot
        predates format 3."""
        table = cls(spark, root, io)
        table.log.resolve()
        return table

    @property
    def snapshot(self) -> Snapshot:
        return self.log.resolve()

    # ----------------------------------------------------------------- read

    def read(
        self,
        buckets: set[int] | None = None,
        version: int | None = None,
        with_deltas: bool = True,
        ref: str | None = None,
        with_lsn: bool = False,
    ) -> DataFrame:
        """Current (or time-travel) state; ``buckets`` prunes the scan to
        the named buckets only — the merge path's file pruning.
        ``read_where`` adds predicate pruning and the residual filter.

        Merge-on-read: if the snapshot holds delta files (written by the
        ``append_delta`` strategy), they are folded in here — base rows
        at their stored ``__op``/``__lsn`` union the delta rows, one
        ``lww_fold`` resolves the winner per key, tombstones drop. A
        compacted table (no deltas) reads with zero shuffle.
        ``ref`` names a tag (``refs()``) instead of a numeric version."""
        return self._read_snapshot(
            self.log.resolve(version, ref), buckets, with_deltas, with_lsn
        )

    def _read_snapshot(
        self,
        snap: Snapshot,
        buckets: set[int] | None = None,
        with_deltas: bool = True,
        with_lsn: bool = False,
    ) -> DataFrame:
        """``read`` of an already resolved snapshot."""
        plan = plan_state_files(
            snap, [], session_tz=None, io=self.io, root=self.root,
            buckets=buckets, with_deltas=with_deltas,
        )
        return self._read_state(snap, plan.files, with_lsn=with_lsn)

    def read_where(
        self,
        predicates: list[tuple[str, str, object]],
        version: int | None = None,
        with_deltas: bool = True,
        ref: str | None = None,
    ) -> DataFrame:
        """Predicate read = metadata pruning + residual filter. The
        metadata levels (``plan_state_files``: key buckets, zone maps,
        key blooms) act before any file IO — a point lookup plans one
        bucket's files that can hold the key. The full predicate is
        re-applied on the DataFrame, so pruning can never change results
        — only skip IO.

        At the 100 TB design point this is the difference between "one
        task per live file" and "one task per file that can match": CDC
        commits correlate file windows with ingestion time, so
        time-range queries plan a sliver of the table.
        """
        snap = self.log.resolve(version, ref)
        session_tz = self.spark.conf.get("spark.sql.session.timeZone")
        plan = plan_state_files(
            snap, predicates, session_tz=session_tz, io=self.io, root=self.root,
            with_deltas=with_deltas,
        )
        df = self._read_state(snap, plan.files)
        cond = None  # the residual filter, with the planner's tz rule
        for col, op, value in normalize_pred_tz(predicates, session_tz):
            e = _pred_column_expr(col, op, value)
            cond = e if cond is None else cond & e
        return df if cond is None else df.filter(cond)

    def _plan_key(self, proj: Snapshot, *facts) -> tuple:
        """A ``_PLAN_MEMO`` key: ``facts`` (the read kind, its planned
        paths and output flags) plus what every read plan depends on —
        the casts of ``_read_mapped`` bake in the session time zone and
        ANSI mode at analysis."""
        conf = self.spark.conf
        return (
            self.spark, self.root, proj.schema.schema_version, *facts,
            conf.get("spark.sql.session.timeZone"), conf.get("spark.sql.ansi.enabled"),
        )

    def _read_state(
        self, proj: Snapshot, files: list[DataFile], with_lsn: bool = False
    ) -> DataFrame:
        """``_state_frame``, built once per session for an immutable file
        set (``_PLAN_MEMO``)."""
        return _PLAN_MEMO.frame(
            self.spark,
            self._plan_key(proj, "state", _side_paths(files), with_lsn),
            len(files),
            lambda: self._state_frame(proj, files, with_lsn),
        )

    def _state_frame(
        self, proj: Snapshot, files: list[DataFile], with_lsn: bool = False
    ) -> DataFrame:
        """The row state of a planned file set (``plan_state_files``, or
        one side of ``plan_changes``) projected onto ``proj``'s schema.
        The field-id mapper reads any file under any historical schema,
        so ``proj`` may be *newer* than the snapshot the files come from
        — the cross-schema-epoch read ``changes()`` uses.
        ``proj.schema_history`` must cover every file's schema_version;
        any later snapshot does (history accumulates monotonically).

        Every file carries its rows' ``__op``/``__lsn`` (format 3: the
        winner's op and LSN for merge output, the event's for deltas,
        ``'E'``/-1 for plain appends), so a delta or batch event only
        outranks a base row when its LSN is genuinely newer, and a
        delete winner survives as a hidden *tombstone* row that blocks
        late resurrections — the out-of-order arbitration the streaming
        tail's contract promises. User-facing reads drop tombstones;
        ``with_lsn=True`` (internal: the merge's resident read and the
        maintenance rewrites) keeps them and appends ``__op``/``__lsn``
        to the output so rewrites preserve both."""
        state = self._read_mapped(proj, files)
        if any(f.kind == "delta" for f in files):
            keys = proj.key_cols
            payload = [c for c in proj.schema.names if c not in keys]
            state = lww_fold(state, keys, payload)
        if with_lsn:
            return state
        return state.filter(F.col("__op") != "D").drop("__op", "__lsn")

    def _read_mapped(self, snap, files) -> DataFrame:
        """Read a file set, mapping every schema version onto the current
        schema by field id and carrying the ``__op``/``__lsn`` system
        columns through."""
        from pyspark.sql import types as T

        extra = [
            T.StructField("__op", T.StringType()),
            T.StructField("__lsn", T.LongType()),
        ]
        if not files:
            # built in the JVM: an empty ``createDataFrame`` is a Python
            # RDD scan, which starts a Python daemon and workers
            return self.spark.range(0).select(
                *[
                    F.lit(None).cast(f.dataType).alias(f.name)
                    for f in list(snap.schema.to_struct().fields) + extra
                ]
            )
        by_version: dict[int, list[str]] = {}
        for f in files:
            by_version.setdefault(f.schema_version, []).append(
                os.path.join(self.root, f.path)
            )
        parts: list[DataFrame] = []
        for sv, paths in sorted(by_version.items()):
            old = snap.schema_history[sv]
            read_struct = T.StructType(list(old.to_struct().fields) + extra)
            df = self.spark.read.schema(read_struct).parquet(*paths)
            cols = []
            for fld in snap.schema.fields:
                old_fld = old.field_by_id(fld.id)
                if old_fld is None:
                    cols.append(
                        F.lit(fld.default).cast(spark_type(fld.type)).alias(fld.name)
                    )
                else:
                    col = F.col(old_fld.name)
                    if old_fld.type != fld.type:
                        col = col.cast(spark_type(fld.type))
                    cols.append(col.alias(fld.name))
            parts.append(df.select(*cols, F.col("__op"), F.col("__lsn")))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    # ---------------------------------------------------------------- write

    def write_bucket_files(
        self,
        snap: Snapshot,
        df: DataFrame,
        new_version: int,
        *,
        pre_partitioned: bool = False,
        kind: str = "base",
        size_hint_rows: int | None = None,
        sort_exprs: list | None = None,
        max_rows_per_file: int | None = None,
        n_buckets_override: int | None = None,
    ) -> list[DataFile]:
        """Write ``df`` (``snap``'s schema columns plus the ``__op``/``__lsn``
        system columns every file carries) hash-partitioned by bucket
        into a per-attempt unique directory ``data/s{version}-{attempt}/``;
        returns the DataFile entries. ``snap`` is the parent the commit
        names, so the files carry its schema version and bucket layout.

        Unique-per-attempt dirs close the concurrent same-version race:
        two writers retrying the same batch can never observe (or
        manifest) each other's part files — the CAS loser's directory is
        simply never referenced and ``vacuum`` reaps it.

        With ``pre_partitioned=True`` the caller guarantees ``df``'s
        physical partitioning already equals the bucket layout (e.g. the
        merge's single aggregate exchange on HashPartitioning(key_cols,
        n_buckets)) — no extra shuffle, each task writes one bucket dir.
        Otherwise one exchange on the bucket hash is inserted here.

        Manifest stats come from the write tasks themselves: a
        ``mapInArrow`` kernel writes each bucket's parquet (streaming
        row groups) and emits (path, bucket, rows) — the driver never
        walks the output directory or reads parquet footers on the
        commit path (the Iceberg writer shape). Roots executors cannot
        reach as POSIX paths (``root_is_shared_posix``) fall back to the
        JVM writer + footer stats, as do writes the caller hints are
        small (``size_hint_rows`` below ``SMALL_BATCH_ROWS``): the Arrow
        hop pays off on bulk, not on a few-thousand-row batch where the
        Python-worker stage spawn dominates (footer reads there are a
        handful of driver-side metadata reads). Every merge and linear
        compaction passes the hint (an upper bound on its output rows);
        clustering compaction passes none, so it keeps the task writer
        and its bloom sidecars wherever the root allows. Both writers
        roll a file at ``max_rows_per_file`` rows (the JVM writer via
        ``maxRecordsPerFile``), so a sorted rewrite's files carry
        disjoint zone-map windows either way."""
        import uuid

        if not {"__op", "__lsn"} <= set(df.columns):
            raise ValueError("data files must carry the __op/__lsn system columns")
        n_buckets = n_buckets_override or snap.n_buckets
        prefix = "s" if kind == "base" else "d"
        rel_dir = f"data/{prefix}{new_version}-{uuid.uuid4().hex[:8]}"
        out_dir = os.path.join(self.root, rel_dir)
        out = df.withColumn(BUCKET_COL, bucket_expr(snap.key_cols, n_buckets))
        if not pre_partitioned:
            out = out.repartition(min(n_buckets, 64), F.col(BUCKET_COL))
        if sort_exprs:
            # cluster rows inside each bucket partition (one Tungsten
            # sort, no extra exchange) so the rolled files' zone maps
            # carry disjoint (or narrow, for a z-order key) windows on
            # the sort columns; ``sort_exprs`` are evaluated for the
            # sort only, never materialized into the files
            out = out.sortWithinPartitions(F.col(BUCKET_COL), *sort_exprs)
        schema_version = snap.schema.schema_version
        task_write = root_is_shared_posix(self.root) and (
            size_hint_rows is None or size_hint_rows >= SMALL_BATCH_ROWS
        )
        stat_cols = _stat_columns(snap, df.columns)
        if task_write:
            import json

            from pyspark.sql.pandas.types import to_arrow_schema

            # per-file key blooms (lakehouse/bloom.py): the fingerprint
            # is the SAME F.hash the bucket layout uses, computed
            # JVM-side as a column; the kernel folds it into a sidecar
            # filter per file and drops it before writing
            from ..functions.murmur import SUPPORTED_TYPES as _MUR_TYPES

            key_types = [
                f.type for f in snap.schema.fields if f.name in snap.key_cols
            ]
            bloom_on = len(key_types) == len(snap.key_cols) and all(
                t in _MUR_TYPES for t in key_types
            )
            if bloom_on:
                out = out.withColumn(
                    "__kh", F.hash(*[F.col(c) for c in snap.key_cols])
                )
            data_struct = df.schema  # caller already projected the columns
            writer_df = out.mapInArrow(
                _task_write_fn(
                    out_dir,
                    rel_dir,
                    [f.name for f in data_struct.fields],
                    to_arrow_schema(data_struct),
                    stat_cols=stat_cols,
                    max_rows_per_file=max_rows_per_file,
                    bloom_col="__kh" if bloom_on else None,
                ),
                "path string, bucket int, rows bigint, stats string",
            )
            # The JVM→Python hop costs ~nothing per *byte* but plenty per
            # *batch*: at Spark's default 10k-row Arrow batches the write
            # kernel measured 1.7x slower than the JVM writer; at 128k
            # rows it measured 1.7x FASTER (pyarrow's encoder beats the
            # Hadoop committer path). Pin the batch size for this job.
            # The set/collect/restore triplet is guarded by a per-session
            # lock: two threads sharing one session (the same-batch retry
            # race) would otherwise interleave restores and leave the
            # pinned value stuck session-wide. The async-compaction
            # thread runs on its OWN cloned session (CdcEngine), so the
            # lock never serializes ingest against maintenance.
            conf = self.spark.conf
            key = "spark.sql.execution.arrow.maxRecordsPerBatch"
            with _session_conf_lock(self.spark):
                old = conf.get(key)
                conf.set(key, str(ARROW_WRITE_BATCH))
                try:
                    manifest_rows = writer_df.collect()
                finally:
                    conf.set(key, old)
            return [
                DataFile(
                    path=r["path"],
                    bucket=int(r["bucket"]),
                    rows=int(r["rows"]),
                    schema_version=schema_version,
                    kind=kind,
                    stats=json.loads(r["stats"]) if r["stats"] else None,
                )
                for r in manifest_rows
            ]
        writer = out.write.partitionBy(BUCKET_COL)
        if max_rows_per_file:
            writer = writer.option("maxRecordsPerFile", max_rows_per_file)
        writer.parquet(out_dir, mode="errorifexists", compression="snappy")
        files: list[DataFile] = []
        for dirpath, _dirnames, filenames in os.walk(out_dir):
            parquet = [os.path.join(dirpath, n) for n in filenames if n.endswith(".parquet")]
            if not parquet:
                continue
            bucket = int(os.path.basename(dirpath).split("=", 1)[1])
            for path, (rows, stats) in _parquet_footer_stats(parquet, stat_cols).items():
                files.append(
                    DataFile(
                        path=os.path.relpath(path, self.root),
                        bucket=bucket,
                        rows=rows,
                        schema_version=schema_version,
                        kind=kind,
                        stats=stats,
                    )
                )
        return files

    def fold_and_write(
        self,
        snap: Snapshot,
        files: list[DataFile],
        new_version: int,
        events: DataFrame | None = None,
        **write_kw,
    ) -> list[DataFile]:
        """Fold ``files`` (base and delta alike, read unfolded at their
        stored ``__op``/``__lsn``) plus optional ``events`` (same
        columns) with ONE ``lww_fold`` and write the winners as bucket
        files. The fold's exchange is pinned to the output bucket count
        (``write_kw["n_buckets_override"]`` or ``snap.n_buckets``,
        through ``_pinned_shuffle``), so it already is the bucket layout
        and the write adds no second shuffle. LWW by max ``__lsn`` is
        associative, so folding a delta-holding bucket together with the
        events equals folding it first and the events after. Base files
        alone have nothing to fold; they are written through one
        exchange on the bucket hash.

        The one fold-and-write of compaction, rebucketing, the fused
        merge and the merge-on-read delta append; ``write_kw`` goes to
        ``write_bucket_files`` (``size_hint_rows``, ``kind``, sort,
        file-roll and bucket-count options)."""
        if events is None and all(f.kind == "base" for f in files):
            return self.write_bucket_files(
                snap, self._read_mapped(snap, files), new_version, **write_kw
            )
        rows = self._read_mapped(snap, files) if files else None
        if events is not None:
            rows = events if rows is None else rows.unionByName(events)
        keys = snap.key_cols
        payload = [c for c in snap.schema.names if c not in keys]
        n_buckets = write_kw.get("n_buckets_override") or snap.n_buckets
        with _pinned_shuffle(self.spark, n_buckets):
            return self.write_bucket_files(
                snap,
                lww_fold(rows, keys, payload),
                new_version,
                pre_partitioned=True,
                **write_kw,
            )

    def append(self, df: DataFrame) -> Snapshot:
        """Plain append (initial load path)."""
        snap = self.snapshot
        new_files = self.write_bucket_files(
            snap, _appended_rows(df, snap), snap.version + 1
        )
        return self._commit_attempt(snap, set(), new_files)

    def overwrite(self, df: DataFrame, *, properties: dict | None = None) -> Snapshot:
        """Full-table replace — the extract-and-load landing path (the
        reference re-uploads a table's partitions wholesale on each
        extract, ``panorama_datalake.py:215-258``; at row grain that is
        one atomic all-bucket swap). ``properties`` merge into the
        snapshot (e.g. the declared field-type map the typed view uses).
        Replacing every bucket reads no parent manifest.
        """
        snap = self.snapshot
        new_files = self.write_bucket_files(
            snap, _appended_rows(df, snap), snap.version + 1
        )
        return self._commit_attempt(
            snap, set(range(snap.n_buckets)), new_files, properties=properties
        )

    def commit_replace_buckets(
        self,
        parent: Snapshot,
        replaced_buckets: set[int],
        new_files: list[DataFile],
        *,
        last_lsn: int | None = None,
        batch_id: str | None = None,
        lineage_rows: list[dict] | None = None,
        new_n_buckets: int | None = None,
        retry_on_conflict: bool = False,
    ) -> Snapshot:
        """Atomic snapshot swap: files of ``replaced_buckets`` out, ``new_files``
        in, plus checkpoint LSN / batch id / lineage in the same commit.
        ``_commit_attempt`` builds the snapshot.

        Metadata retention (the snapshot document must stay O(retention),
        not O(table lifetime) — at streaming cadence a year of
        minute-grain epochs × buckets would otherwise put tens of
        millions of lineage rows into every version file):

        * lineage rows beyond ``LINEAGE_RETAIN`` spill oldest-first to
          parquet under ``_meta/lineage/``; the snapshot lists its spill
          files, so readers never pick up orphans from failed commits,
          and ``lineage_df()`` folds spilled + in-doc rows transparently.
        * batch ids beyond ``BATCHID_RECENT`` spill oldest-first to
          immutable files under ``_meta/batchids/`` — no id is ever
          lost (the exactly-once guard consults spills via
          ``is_batch_committed`` only when the recent in-document window
          misses, i.e. never on the new-batch hot path beyond a cached
          read per spill file per process).

        Conflict policy. ``retry_on_conflict=True`` turns a CAS loss into
        an *optimistic rebase* (Iceberg-style conflict resolution) when
        the winning commit provably doesn't invalidate this one — see
        ``_rebase``. Data files are already on disk either way; a rebase
        rewrites only O(touched) metadata against the fresh parent, so a
        maintenance commit (compaction) and a merge-on-read ingest batch
        can race without failing either. Default off: the bare call keeps
        strict first-writer-wins semantics. Callers: ``commit_or_skip``
        (every merge and streaming-sink epoch), ``compact`` and the
        ``format("panorama")`` batch writer retry; ``rebucket`` is
        strict, and so are ``append``, ``overwrite`` and ``alter_schema``,
        which call ``_commit_attempt`` directly.
        """
        kw = dict(
            last_lsn=last_lsn,
            batch_id=batch_id,
            lineage_rows=lineage_rows,
            new_n_buckets=new_n_buckets,
        )
        for _ in range(COMMIT_RETRIES if retry_on_conflict else 0):
            try:
                return self._commit_attempt(parent, replaced_buckets, new_files, **kw)
            except CommitConflict:
                rebased = self._rebase(
                    parent, replaced_buckets, last_lsn, batch_id, new_n_buckets
                )
                if rebased is None:
                    raise
                parent, carried = rebased
                new_files = new_files + carried
        return self._commit_attempt(parent, replaced_buckets, new_files, **kw)

    def _rebase(
        self,
        parent: Snapshot,
        replaced_buckets: set[int],
        last_lsn: int | None,
        batch_id: str | None,
        new_n_buckets: int | None,
    ) -> tuple[Snapshot, list[DataFile]] | None:
        """Decide whether a CAS-losing commit can re-target the current
        snapshot unchanged. Returns ``(fresh_parent, carried_files)`` or
        ``None`` (caller re-raises). The one conflict rule of every
        ``retry_on_conflict=True`` caller of ``commit_replace_buckets``.
        Safe iff the intervening commits are provably disjoint from
        this one:

        * no concurrent bucket-count change (our files carry bucket ids
          of ``parent``'s layout) and this commit isn't itself one;
        * no concurrent schema change (our files conform to ``parent``'s
          epoch);
        * the batch id isn't already in (that's the exactly-once race —
          ``commit_or_skip`` resolves it to a skip, not a rebase);
        * if this commit carries an LSN checkpoint, nobody else moved it
          (two checkpointing writers = two tails = a real conflict; a
          streaming sink whose events carry LSNs counts as a tail);
        * the files this commit read-and-replaced are all still live in
          the fresh snapshot. Files *added* to those buckets meanwhile
          are fine only if they are merge-on-read deltas: deltas fold
          over any base state by ``__lsn``, so carrying them forward
          onto our rewritten base preserves the read result (the
          Hudi-style "compaction never blocks ingestion" property). A
          removed or non-delta-added file means the winner rewrote state
          this commit depended on — no rebase.

        ``format("panorama")`` writes are held to this rule too and
        are never retried blindly: one that loses the race to a
        rebucket, an ALTER, a rival rewrite of its buckets, or another
        writer that moved the checkpoint fails with ``CommitConflict``.
        """
        fresh = self.log.read_current()
        if fresh is None or new_n_buckets is not None:
            return None
        if fresh.n_buckets != parent.n_buckets:
            return None
        if batch_id is not None and self.is_batch_committed(batch_id, fresh):
            return None
        if fresh.schema.schema_version != parent.schema.schema_version:
            return None
        if last_lsn is not None and fresh.last_lsn != parent.last_lsn:
            return None
        carried: list[DataFile] = []
        if replaced_buckets:
            ours = {f.path for f in parent.files_in_buckets(replaced_buckets)}
            theirs = {
                f.path: f for f in fresh.files_in_buckets(replaced_buckets)
            }
            if ours - theirs.keys():
                return None  # a file we consumed is gone (e.g. rival compaction)
            carried = [f for p, f in theirs.items() if p not in ours]
            if any(f.kind != "delta" for f in carried):
                return None
        return fresh, carried

    def commit_or_skip(
        self, parent: Snapshot, *commit_args, batch_id: str, **commit_kwargs
    ) -> tuple[Snapshot, bool]:
        """Commit a batch exactly once (merges, streaming-sink epochs);
        returns ``(snapshot, skipped)``. A batch id already in
        ``parent`` (a re-delivered epoch) or in the snapshot that beat
        this commit's CAS (a retried job, a failed-over driver: same id
        ⇒ same LSN range ⇒ same resolved state) is skipped, and
        ``vacuum`` reaps the loser's files. Any other lost race follows
        ``_rebase``: a provably disjoint winner (a compaction landing
        mid-merge) is rebased over, a real lost update re-raises.
        """
        if self.is_batch_committed(batch_id, parent):
            return self.snapshot, True
        try:
            snap = self.commit_replace_buckets(
                parent, *commit_args, batch_id=batch_id, retry_on_conflict=True,
                **commit_kwargs
            )
            return snap, False
        except CommitConflict:
            cur = self.snapshot
            if self.is_batch_committed(batch_id, cur):
                return cur, True
            raise

    def _commit_attempt(
        self,
        parent: Snapshot,
        replaced_buckets: set[int],
        new_files: list[DataFile],
        *,
        last_lsn: int | None = None,
        batch_id: str | None = None,
        lineage_rows: list[dict] | None = None,
        new_schema: TableSchema | None = None,
        new_n_buckets: int | None = None,
        properties: dict | None = None,
    ) -> Snapshot:
        """Build the child of ``parent`` and CAS it in — the one place a
        snapshot is built after ``create``. The checkpoint never moves
        backwards (``max`` of the parent's and ``last_lsn``); under a
        ``new_schema`` key columns follow their field ids through
        renames and may not change type (``alter_schema``);
        ``properties`` merge over the parent's."""
        from .schema import SchemaEvolutionError

        schema = new_schema or parent.schema
        key_cols = list(parent.key_cols)
        for i, k in enumerate(key_cols):
            old_fld = parent.schema.field_by_name(k)
            new_fld = schema.field_by_id(old_fld.id) if old_fld else None
            if new_fld is None:
                continue
            if new_fld.type != old_fld.type:
                raise SchemaEvolutionError(
                    f"cannot change type of key column {k!r} "
                    f"({old_fld.type} -> {new_fld.type}): the bucket hash is "
                    "type-dependent, so existing rows would be addressed under "
                    "the wrong bucket; rewrite via rebucket() instead"
                )
            key_cols[i] = new_fld.name
        kept_manifests = self._carry_manifests(parent, replaced_buckets)
        history = dict(parent.schema_history)
        history[schema.schema_version] = schema
        new_version = parent.version + 1
        # the commit, not the caller, knows the version that actually
        # lands (a rebase re-targets a newer parent than the merge saw)
        lineage_all = list(parent.lineage) + [
            {**r, "snapshot_version": new_version} if "snapshot_version" in r else r
            for r in (lineage_rows or [])
        ]
        lineage_files = list(parent.lineage_files)
        if len(lineage_all) > LINEAGE_RETAIN:
            spilled = self._write_lineage_spill(
                lineage_all[:-LINEAGE_RETAIN], new_version
            )
            lineage_files.append(spilled)
            lineage_all = lineage_all[-LINEAGE_RETAIN:]
        batches = list(parent.committed_batches) + ([batch_id] if batch_id else [])
        batchid_files = list(parent.batchid_files)
        if len(batches) > BATCHID_RECENT:
            import json
            import uuid

            rel = f"_meta/batchids/spill-v{new_version}-{uuid.uuid4().hex[:12]}.json"
            self.io.write_text(
                os.path.join(self.root, rel), json.dumps(batches[:-BATCHID_RECENT])
            )
            batchid_files.append(rel)
            batches = batches[-BATCHID_RECENT:]
        new_snap = Snapshot(
            version=new_version,
            schema=schema,
            n_buckets=new_n_buckets or parent.n_buckets,
            key_cols=key_cols,
            manifests=kept_manifests + self._write_manifests(new_files),
            last_lsn=parent.last_lsn if last_lsn is None else max(parent.last_lsn, last_lsn),
            committed_batches=batches,
            lineage=lineage_all,
            schema_history=history,
            properties={**parent.properties, **(properties or {})},
            lineage_files=lineage_files,
            batchid_files=batchid_files,
        )
        self.log.commit(new_snap, expected_parent=parent.version)
        return new_snap

    _LINEAGE_COLS = [
        ("batch_id", "string"),
        ("bucket", "int"),
        ("lsn_lo", "long"),
        ("lsn_hi", "long"),
        ("rows_in", "long"),
        ("rows_upserted", "long"),
        ("rows_deleted", "long"),
        ("snapshot_version", "long"),
    ]

    def _write_lineage_spill(self, rows: list[dict], version: int) -> str:
        """Write aged-out lineage rows to one parquet file (driver-side —
        the spill batch is at most one retention window). Returns the
        root-relative path; the caller lists it in the snapshot, so a
        file from a failed commit is simply never referenced. The name
        carries a per-attempt random suffix: two writers racing for
        version N must not share a path, or the CAS loser could
        overwrite the winner's committed, referenced spill file —
        ``vacuum`` reaps the loser's orphan instead."""
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        pa_types = {"string": pa.string(), "int": pa.int32(), "long": pa.int64()}
        schema = pa.schema([(n, pa_types[t]) for n, t in self._LINEAGE_COLS])
        rel = f"_meta/lineage/spill-v{version}-{uuid.uuid4().hex[:12]}.parquet"
        sink = pa.BufferOutputStream()
        pq.write_table(
            pa.Table.from_pylist(
                [{n: r.get(n) for n, _ in self._LINEAGE_COLS} for r in rows],
                schema=schema,
            ),
            sink,
        )
        self.io.write_bytes(os.path.join(self.root, rel), sink.getvalue().to_pybytes())
        return rel

    def alter_schema(self, new_schema: TableSchema) -> Snapshot:
        """Metadata-only schema change (no data rewrite).

        Key columns follow their *field id* through renames: a renamed
        key column keeps its identity (and its rows keep their buckets —
        values are unchanged, only the name moved), so appends and
        merges after the ALTER address the key by its new name.

        Key-column TYPE changes are rejected outright (even registry-
        legal widenings like int→bigint): Spark's murmur hashes int
        (4-byte) and bigint (8-byte) values differently, so existing
        files would keep old-type buckets while ``bucket_expr``, the
        driver-side point-lookup pruning and the bloom sidecars compute
        under the new type — splitting keys across buckets (duplicate
        winners) and silently missing rows on pruned reads. A key-type
        change needs a full rewrite: ``rebucket(n_buckets)`` after
        changing the type out-of-band. Both rules live in
        ``_commit_attempt``."""
        return self._commit_attempt(self.snapshot, set(), [], new_schema=new_schema)

    def changed_buckets(self, from_version: int, to_version: int | None = None) -> set[int]:
        """Buckets whose file set differs between two snapshots. Data
        files are immutable, so an identical file set ⇒ identical rows —
        the exact pruning set for a change-feed scan (covers merges,
        MOR deltas, appends; a compaction rewrites files without
        changing rows, so it lands in the set but diffs to zero)."""
        return snapshot_changed_buckets(
            self.log.resolve(from_version), self.log.resolve(to_version)
        )

    def changes(self, from_version: int, to_version: int | None = None) -> DataFrame:
        """Change feed between two snapshots (the engine as a CDC
        *source*, the Iceberg changelog-scan analogue): key columns +
        ``change_op`` (I/U/D) + the new payload (nulls for D); unchanged
        rows are dropped. Keys match like ``groupBy`` groups them
        (``IS NOT DISTINCT FROM``): a NULL key value is a value, so an
        update of a NULL-keyed row is a U, not a D+I pair. The I/U/D
        rule itself lives in ``lakehouse/feed.py`` (``classify_changes``,
        shared with the data source's Arrow twin), and ``plan_changes``
        (shared with the data source's feeds) picks the two sides; this
        method only reads them.

        Schema epochs: when the two snapshots carry different schema
        versions, both sides are projected onto the **newer** schema via
        the field-id mapper (rename-aware; added columns backfill their
        declared default) and the diff is taken there — so a change-feed
        consumer survives an ALTER mid-stream instead of erroring (the
        reference edits the settings YAML and re-runs mid-pipeline,
        ``panorama_elt.py:409-470``). A metadata-only ALTER by itself
        emits no rows (file sets unchanged ⇒ identical projections);
        rows whose *projection* changed — e.g. upserted under the new
        schema — emit U.

        Merge-on-read fast path: when the whole version range is pure
        delta appends (``is_delta_append_range``: no file removed — no
        CoW rewrite, no compaction), the new side is the LWW winners of
        the range's delta files (they already carry ``__op``/``__lsn``),
        left-joined to the old state of their buckets read with
        tombstones and stored LSNs: the NEW state is never
        reconstructed, and the join shrinks from full-outer of two
        O(touched-bucket) states to O(range events) winners. Any other
        range diffs the two states of the changed buckets; both produce
        the same rows (parity-tested against ``_changes_diff``, an
        independent state diff)."""
        proj, mor, rows = plan_changes(
            self.log.resolve(from_version), self.log.resolve(to_version)
        )
        old = [f for _b, files, _new in rows for f in files]
        new = [f for _b, _old, files in rows for f in files]
        keys = proj.key_cols

        def build() -> DataFrame:
            return classify_changes(
                self._state_frame(proj, old, with_lsn=mor),
                self._state_frame(proj, new, with_lsn=mor),
                keys,
                range_winners=mor,
            )

        key = self._plan_key(proj, "changes", _side_paths(old), _side_paths(new), mor)
        return _PLAN_MEMO.frame(self.spark, key, len(old) + len(new), build)

    def _changes_diff(self, snap_from: Snapshot, snap: Snapshot) -> DataFrame:
        """changes() as a state diff: the two states, pruned to the
        buckets whose file sets differ (identical file sets cannot
        differ), full-outer classified. Both sides are bucket-aligned
        states, so the join shuffles only the touched fraction of the
        table once per side."""
        proj = newer_schema(snap_from, snap)
        touched = snapshot_changed_buckets(snap_from, snap)
        return classify_changes(
            self._state_frame(proj, snap_from.files_in_buckets(touched)),
            self._state_frame(proj, snap.files_in_buckets(touched)),
            proj.key_cols,
        )

    # ------------------------------------------------------------ maintenance

    def history(self, limit: int | None = None) -> DataFrame:
        """The table's commit history as a DataFrame, newest first — the
        Delta ``DESCRIBE HISTORY`` analogue. Metadata-only: each row
        reads one snapshot document (manifest summaries carry the
        file/row totals, no manifest or data file is opened), walking
        back from the current version until ``limit`` rows or the first
        expired snapshot. The operation kind is inferred from what
        changed against the parent: ``create`` / ``alter`` (schema
        epoch) / ``merge`` (a new committed batch id — CDC ingest) /
        ``rewrite`` (same rows, files changed — compaction/clustering) /
        ``append`` (rows grew with no batch id) / ``other``."""
        import datetime

        from pyspark.sql import types as T

        rows = []
        v = self.snapshot.version
        snaps: dict[int, Snapshot] = {}

        def _get(version: int) -> Snapshot | None:
            if version < 0:
                return None
            if version not in snaps:
                try:
                    snaps[version] = self.log.read_version(version)
                except (FileNotFoundError, NotADirectoryError):
                    return None  # expired
            return snaps[version]

        while v >= 0 and (limit is None or len(rows) < limit):
            snap = _get(v)
            if snap is None:
                break
            parent = _get(v - 1)
            batch = None
            if parent is None and v > 0:
                op = "other"  # parent expired: no diff to infer from
            elif parent is None:
                op = "create"
            else:
                new_batches = [
                    b for b in snap.committed_batches
                    if b not in set(parent.committed_batches)
                ]
                batch = new_batches[-1] if new_batches else None
                if snap.schema.schema_version != parent.schema.schema_version:
                    op = "alter"
                elif batch is not None:
                    op = "merge"
                elif snap.total_rows() > parent.total_rows():
                    op = "append"
                else:
                    # physical rows equal (clustering) or reduced (a
                    # delta fold collapses base+delta rows) — a rewrite
                    # either way; logical state is unchanged
                    op = "rewrite"
            rows.append(
                (
                    snap.version,
                    None
                    if snap.committed_at is None
                    else datetime.datetime.fromtimestamp(
                        snap.committed_at, datetime.timezone.utc
                    ).replace(tzinfo=None),
                    op,
                    batch,
                    snap.last_lsn,
                    snap.schema.schema_version,
                    snap.total_files(),
                    snap.total_rows(),
                )
            )
            v -= 1
        schema = T.StructType(
            [
                T.StructField("version", T.LongType(), False),
                T.StructField("committed_at", T.TimestampType(), True),
                T.StructField("operation", T.StringType(), False),
                T.StructField("batch_id", T.StringType(), True),
                T.StructField("last_lsn", T.LongType(), False),
                T.StructField("schema_version", T.LongType(), False),
                T.StructField("n_files", T.LongType(), False),
                T.StructField("n_rows", T.LongType(), False),
            ]
        )
        return self.spark.createDataFrame(rows, schema)

    def column_bounds(
        self, cols: list[str], snap: Snapshot | None = None
    ) -> dict[str, tuple]:
        """Global inclusive ``(lo, hi)`` per column, combined from the
        manifests' per-file zone maps — a metadata-only read, no data
        scan. A column any live file lacks a stat for (wide values,
        stats disabled, unorderable type) is absent from the result;
        the caller decides whether to fall back to a bounds aggregate."""
        from .filestats import decode_bound

        snap = snap or self.snapshot
        ids = {
            c: str(f.id)
            for c in cols
            if (f := snap.schema.field_by_name(c)) is not None
        }
        types = {f.name: f.type for f in snap.schema.fields}
        out: dict[str, tuple] = {}
        for c, key in ids.items():
            lo = hi = None
            ok = True
            for df_ in snap.files:
                st = (df_.stats or {}).get(key)
                if st is None or st[0] is None or st[1] is None:
                    ok = False
                    break
                f_lo = decode_bound(st[0], types[c])
                f_hi = decode_bound(st[1], types[c])
                if f_lo is None or f_hi is None:
                    ok = False
                    break
                lo = f_lo if lo is None or f_lo < lo else lo
                hi = f_hi if hi is None or f_hi > hi else hi
            if ok and lo is not None:
                out[c] = (lo, hi)
        return out

    # ------------------------------------------------------------ named refs

    def refs(self) -> dict[str, int]:
        """Named snapshot refs (tags): ``{name: version}``. Tags pin a
        version against ``expire_snapshots`` and give readers a stable
        name (``read(ref=...)``, data source ``.option("ref", ...)``) —
        the Iceberg tag shape. Stored in one ``_meta/refs.json``
        document (``SnapshotLog.refs``)."""
        return self.log.refs()

    def tag(self, name: str, version: int | None = None) -> int:
        """Create or move the tag ``name`` to ``version`` (default: the
        current snapshot). The version must still exist in the log.
        Ref updates are last-writer-wins on the refs document — tags
        are a human/maintenance-cadence surface, not a commit path."""
        import json

        if not name or "/" in name or name != name.strip():
            raise ValueError(f"invalid tag name {name!r}")
        v = self.log.resolve(version).version  # raises if expired/nonexistent
        refs = self.refs()
        refs[name] = v
        self.io.write_text(self.log.refs_path, json.dumps(refs, indent=1))
        return v

    def drop_tag(self, name: str) -> None:
        import json

        refs = self.refs()
        if name not in refs:
            raise KeyError(name)
        del refs[name]
        self.io.write_text(self.log.refs_path, json.dumps(refs, indent=1))

    def resolve_ref(self, ref: str) -> int:
        return self.log.resolve_ref(ref)

    def rebucket(
        self,
        n_buckets: int,
        sort_by: list[str] | None = None,
        max_rows_per_file: int | None = None,
    ) -> Snapshot:
        """Change the table's bucket count in one atomic snapshot swap —
        the answer to "the table outgrew the bucket count it was created
        with". At the 100 TB design point a bucket must stay
        executor-memory-sized (``module doc, :19``), so a table that
        grows 100× needs its keyspace re-split; this rewrites the fully
        folded current state (merge-on-read deltas resolved) under the
        new ``pmod(hash(keys), n)`` layout, with the optional clustering
        knobs of ``compact``. One shuffle on the new bucket hash, one
        commit: a table with deltas goes through ``fold_and_write`` with
        the fold's exchange pinned to the new count, so the fold is the
        new layout; a base-only table is written through one exchange.

        Everything per-snapshot follows automatically: later merges,
        point-lookup bucket pruning, and the data source's partition
        planning all read ``n_buckets`` from the snapshot they resolve,
        and time travel to a pre-rebucket version uses that version's
        own count. The commit is strict first-writer-wins (no optimistic
        rebase in either direction — a concurrent ingest's files carry
        bucket ids of the old layout, which can never be carried across
        a count change; the loser re-merges from the fresh snapshot).
        Old files stay referenced by old snapshots until
        ``expire_snapshots`` + ``vacuum``.
        """
        snap = self.snapshot
        if n_buckets == snap.n_buckets:
            return snap
        if n_buckets < 1:
            raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
        # rows keep their stored op and winner LSN through the rewrite
        # (tombstones included) so out-of-order arbitration survives a
        # bucket-count change
        new_files = self.fold_and_write(
            snap,
            snap.files,
            snap.version + 1,
            sort_exprs=[F.col(c) for c in sort_by] if sort_by else None,
            max_rows_per_file=max_rows_per_file,
            n_buckets_override=n_buckets,
        )
        all_buckets = {f.bucket for f in snap.files}
        return self.commit_replace_buckets(
            snap, all_buckets, new_files, new_n_buckets=n_buckets
        )

    def compact(
        self,
        buckets: set[int] | None = None,
        sort_by: list[str] | None = None,
        max_rows_per_file: int | None = None,
        layout: str = "linear",
    ) -> int:
        """Fold merge-on-read delta files into base files (the Hudi/
        Iceberg compaction analogue). Only buckets that actually hold
        deltas are rewritten; returns how many were. Readers never
        block: compaction is one ordinary snapshot commit, and the
        pre-compaction read and post-compaction read are the same rows
        by construction (the read path's fold IS the compaction plan).

        The rewrite is the merges' fold-and-write (``fold_and_write``):
        the target buckets' base and delta files are read unfolded, one
        ``lww_fold`` whose exchange is pinned to the bucket layout
        resolves the winner per key (tombstones and stored LSNs kept),
        and the write adds no second shuffle. A linear compaction passes
        its input row count as the size hint, so a rewrite below
        ``SMALL_BATCH_ROWS`` takes the JVM writer with
        footer zone maps and spawns no Python worker; at or above the
        gate it keeps the task writer and its bloom sidecars.

        ``sort_by`` turns the call into a *clustering* rewrite (Iceberg
        ``rewrite_data_files`` with a sort order): the targeted buckets
        (all live buckets when ``buckets`` is None) rewrite with rows
        sorted inside each bucket and, with ``max_rows_per_file``,
        rolled into bounded files — so the files' zone maps
        (``filestats``) carry disjoint windows on the sort columns and
        range predicates skip whole files at plan time. Clustering
        exists for read-side metadata, so it always takes the task
        writer (rolled zone maps plus bloom sidecars) where the root
        allows; a target without delta files has nothing to fold and is
        written through one exchange on the bucket hash.

        ``layout="zorder"`` (requires ``sort_by`` with ≥ 2 columns)
        sorts by the Morton interleave of the columns' affine cell
        values instead of lexicographically (``lakehouse/zorder.py``, the
        Delta ``OPTIMIZE ZORDER BY`` shape): every participating column
        gets a narrow zone-map window, so predicates on *any* of them
        skip files — a lexicographic sort only serves its leading
        column. Cell bounds come from the manifests' zone maps
        (metadata-only); columns without manifest bounds fall back to
        one min/max aggregate over the rewrite's unfolded input (a
        superset of the folded values, like the manifest bounds)."""
        snap = self.snapshot
        if sort_by is not None:
            target = (
                {f.bucket for f in snap.files} if buckets is None else set(buckets)
            )
        else:
            target = snap.delta_buckets()
            if buckets is not None:
                target &= buckets
        if not target:
            return 0
        # pin the fold's input to the snapshot the commit names as its
        # parent: a delta landing mid-fold is then carried forward by
        # the rebase exactly once (a fresher read would fold it AND
        # carry it — harmless under LWW, but the pin keeps the commit's
        # inputs and its conflict check the same set of files). The
        # folded rows keep their winner LSN, so a late batch arriving
        # after compaction still loses to them
        files = snap.files_in_buckets(target)
        sort_exprs = None
        if layout == "zorder":
            if not sort_by or len(sort_by) < 2:
                raise ValueError("layout='zorder' needs sort_by with >= 2 columns")
            from .zorder import zorder_key

            types = {f.name: f.type for f in snap.schema.fields}
            bounds = self.column_bounds(sort_by, snap)
            missing = [c for c in sort_by if c not in bounds]
            if missing:
                # one bounds aggregate over the rewrite's own input —
                # the only case a z-order rewrite scans before writing
                row = self._read_mapped(snap, files).agg(
                    *[F.min(c).alias(f"lo_{c}") for c in missing],
                    *[F.max(c).alias(f"hi_{c}") for c in missing],
                ).collect()[0]
                for c in missing:
                    bounds[c] = (row[f"lo_{c}"], row[f"hi_{c}"])
            sort_exprs = [zorder_key(sort_by, types, bounds)]
        elif layout != "linear":
            raise ValueError(f"unknown layout {layout!r}")
        elif sort_by:
            sort_exprs = [F.col(c) for c in sort_by]
        write_kw = dict(
            sort_exprs=sort_exprs,
            max_rows_per_file=max_rows_per_file,
            size_hint_rows=sum(f.rows for f in files) if sort_by is None else None,
        )
        new_files = self.fold_and_write(snap, files, snap.version + 1, **write_kw)
        # retry_on_conflict: a merge-on-read ingest batch landing mid-
        # compaction must not kill either job — its new deltas are
        # carried forward onto the compacted base (``_rebase``)
        self.commit_replace_buckets(snap, target, new_files, retry_on_conflict=True)
        return len(target)

    def drop(self) -> None:
        """K6: drop the table — data, snapshot log, everything under the
        root (ref ``panorama_datalake.py:348-370`` drops the Athena
        table; here the snapshot log *is* the catalog entry, so removing
        the root is the whole DDL). Views registered with
        ``register_view`` are dropped via ``drop_view``."""
        self.io.delete_prefix(self.root)

    def register_view(self, name: str) -> None:
        """Register the current table state as a session temp view (the
        reference's raw-layer table registration)."""
        self.read().createOrReplaceTempView(name)

    def register_typed_view(self, name: str, raw_name: str | None = None) -> None:
        """K5: register the typed (silver) view — per-column TRY-class
        conversions over the all-string raw layer, driven by the declared
        field-type map stored in the snapshot (set by extract-and-load);
        columns without a declared type stay string (NULLIF semantics).
        The reference's ``create_datalake_view`` analogue
        (``panorama_datalake.py:372-415``). ``raw_name`` also registers
        the raw frame the typed view is built over: both views come from
        one snapshot resolution, so a commit between them cannot pair
        one schema's typed columns with another snapshot's rows."""
        from ..functions.typed_view import typed_view

        snap = self.snapshot
        raw = self._read_snapshot(snap)
        if raw_name is not None:
            raw.createOrReplaceTempView(raw_name)
        typed_view(snap, raw).createOrReplaceTempView(name)

    def drop_view(self, name: str) -> bool:
        """K6: drop a registered view (ref ``panorama_datalake.py``
        drop-datalake-views). Returns whether the view existed."""
        return self.spark.catalog.dropTempView(name)

    def expire_snapshots(self, keep_last: int = 10) -> int:
        """Delete snapshot documents older than the newest ``keep_last``
        (the Iceberg ``expire_snapshots`` analogue — the snapshot log
        would otherwise grow one document per commit forever). Time
        travel and change feeds to expired versions end; data and
        lineage-spill files only they referenced become orphans that
        ``vacuum()`` then removes. The current version and any version
        pinned by a tag (``refs()``) are always kept — vacuum derives
        its live set from the remaining documents, so a tag protects
        the tagged snapshot's files too."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        cur = self.snapshot.version
        pinned = set(self.refs().values())
        removed = 0
        for v in self.log.versions():
            if v not in pinned and v <= cur - keep_last:
                self.io.delete(self.log._version_path(v))
                removed += 1
        return removed

    def vacuum(self) -> int:
        """Delete data files, lineage spill files, manifests and
        manifest lists referenced by NO remaining snapshot document.
        The live set is the union over every ``v*.json`` still in the
        log (not just the current one), so ``expire_snapshots
        (keep_last=N)`` + ``vacuum()`` removes only what the expiry
        orphaned — including CAS losers' unreferenced write attempts —
        and time travel to every *retained* version keeps working.
        Returns number of files removed."""
        live: set[str] = set()
        for v in self.log.versions():
            snap = self.log.read_version(v)
            live |= {os.path.join(self.root, f.path) for f in snap.files}
            live |= {os.path.join(self.root, p) for p in snap.lineage_files}
            live |= {os.path.join(self.root, p) for p in snap.batchid_files}
            live |= {os.path.join(self.root, m.path) for m in snap.manifests}
            if snap.manifest_list_path:
                live.add(os.path.join(self.root, snap.manifest_list_path))
        removed = 0
        for sub in ("data", os.path.join("_meta", "lineage")):
            for path in self.io.list(os.path.join(self.root, sub)):
                if path.endswith(".parquet") and path not in live:
                    self.io.delete(path)
                    removed += 1
                elif path.endswith(".bloom") and path[: -len(".bloom")] not in live:
                    # bloom sidecars follow their parquet file's lifetime
                    self.io.delete(path)
                    removed += 1
        for sub in (self.log.manifest_dir, os.path.join("_meta", "batchids")):
            for path in self.io.list(os.path.join(self.root, sub)):
                if path.endswith(".json") and path not in live:
                    self.io.delete(path)
                    removed += 1
        return removed

    def lineage_df(self) -> DataFrame:
        """Per-partition lineage rows (batch id, bucket, LSN range, row
        counts, snapshot id) as a DataFrame — the engine's metrics table.
        Folds aged-out rows from the snapshot's listed spill files with
        the in-document tail, so retention is invisible to readers."""
        from pyspark.sql import types as T

        spark_types = {
            "string": T.StringType(),
            "int": T.IntegerType(),
            "long": T.LongType(),
        }
        schema = T.StructType(
            [T.StructField(n, spark_types[t]) for n, t in self._LINEAGE_COLS]
        )
        snap = self.snapshot
        rows = [
            tuple(r.get(f.name) for f in schema.fields) for r in snap.lineage
        ]
        recent = self.spark.createDataFrame(rows, schema)
        if not snap.lineage_files:
            return recent
        spilled = self.spark.read.schema(schema).parquet(
            *[os.path.join(self.root, p) for p in snap.lineage_files]
        )
        return spilled.unionByName(recent)
