"""``spark.read.format("panorama")`` — the lake table as a Spark data source.

Python Data Source (Spark 4 ``pyspark.sql.datasource`` API) over the
lakehouse format, resolving the snapshot *at read time*: a DataFrame or
SQL query built over this source always sees the table's current
committed state — files are listed from the manifest log when the scan
plans, merge-on-read deltas fold partition-locally, and every file is
projected onto the current schema by field id. That read-time resolution
is what makes *persisted* catalog entries (``attach_catalog``, see
``panorama_elt_spark.catalog``) correct across sessions and commits — a
view pinned to a data directory would go stale on the next commit and
would bypass MOR/evolution semantics entirely.

This is the reference's Athena-side read path re-expressed
(``panorama_datalake.py:169-213`` registers partitions so Athena's
catalog resolves files at query time; here the snapshot log is the
catalog and the source resolves it).

Every read is planned in ``lakehouse/`` — ``SnapshotLog.resolve``
names the snapshot, ``plan_state_files`` (``table.py``) the files of a
state read, ``plan_changes`` (``snapshot.py``) the two sides of each
changed bucket — by the same planners ``LakeTable.read``/``read_where``/
``changes`` run in the JVM. This module only executes those plans in
Arrow. Three read surfaces share one bucket-local Arrow kernel:

* **state read** — ``spark.read.format("panorama").load(root)``
  (+ ``.option("version", N)`` time travel,
  ``.option("with_deltas", "false")`` raw base state);
* **batch change feed** — ``.option("changes_from", v)`` (+ optional
  ``changes_to``): the I/U/D rows between two snapshots, byte-equal to
  ``LakeTable.changes`` (parity-tested): the same plan, with its
  merge-on-read fast path and newer-schema projection rule;
* **streaming change feed** — ``spark.readStream.format("panorama")
  .option("change_feed", "true").load(root)``: offsets are snapshot
  versions, each micro-batch emits ``changes(start, end)``; resumes
  from the checkpoint like any Spark source. The Delta CDF-stream
  analogue. The stream's column set is pinned at start — after an
  ALTER that adds columns, restart the stream to widen the surface
  (standard streaming-schema semantics).

And two write surfaces over the same bucket layout (``PanoramaWriter``
/ ``PanoramaStreamSink`` below):

* **batch write** — ``df.write.format("panorama").mode("append" |
  "overwrite").save(root)``: atomic snapshot append / all-bucket swap;
* **streaming upsert sink** — ``writeStream.format("panorama")`` over
  change events (table columns + ``op``/``lsn``): each epoch lands as
  merge-on-read delta files in one exactly-once commit, so
  lake → readStream → transform → writeStream → lake is end-to-end
  exactly-once in pure Spark API.

Both commit through the table's conflict policy (``LakeTable._rebase``),
so sinks that carry LSNs into one table conflict like two CDC tails.

Scale design:

* state-read partition grain: one input partition per FILE for
  delta-free buckets (a compacted bucket's files are independent row
  sets — scan parallelism is the live file count, not the bucket
  count), and one per bucket only where merge-on-read deltas force the
  LWW fold to co-locate a key's rows; change feeds stay bucket-grain
  (the diff is a per-bucket join);
* LWW folds and change diffs run inside each bucket partition
  (bucketing co-locates every key's rows), so MOR reads and change
  feeds need **zero shuffle** — Spark sees a plain scan;
* pushed filters prune on metadata before any file IO
  (``plan_state_files``: key buckets via the driver-side Murmur3, zone
  maps, key blooms) — a point lookup reads one bucket's files only
  (Spark still re-applies the predicate, the pushdown is pruning-only
  so it can never change results);
* change-feed planning prunes at two metadata levels before touching
  data: manifest-list compare → changed-bucket file-set diff
  (``plan_changes``);
* file bytes move as Arrow record batches (pyarrow parquet reader →
  Spark's Arrow ingest), never per-row Python.

The in-session hot path stays ``LakeTable.read()`` (JVM parquet scan +
codegen); this source is the catalog/interop/streaming-out path. A
change-feed consumer's lag must stay inside ``expire_snapshots``
retention — expired start versions raise cleanly.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field as dc_field
from functools import cached_property
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..functions.murmur import SUPPORTED_TYPES
from ..lakehouse.feed import classify_changes_arrow
from ..lakehouse.fold import (
    arrow_type as _arrow_type,
    history_fields,
    load_projected,
    lww_winners,
    target_fields as _target_fields,
)
from ..lakehouse.snapshot import Snapshot, SnapshotLog, newer_schema, plan_changes

FORMAT_NAME = "panorama"

CHANGE_OP_COL = "change_op"
CHANGE_VERSION_COL = "change_version"


# ---------------------------------------------------------------------------
# partition payloads (plain picklable data)
# ---------------------------------------------------------------------------


@dataclass
class BucketPartition(InputPartition):
    """One live bucket's files plus everything needed to project them
    onto the current schema executor-side."""

    bucket: int
    # (root-relative path, schema_version, kind)
    files: list[tuple[str, int, str]]
    root: str
    # current schema: (field_id, name, type_name, default)
    target_fields: list[tuple[int, str, str, object]]
    # schema_version -> [(field_id, name, type_name)]
    histories: dict[int, list[tuple[int, str, str]]]
    key_cols: list[str] = dc_field(default_factory=list)


@dataclass
class ChangesPartition(InputPartition):
    """One changed bucket's two sides for a change-feed scan. ``mor``
    says what the sides are: a pure delta-append range classifies the
    LWW winners of the range's delta files against the old state with
    its tombstones and stored LSNs; any other range diffs the two
    folded states. The I/U/D rule is ``lakehouse/feed.py``'s."""

    bucket: int
    old_files: list[tuple[str, int, str]]
    # diff: the bucket's files in the TO snapshot; MOR: the range's
    # delta files only
    new_files: list[tuple[str, int, str]]
    mor: bool
    root: str
    target_fields: list[tuple[int, str, str, object]]
    histories: dict[int, list[tuple[int, str, str]]]
    key_cols: list[str] = dc_field(default_factory=list)
    # when set, every emitted row carries this snapshot version in a
    # ``change_version`` column (Delta CDF's _commit_version analogue);
    # for a range spanning several commits it is the range's TO version
    # — the state the row set is exact as-of
    version: int | None = None


# ---------------------------------------------------------------------------
# executor-side Arrow kernel (shared by all three read surfaces)
# ---------------------------------------------------------------------------


def _load_state(
    root, files, histories, target_fields, key_cols, out_schema, with_lsn=False
):
    """One bucket's row state: projected files (system columns always
    read — merge-written base files hold hidden tombstone rows),
    LWW-folded if the set holds merge-on-read deltas, tombstones
    dropped. ``with_lsn`` keeps tombstones and appends
    each row's winner op/LSN as ``__op``/``__lsn`` — the change-feed
    kernel's out-of-order arbitration input."""
    import pyarrow as pa
    import pyarrow.compute as pc

    have_deltas = any(kind == "delta" for _, _, kind in files)
    tbl = load_projected(root, files, histories, target_fields)
    names = list(out_schema.names)
    schema = out_schema
    if with_lsn:
        names += ["__op", "__lsn"]
        schema = pa.schema(
            list(out_schema)
            + [pa.field("__op", pa.string()), pa.field("__lsn", pa.int64())]
        )
    if have_deltas:
        tbl = lww_winners(tbl, key_cols)
    if not with_lsn:
        tbl = tbl.filter(pc.not_equal(tbl["__op"], "D"))
    return tbl.select(names).cast(schema)


def _read_changes_partition(partition: ChangesPartition):
    """The change rows of one bucket as Arrow batches — exactly the rows
    ``LakeTable.changes`` emits (parity-tested). This kernel only loads
    the two sides (see ``ChangesPartition``); ``classify_changes_arrow``
    turns them into I/U/D rows, with NULL keys matching like any other
    value."""
    import pyarrow as pa

    if not partition.old_files and not partition.new_files:
        return iter(())
    tf, keys = partition.target_fields, partition.key_cols
    state_schema = pa.schema([(name, _arrow_type(t)) for _, name, t, _ in tf])

    def side(files):
        return _load_state(
            partition.root,
            files,
            partition.histories,
            tf,
            keys,
            state_schema,
            with_lsn=partition.mor,
        )

    tbl = classify_changes_arrow(
        side(partition.old_files),
        side(partition.new_files),
        keys,
        range_winners=partition.mor,
    )
    if partition.version is not None:
        tbl = tbl.add_column(
            len(keys) + 1,
            CHANGE_VERSION_COL,
            pa.array([partition.version] * len(tbl), type=pa.int64()),
        )
    return iter(tbl.to_batches(max_chunksize=1 << 16))


# ---------------------------------------------------------------------------
# driver-side planning shared by batch + stream change feeds
# ---------------------------------------------------------------------------


def _pack_files(files):
    return [(f.path, f.schema_version, f.kind) for f in files]


def _plan_changes(
    root: str,
    snap_from: Snapshot,
    snap_to: Snapshot,
    include_version: bool = False,
) -> list[ChangesPartition]:
    """``plan_changes``'s rows (the plan ``LakeTable.changes`` executes
    too) as one change-feed partition per changed bucket."""
    proj, mor, rows = plan_changes(snap_from, snap_to)
    # histories accumulate monotonically: the LATER snapshot covers all
    # schema versions either side's files can carry
    later = max(snap_from, snap_to, key=lambda s: s.version)
    target = _target_fields(proj.schema)
    histories = history_fields(later.schema_history)
    # a scan needs one partition: an empty range plans one empty bucket
    return [
        ChangesPartition(
            bucket=b,
            old_files=_pack_files(old),
            new_files=_pack_files(new),
            mor=mor,
            root=root,
            target_fields=target,
            histories=histories,
            key_cols=list(proj.key_cols),
            version=snap_to.version if include_version else None,
        )
        for b, old, new in rows or [(-1, [], [])]
    ]


# ---------------------------------------------------------------------------
# readers
# ---------------------------------------------------------------------------


# pushed filter class -> ``(column, op, value)`` predicate op
_PUSHED_OPS = {
    EqualTo: "eq",
    GreaterThan: "gt",
    GreaterThanOrEqual: "ge",
    LessThan: "lt",
    LessThanOrEqual: "le",
    In: "in",
    IsNull: "isnull",
    IsNotNull: "notnull",
}


class PanoramaReader(DataSourceReader):
    """State read: the table's committed rows at a snapshot."""

    def __init__(self, root: str, options):
        self.root = root
        log = SnapshotLog(root)
        self._io = log.io  # planning-time metadata IO (bloom sidecars)
        self.snap = log.resolve(options.get("version"), options.get("ref"))
        self.with_deltas = str(options.get("with_deltas", "true")).lower() != "false"
        self._preds: list[tuple[str, str, object]] = []
        try:  # session tz for naive-datetime predicate coercion
            from pyspark.sql import SparkSession

            s = SparkSession.getActiveSession()
            self._session_tz = (
                s.conf.get("spark.sql.session.timeZone") if s else None
            )
        except Exception:
            self._session_tz = None

    # ------------------------------------------------------------ pruning

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        """Collect pushed predicates as ``(column, op, value)`` rows for
        ``plan_state_files`` (key buckets, zone maps, key blooms — the
        planner ``LakeTable.read_where`` runs too). Every filter returns
        *unhandled*: Spark re-applies the full predicate, so pruning can
        never change results."""
        for f in filters:
            op = _PUSHED_OPS.get(type(f))
            if op is None or len(f.attribute) != 1:
                continue
            value = getattr(f, "value", None)
            self._preds.append((f.attribute[0], op, list(value) if op == "in" else value))
        return iter(filters)  # pruning-only: Spark re-applies everything

    # --------------------------------------------------------- planning

    def _plan(self):
        # a naive timestamp normalizes with the session tz, or disables
        # key-hash pruning rather than plan the wrong bucket
        from ..lakehouse.table import plan_state_files

        return plan_state_files(
            self.snap,
            self._preds,
            session_tz=self._session_tz,
            io=self._io,
            root=self.root,
            with_deltas=self.with_deltas,
        )

    def partitions(self) -> list[InputPartition]:
        snap = self.snap
        by_bucket: dict[int, list[tuple[str, int, str]]] = {}
        for f in self._plan().files:
            by_bucket.setdefault(f.bucket, []).append(
                (f.path, f.schema_version, f.kind)
            )
        target = _target_fields(snap.schema)
        histories = history_fields(snap.schema_history)

        def part(bucket: int, files: list[tuple[str, int, str]]) -> BucketPartition:
            return BucketPartition(
                bucket, files, self.root, target, histories, list(snap.key_cols)
            )

        # Partition grain (the 100 TB read-path scale rule): a bucket
        # needs to stay ONE partition only while it holds merge-on-read
        # deltas — the LWW fold requires every row of a key in one task.
        # A delta-free (compacted) bucket's files are independent row
        # sets, so each file becomes its own input partition: scan
        # parallelism is the table's live FILE count, not its bucket
        # count, and a ~6 GB bucket no longer serializes through a
        # single Python task.
        parts: list[InputPartition] = []
        for b, fs in sorted(by_bucket.items()):
            if any(kind == "delta" for _path, _sv, kind in fs):
                parts.append(part(b, fs))
            else:
                parts.extend(part(b, [f]) for f in fs)
        # an empty table still needs one (empty) partition
        return parts or [part(-1, [])]

    def __getstate__(self):
        # the reader is pickled to every task; read() consumes only the
        # partition payload, so don't ship the snapshot/manifest cache
        state = dict(self.__dict__)
        state["snap"] = None
        state["_io"] = None
        return state

    # ------------------------------------------------------------- read

    def read(self, partition: BucketPartition):
        import pyarrow as pa

        tf = partition.target_fields
        out_schema = pa.schema([(name, _arrow_type(t)) for _, name, t, _ in tf])
        if not partition.files:
            return iter(())
        tbl = _load_state(
            partition.root,
            partition.files,
            partition.histories,
            tf,
            partition.key_cols,
            out_schema,
        )
        return iter(tbl.to_batches(max_chunksize=1 << 16))


class PanoramaChangesReader(DataSourceReader):
    """Batch change feed: ``.option("changes_from", v)`` — the I/U/D
    rows between two snapshots, ``LakeTable.changes`` parity."""

    def __init__(self, root: str, options):
        self.root = root
        log = SnapshotLog(root)
        self.snap_from = log.resolve(options.get("changes_from"))
        self.snap_to = log.resolve(options.get("changes_to"))
        self.include_version = (
            str(options.get("include_version", "false")).lower() == "true"
        )

    def partitions(self) -> list[InputPartition]:
        return _plan_changes(
            self.root, self.snap_from, self.snap_to, self.include_version
        )

    def __getstate__(self):
        state = dict(self.__dict__)
        state["snap_from"] = state["snap_to"] = None
        return state

    def read(self, partition: ChangesPartition):
        return _read_changes_partition(partition)


class PanoramaStreamReader(DataSourceStreamReader):
    """Streaming change feed: offsets are snapshot versions; each
    micro-batch emits ``changes(start, end)`` with the same bucket-local
    kernel as the batch feed. Exactly-once downstream comes from Spark's
    offset checkpointing; this source is deterministic per (start, end)
    because snapshots and data files are immutable."""

    def __init__(self, root: str, options):
        self.root = root
        self.log = SnapshotLog(root)
        if not self.log.exists():
            raise FileNotFoundError(f"no lake table at {root}")
        self.starting_version = options.get("starting_version")
        self.include_version = (
            str(options.get("include_version", "false")).lower() == "true"
        )

    def initialOffset(self) -> dict:
        if self.starting_version is not None:
            return {"version": int(self.starting_version)}
        v = self.log.current_version()
        assert v is not None
        return {"version": v}  # forward-only by default (Delta CDF model)

    def latestOffset(self) -> dict:
        v = self.log.current_version()
        assert v is not None
        return {"version": v}

    def partitions(self, start: dict, end: dict):
        v0, v1 = int(start["version"]), int(end["version"])
        snap_to = self.log.resolve(v1)
        snap_from = snap_to if v0 >= v1 else self.log.resolve(v0)
        return _plan_changes(self.root, snap_from, snap_to, self.include_version)

    def read(self, partition: ChangesPartition):
        return _read_changes_partition(partition)

    def commit(self, end: dict) -> None:
        pass  # snapshots are immutable; retention is expire_snapshots'

    def __getstate__(self):
        state = dict(self.__dict__)
        state["log"] = None  # read() uses only the partition payload
        return state


# ---------------------------------------------------------------------------
# writers — the lake table as a Spark sink
# ---------------------------------------------------------------------------


@dataclass
class PanoramaWriteResult(WriterCommitMessage):
    """One task's written files: (rel_path, bucket, rows, stats_json),
    and the bucket count and schema version it wrote them under."""

    files: list
    n_buckets: int
    schema_version: int
    max_lsn: int | None = None


def _writer_plan(root: str, input_names: list[str], *, delta: bool, options):
    """Driver-side prep shared by both writers: resolve the snapshot,
    validate the incoming column set and the key types, pick the
    attempt dir. Everything a write task needs rides in the plan."""
    import uuid

    import pyarrow as pa

    from ..lakehouse.table import _stat_columns

    log = SnapshotLog(root)
    snap = log.read_current()
    if snap is None:
        raise FileNotFoundError(
            f"no lake table at {root} — create it first (LakeTable.create)"
        )
    expected = list(snap.schema.names)
    op_col = options.get("op_col", "op")
    lsn_col = options.get("lsn_col", "lsn")
    if delta:
        expected = expected + [op_col, lsn_col]
    if sorted(input_names) != sorted(expected):
        raise ValueError(
            f"write schema mismatch: table {root} expects columns "
            f"{sorted(expected)}, got {sorted(input_names)}"
        )
    key_types = [snap.schema.field_by_name(k).type for k in snap.key_cols]
    for k, t in zip(snap.key_cols, key_types):
        if t not in SUPPORTED_TYPES:
            raise ValueError(
                f"cannot write to {root} through format('panorama'): key column "
                f"{k!r} has type {t}, and the writer buckets keys with Spark's "
                f"Murmur3 over {sorted(SUPPORTED_TYPES)} only"
            )
    names = list(snap.schema.names) + ["__op", "__lsn"]
    return {
        "root": root,
        "rel_dir": f"data/w-{uuid.uuid4().hex[:16]}",
        "names": names,
        "arrow_schema": pa.schema(
            [(f.name, _arrow_type(f.type)) for f in snap.schema.fields]
            + [("__op", pa.string()), ("__lsn", pa.int64())]
        ),
        "stat_cols": _stat_columns(snap, names),
        "key_cols": list(snap.key_cols),
        "key_types": key_types,
        "n_buckets": snap.n_buckets,
        "system": {op_col: "__op", lsn_col: "__lsn"} if delta else None,
        "schema_version": snap.schema.schema_version,
    }


def _write_task(plan: dict, batches) -> PanoramaWriteResult:
    """Executor side of both writers: give the input the columns the
    table's task writer expects and hand it over (``_task_write_fn``,
    the writer ``write_bucket_files`` uses — same files, zone maps and
    bloom sidecars). Only three steps are the data source's own: the
    change columns become ``__op``/``__lsn`` (or rows land as
    ``'E'``/-1, a plain append), rows cast to the file schema, and the
    epoch's max LSN is tracked. ``__bucket``/``__kh`` come from the
    vectorized Murmur3, bit-for-bit ``F.hash``: Spark cannot hand a
    Python data source a pre-bucketed distribution, so each task may
    write one file per bucket it sees."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from ..functions.murmur import hash_columns
    from ..lakehouse.table import BUCKET_COL, _task_write_fn

    schema, system = plan["arrow_schema"], plan["system"]
    max_lsn = None

    def bucketed():
        nonlocal max_lsn
        for rb in batches:
            if rb.num_rows == 0:
                continue
            tbl = pa.Table.from_batches([rb])
            if system:
                tbl = tbl.rename_columns([system.get(n, n) for n in tbl.column_names])
            else:
                tbl = tbl.append_column("__op", pa.repeat("E", len(tbl)))
                tbl = tbl.append_column("__lsn", pa.repeat(pa.scalar(-1, pa.int64()), len(tbl)))
            tbl = tbl.select(schema.names).cast(schema)
            if system:
                m = pc.max(tbl["__lsn"]).as_py()
                if m is not None:
                    max_lsn = m if max_lsn is None else max(max_lsn, m)
            kh = hash_columns([tbl[k] for k in plan["key_cols"]], plan["key_types"])
            tbl = tbl.append_column(
                BUCKET_COL, pa.array((kh.astype(np.int64) % plan["n_buckets"]).astype(np.int32))
            ).append_column("__kh", pa.array(kh))
            yield from tbl.to_batches()

    write = _task_write_fn(
        os.path.join(plan["root"], plan["rel_dir"]),
        plan["rel_dir"],
        plan["names"],
        schema,
        stat_cols=plan["stat_cols"],
        bloom_col="__kh",
    )
    files = [
        (r["path"], r["bucket"], r["rows"], r["stats"])
        for manifest in write(bucketed())
        for r in manifest.to_pylist()
    ]
    return PanoramaWriteResult(files, plan["n_buckets"], plan["schema_version"], max_lsn)


def _commit_messages(root: str, messages, *, overwrite=False, batch_id=None) -> None:
    """Commit the files the write tasks reported onto the current
    snapshot. Files bucketed for another bucket count raise
    ``CommitConflict``; each file keeps its task's schema version. A
    sink epoch (``batch_id``) lands deltas through ``commit_or_skip``,
    checkpointing its max LSN; a batch write lands base files and
    retries through ``_rebase``."""
    import json

    from pyspark.sql import SparkSession

    from ..lakehouse.snapshot import CommitConflict, DataFile
    from ..lakehouse.table import LakeTable

    msgs = [m for m in messages if m is not None]
    if not overwrite and not any(m.files for m in msgs):
        return
    table = LakeTable(SparkSession.getActiveSession(), root)
    snap = table.snapshot
    stale = {m.n_buckets for m in msgs} - {snap.n_buckets}
    if stale:
        raise CommitConflict(
            f"write tasks bucketed rows for {sorted(stale)} buckets, but {root} "
            f"has {snap.n_buckets} now (a rebucket landed): rerun the write"
        )
    files = [
        DataFile(
            path,
            int(b),
            int(rows),
            m.schema_version,
            "base" if batch_id is None else "delta",
            json.loads(stats) if stats else None,
        )
        for m in msgs
        for path, b, rows, stats in m.files
    ]
    if batch_id is not None:
        lsns = [m.max_lsn for m in msgs if m.max_lsn is not None]
        table.commit_or_skip(
            snap, set(), files, batch_id=batch_id, last_lsn=max(lsns) if lsns else None
        )
    else:
        replaced = set(range(snap.n_buckets)) if overwrite else set()
        table.commit_replace_buckets(snap, replaced, files, retry_on_conflict=True)


def _abort_cleanup(root: str, messages) -> None:
    """Delete the files and ``.bloom`` sidecars the tasks reported — never
    the writer's directory, which holds earlier committed epochs. Files
    of tasks that failed before reporting are ``vacuum``'s."""
    from contextlib import suppress

    for m in filter(None, messages):
        for path, *_ in m.files:
            for p in (path, path + ".bloom"):
                with suppress(FileNotFoundError):
                    os.remove(os.path.join(root, p))


class PanoramaWriter(DataSourceArrowWriter):
    """Batch write: ``df.write.format("panorama").mode("append"|
    "overwrite").save(root)``. Tasks write bucket-hashed parquet with
    zone maps and bloom sidecars through the table's task writer
    (``_write_task``) into a per-attempt unique dir; the driver commits
    one atomic snapshot (append adds files; overwrite swaps every live
    bucket — the reference's wholesale re-upload landing,
    ``panorama_datalake.py:215-258``, at snapshot grain). A failed job
    aborts without a visible change; leftover files are vacuum's."""

    def __init__(self, root: str, options, overwrite: bool, input_names: list[str]):
        self.overwrite = overwrite
        self.plan = _writer_plan(root, input_names, delta=False, options=options)

    def write(self, iterator):
        return _write_task(self.plan, iterator)

    def commit(self, messages):
        _commit_messages(self.plan["root"], messages, overwrite=self.overwrite)

    def abort(self, messages):
        _abort_cleanup(self.plan["root"], messages)


class PanoramaStreamSink(DataSourceStreamArrowWriter):
    """Streaming upsert sink: ``writeStream.format("panorama")`` over a
    change-event stream (table columns + ``op``/``lsn``; rename via
    ``.option("op_col"/"lsn_col", ...)``).

    Each epoch's rows land as merge-on-read *delta* files — no shuffle,
    no read of the resident table, per-epoch cost O(epoch) — and one
    atomic snapshot commit publishes them; readers LWW-fold winners per
    key and drop delete markers exactly as ``append_delta`` merges
    (``cdc/merge.py``), and ``compact()`` folds deltas down on any
    schedule. Exactly-once: the commit registers a deterministic batch
    id ``pansink:{sink_id}:{epoch}``, so a replayed epoch after a crash
    resolves to the idempotent skip; a distinct ``sink_id`` option
    namespaces multiple streams into one table. The epoch's max LSN
    moves the table's checkpoint (never backwards), so sinks that carry
    LSNs into one table conflict like two tails (``LakeTable._rebase``).
    Combined with the
    streaming change feed this closes the loop: lake → readStream →
    transform → writeStream → lake is end-to-end exactly-once in pure
    ``spark.readStream/writeStream`` API. Spark commits and aborts on a
    fresh ``streamWriter()`` instance, so both trust only the root and
    the messages."""

    def __init__(self, root: str, options, overwrite: bool, input_names: list[str]):
        if overwrite:
            raise ValueError(
                "the panorama streaming sink is append/upsert-only "
                "(outputMode('append')); complete mode is not supported"
            )
        self.root = root
        self.sink_id = options.get("sink_id", "default")
        self._plan_args = (input_names, options)

    @cached_property
    def plan(self) -> dict:
        """Made (and the input columns checked against the table) on
        first use: by the instance Spark ships to the write tasks
        (``__getstate__``), never by the commit and abort instances,
        which an ALTER since the tasks ran would otherwise fail."""
        input_names, options = self._plan_args
        return _writer_plan(self.root, input_names, delta=True, options=options)

    def __getstate__(self):
        # the tasks get a plan checked on the driver before any file is written
        return {**self.__dict__, "plan": self.plan}

    def write(self, iterator):
        return _write_task(self.plan, iterator)

    def commit(self, messages, batchId: int) -> None:
        _commit_messages(
            self.root, messages, batch_id=f"pansink:{self.sink_id}:{batchId}"
        )

    def abort(self, messages, batchId: int) -> None:
        _abort_cleanup(self.root, messages)


# ---------------------------------------------------------------------------
# the data source
# ---------------------------------------------------------------------------


class PanoramaDataSource(DataSource):
    """``format("panorama")``: read a lake table root as a DataFrame.

    Register once per session (``spark.dataSource.register``, or
    ``catalog.register_data_source``). Options select the surface:
    none/``version`` → state read; ``changes_from``/``changes_to`` →
    batch change feed; ``change_feed=true`` (readStream) → streaming
    change feed.
    """

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def _root(self) -> str:
        path = self.options.get("path")
        if not path:
            raise ValueError(
                "format('panorama') needs a table root: .load('/path/to/table')"
            )
        # SQL DDL (CREATE TABLE ... USING panorama) hands the location
        # back as a file: URI; the FileIO layer works on plain paths
        if path.startswith("file:"):
            from urllib.parse import unquote, urlparse

            parsed = urlparse(path)
            path = unquote(parsed.path)
        return path

    def _is_feed(self) -> bool:
        return (
            self.options.get("changes_from") is not None
            or str(self.options.get("change_feed", "false")).lower() == "true"
        )

    def schema(self) -> StructType:
        log = SnapshotLog(self._root())
        snap = log.resolve(self.options.get("version"), self.options.get("ref"))
        if self._is_feed():
            # the batch feed projects onto the newer of its two ends, as
            # _plan_changes does; the stream pins the current schema
            from_v = self.options.get("changes_from")
            proj = snap
            if from_v is not None:
                to_v = self.options.get("changes_to")
                snap_to = snap if to_v is None else log.resolve(to_v)
                proj = newer_schema(log.resolve(from_v), snap_to)
            keys = list(proj.key_cols)
            struct = proj.schema.to_struct()
            version_field = (
                [StructField(CHANGE_VERSION_COL, LongType())]
                if str(self.options.get("include_version", "false")).lower() == "true"
                else []
            )
            return StructType(
                [f for f in struct.fields if f.name in keys]
                + [StructField(CHANGE_OP_COL, StringType())]
                + version_field
                + [f for f in struct.fields if f.name not in keys]
            )
        return snap.schema.to_struct()

    def reader(self, schema: StructType) -> DataSourceReader:
        if self.options.get("changes_from") is not None:
            return PanoramaChangesReader(self._root(), self.options)
        return PanoramaReader(self._root(), self.options)

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        if not self._is_feed():
            raise ValueError(
                "streaming a panorama table means streaming its change feed: "
                "add .option('change_feed', 'true') so the stream's schema "
                "is the feed schema (keys, change_op, payload)"
            )
        return PanoramaStreamReader(self._root(), self.options)

    def writer(self, schema: StructType, overwrite: bool):
        return PanoramaWriter(
            self._root(), self.options, overwrite, list(schema.fieldNames())
        )

    def streamWriter(self, schema: StructType, overwrite: bool):
        return PanoramaStreamSink(
            self._root(), self.options, overwrite, list(schema.fieldNames())
        )
