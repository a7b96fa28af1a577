"""Checkpointed, resumable CDC replay: change log → lake table state.

The driver loop that generalizes the reference's
``extract-and-load --all`` lifecycle (``panorama_elt.py:101-146`` →
``mysql_datasource.py:226-311``): instead of a wall-clock lookback
interval rediscovering changed partitions (``mysql_datasource.py:258-272``),
batches are **aligned LSN ranges** — batch k covers
``[k*batch_size, (k+1)*batch_size)`` — so batch identity is
deterministic (``b{k}@{batch_size}``; the replacement for the Athena
ClientRequestToken uuid4, ``panorama_datalake.py:117``) and replay after
a crash re-derives exactly the same batches, which the exactly-once
guard in ``merge_batch`` then skips or applies.

Schema evolution (SURVEY.md §7.2(6), §7.4(4)): each event carries a
``schema_version``; the engine holds a registry of versioned schemas
(the descendant of the reference's per-table field-mapping YAML).
Before a batch whose max event version exceeds the table's, the
catalog-diff emits ALTERs (metadata-only); events of older versions are
conformed to the current schema column-wise (rename-aware by field id,
missing columns backfilled with their declared default — the reference's
constant-column ``value:`` semantics, ``mysql_datasource.py:194-202``).
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field as dc_field

from pyspark.sql import DataFrame, functions as F

from ..lakehouse.schema import TableSchema, diff_schemas, spark_type
from ..lakehouse.table import LakeTable
from .merge import BatchStats, MergeStats, batch_events, compute_batch_stats, merge_batch


@dataclass
class ReplayReport:
    batches: list[MergeStats] = dc_field(default_factory=list)
    events_read: int = 0
    wall_secs: float = 0.0

    @property
    def events_per_sec(self) -> float:
        return self.events_read / self.wall_secs if self.wall_secs > 0 else 0.0


def conform_batch(
    df: DataFrame,
    target: TableSchema,
    registry: dict[int, TableSchema],
    version_col: str = "schema_version",
    passthrough: tuple[str, ...] = ("lsn", "op"),
) -> DataFrame:
    """Map a mixed-schema-version event batch onto ``target``'s columns.

    For each target field (by field id), pick the source column that held
    it under each event's schema version; events predating the field get
    its declared default. Pure column expressions — one projection, no
    per-version splitting of the batch.

    Expression depth is O(len(registry)) nested ``when`` branches per
    field — fine for realistic version counts (tens), but a registry
    with thousands of versions would build pathological expression
    trees; cap the live registry to the versions a batch can actually
    contain (Catalyst's nested-when analysis is quadratic-ish in depth).
    """
    cols = [F.col(c) for c in passthrough if c in df.columns]
    versions = sorted(registry)
    for fld in target.fields:
        expr = F.lit(fld.default).cast(spark_type(fld.type))
        for v in versions:
            src = registry[v].field_by_id(fld.id)
            if src is None or src.name not in df.columns:
                continue
            expr = F.when(
                F.col(version_col) == v,
                F.col(src.name).cast(spark_type(fld.type)),
            ).otherwise(expr)
        cols.append(expr.alias(fld.name))
    return df.select(*cols)


class CdcEngine:
    def __init__(
        self,
        table: LakeTable,
        schema_registry: dict[int, TableSchema] | None = None,
        strategy: str = "auto",
        compact_every: int | None = None,
        compact_async: bool = False,
    ):
        self.table = table
        self.registry = schema_registry or {}
        # "auto" | "fused" | "bucket_local" | "append_delta" — merge.py doc
        self.strategy = strategy
        # merge-on-read housekeeping: fold deltas into base files after
        # every N applied batches (None = compact manually). Read cost is
        # one LWW fold per uncompacted delta train, so N bounds read
        # amplification; the compaction itself is an ordinary snapshot
        # commit (readers never block).
        self.compact_every = compact_every
        # compact on a background thread instead of stalling the replay
        # loop (Hudi async compaction): merges keep appending deltas
        # while the fold runs; the two commit streams reconcile via the
        # optimistic rebase (LakeTable._rebase — the compaction carries
        # concurrently-landed deltas forward, the merge re-targets the
        # compacted parent). Sound only for the merge-on-read strategy:
        # fused/bucket_local merges *replace* bucket files, which a
        # concurrent compaction would invalidate (a real conflict).
        if compact_async and strategy != "append_delta":
            raise ValueError(
                "compact_async requires strategy='append_delta' — "
                "bucket-replacing merges genuinely conflict with a "
                "concurrent compaction"
            )
        self.compact_async = compact_async
        self._applied_since_compact = 0
        self._compact_pool = None
        self._compact_fut = None
        self._compact_table = None

    def _maybe_compact(self) -> None:
        if not self.compact_async:
            self.table.compact()
            return
        if self._compact_fut is not None:
            if not self._compact_fut.done():
                # one fold in flight is the backlog bound: skip this
                # cycle rather than queueing folds behind each other
                return
            self._compact_fut.result()  # surface a failed fold
        if self._compact_pool is None:
            self._compact_pool = ThreadPoolExecutor(
                max_workers=1, thread_name_prefix="cdc-compact"
            )
        if self._compact_table is None:
            from ..lakehouse.table import LakeTable

            # the fold runs on a CLONED SparkSession (same SparkContext,
            # isolated SQLConf): its conf pinning (arrow write-batch
            # size) can then never interleave with the merge thread's
            # pinned-shuffle window on the main session — the conf-leak
            # race the per-session lock cannot cover across threads that
            # would otherwise share one session. State is on disk (the
            # snapshot log), so both handles see the same table.
            self._compact_table = LakeTable(
                self.table.spark.newSession(), self.table.root, self.table.io
            )
        self._compact_fut = self._compact_pool.submit(self._compact_table.compact)

    def finish_compactions(self) -> None:
        """Join the in-flight background compaction, surfacing its
        outcome. Called at replay end and before any schema ALTER (a
        fold built on the pre-ALTER schema epoch could not rebase)."""
        if self._compact_fut is not None:
            fut, self._compact_fut = self._compact_fut, None
            fut.result()

    def _evolve_to(self, version: int) -> None:
        """Catalog-diff + ALTER up to ``version`` (gated: lands before the
        first batch whose events assume it)."""
        self.finish_compactions()
        cur = self.table.snapshot.schema
        for v in sorted(self.registry):
            if v <= cur.schema_version or v > version:
                continue
            target = self.registry[v]
            ops = diff_schemas(cur, target)
            for op in ops:
                # surfaced for lineage/debugging; the snapshot commit is the DDL
                print(f"[schema-evolution] v{cur.schema_version}->v{v}: {op.describe()}")
            self.table.alter_schema(target)
            cur = target

    _UNKNOWN = object()  # sentinel: max schema version not precomputed

    def apply_batch(
        self,
        batch_df: DataFrame,
        batch_id: str,
        stats: BatchStats | None = None,
        max_schema_version=_UNKNOWN,
    ) -> MergeStats:
        """Apply one batch. ``max_schema_version`` (the batch's highest
        event schema version) can be precomputed by ``replay``'s single
        upfront pass, removing the per-batch driver probe; ``stats``
        computed ahead of time are validated against the schema version
        actually current after evolution — mismatched stats are released
        and recomputed inside the merge, never silently applied."""
        snap = self.table.snapshot
        if self.registry:
            max_v = (
                batch_df.agg(F.max("schema_version")).collect()[0][0]
                if max_schema_version is self._UNKNOWN
                else max_schema_version
            )
            if max_v is not None and max_v > snap.schema.schema_version:
                self._evolve_to(int(max_v))
            current = self.table.snapshot.schema
            batch_df = conform_batch(batch_df, current, self.registry)
            if stats is not None and stats.schema_version != current.schema_version:
                stats.per_key.unpersist()
                stats = None
        elif stats is not None and stats.schema_version is not None:
            stats.per_key.unpersist()
            raise ValueError(
                "stats were conformed to a registry schema but the engine "
                "has no registry — refusing to apply mismatched statistics"
            )
        return merge_batch(
            self.table,
            batch_df,
            batch_id,
            strategy=self.strategy,
            stats=stats,
        )

    def replay(
        self,
        log_df: DataFrame,
        batch_size: int,
        max_lsn: int | None = None,
        lsn_col: str = "lsn",
    ) -> ReplayReport:
        """Tail the log from the table's checkpoint to ``max_lsn`` in
        aligned batches. Resumable: killing the process between batches
        and calling replay() again converges to the identical state.

        **Stats prefetch.** A batch's slim stats aggregate ends in a
        driver collect — a per-batch fixed cost that does not shrink
        with executors. Batch stats depend only on the batch's own LSN
        range of the log, never on table state, so batch k+1's stats
        job runs on a background thread while batch k's merge job
        writes; the serial path per batch is one merge job + one
        commit. Concurrent Spark jobs from two threads share the
        context safely (separate job groups in the FIFO scheduler).
        Produces the byte-identical state of a loop of ``apply_batch``
        calls without stats — the prefetched aggregate is the exact
        same plan over the exact same rows.

        **Prefetch under schema evolution.** With a registry, each
        batch's max event schema version is computed once upfront (one
        slim job replacing the per-batch driver probes), which makes
        the whole evolution schedule known ahead: the prefetch thread
        conforms batch k+1 to the schema the table WILL have when k+1
        applies and stamps the stats with that version. ``apply_batch``
        re-validates the stamp against the actual post-ALTER schema —
        a mispredicted epoch discards the stats (correctness never
        rides on the prediction), but between ALTER boundaries the
        prefetch stays on instead of being disabled wholesale.
        """
        t0 = time.monotonic()
        report = ReplayReport()
        # without evolution the schema/keys/buckets are constant across
        # the replay — capture once so the prefetch thread never races a
        # snapshot commit; key column NAMES are stable across epochs
        # (key fields are never renamed mid-stream)
        snap0 = self.table.snapshot
        start_lsn = snap0.last_lsn + 1
        k0 = start_lsn // batch_size

        def batch_for(k: int) -> DataFrame:
            lo, hi = k * batch_size, (k + 1) * batch_size - 1
            return log_df.filter((F.col(lsn_col) >= lo) & (F.col(lsn_col) <= hi))

        # one upfront pass over the log: per-batch max schema version →
        # the evolution schedule (replaces a per-batch agg+collect)
        batch_max_v: dict[int, int] = {}
        if self.registry and "schema_version" in log_df.columns:
            rows = (
                log_df.filter(F.col(lsn_col) >= start_lsn)
                .groupBy(F.floor(F.col(lsn_col) / batch_size).alias("__k"))
                .agg(F.max("schema_version").alias("__v"))
                .collect()
            )
            batch_max_v = {int(r["__k"]): int(r["__v"]) for r in rows if r["__v"] is not None}

        def schema_at(version: int) -> TableSchema | None:
            if version == snap0.schema.schema_version:
                return snap0.schema
            return self.registry.get(version)

        def stats_for(k: int, sched_v: int) -> BatchStats | None:
            batch = batch_for(k)
            target = snap0
            stamp = None
            if self.registry:
                target_schema = schema_at(sched_v)
                if target_schema is None:
                    return None  # unpredictable epoch: recompute at apply
                from types import SimpleNamespace

                batch = conform_batch(batch, target_schema, self.registry)
                target = SimpleNamespace(
                    key_cols=snap0.key_cols,
                    n_buckets=snap0.n_buckets,
                    schema=target_schema,
                )
                stamp = target_schema.schema_version
            stats = compute_batch_stats(
                batch_events(batch, target, lsn_col=lsn_col),
                target,
                lsn_col=lsn_col,
                # aligned LSN ranges bound a batch at ~batch_size rows
                # (plus the duplicate fraction) — below SMALL_BATCH_ROWS
                # the per_key cache is skipped (merge.py)
                size_hint_rows=batch_size,
            )
            stats.schema_version = stamp
            return stats

        sched_v = snap0.schema.schema_version  # predicted version as batches apply
        pool = ThreadPoolExecutor(max_workers=1, thread_name_prefix="cdc-stats-prefetch")
        # prime the FIRST batch's stats now, so they overlap the
        # max-lsn probe below — otherwise batch 0's stats are the
        # one remaining serial stats job of the replay
        fut = pool.submit(stats_for, k0, max(sched_v, batch_max_v.get(k0, sched_v)))
        try:
            if max_lsn is None:
                max_lsn = log_df.agg(F.max(lsn_col)).collect()[0][0]
                if max_lsn is None:
                    return report
            ks = list(range(k0, max_lsn // batch_size + 1))
            for i, k in enumerate(ks):
                lo, hi = k * batch_size, (k + 1) * batch_size - 1
                batch_id = f"b{k}@{batch_size}"
                stats, fut = fut.result(), None
                sched_v = max(sched_v, batch_max_v.get(k, sched_v))
                if i + 1 < len(ks):
                    nk = ks[i + 1]
                    fut = pool.submit(
                        stats_for, nk, max(sched_v, batch_max_v.get(nk, sched_v))
                    )
                mstats = self.apply_batch(
                    batch_for(k),
                    batch_id,
                    stats,
                    max_schema_version=batch_max_v.get(k) if self.registry else None,
                )
                report.batches.append(mstats)
                if not mstats.skipped:
                    report.events_read += min(hi, max_lsn) - max(lo, start_lsn) + 1
                    self._applied_since_compact += 1
                    if (
                        self.compact_every
                        and self._applied_since_compact >= self.compact_every
                    ):
                        self._maybe_compact()
                        self._applied_since_compact = 0
        finally:
            import sys

            # checked BEFORE the join: inside the nested except,
            # exc_info would report the fold failure itself
            unwinding = sys.exc_info()[0] is not None
            try:
                self.finish_compactions()
            except Exception:
                # surface a failed background fold — unless the loop is
                # already unwinding with its own exception (never mask it)
                if not unwinding:
                    raise
            if fut is not None:
                # a merge failure mid-loop must not leak the in-flight
                # prefetch's cached aggregate
                try:
                    fut.result().per_key.unpersist()
                except Exception:
                    pass
            pool.shutdown(wait=True)
        report.wall_secs = time.monotonic() - t0
        return report
