"""MERGE INTO for the bucketed lake table (copy-on-write, exactly-once).

Semantics (the reference's upsert primitive generalized to row grain,
``panorama_datalake.py:215-258``):

    WHEN MATCHED AND op='D' THEN DELETE
    WHEN MATCHED            THEN UPDATE *
    WHEN NOT MATCHED AND op<>'D' THEN INSERT *

Physical plan — ONE shuffle per batch, tuned for 10^10-event scale:

1. **Fused dedup+merge aggregate.** The affected buckets' base AND
   merge-on-read delta files, read unfolded at their stored
   ``__op``/``__lsn``, are unioned with the raw batch events, then ONE
   ``lww_fold`` (``lakehouse/fold.py``: ``groupBy(keys).agg(max_by(
   payload, lsn))``) resolves duplicates, update chains, uncompacted
   deltas AND the merge match in one operator: the max-LSN row per key
   wins; a delete winner stays as a hidden tombstone row; a resident
   row no event outranks survives unchanged. LWW by max LSN is
   associative, so folding base ∪ deltas ∪ events once equals folding
   the deltas first — without a second exchange.
   ``LakeTable.fold_and_write`` is that fold plus step 2's write, the
   same one compaction uses.
   The hash aggregate gets *map-side partial aggregation*, so a hot key
   collapses to ≤ one row per map partition before the exchange — the
   built-in answer to key skew (no join ever sees the raw event stream).
0. **Winner prefilter (late materialization).** When the batch shows
   significant key duplication (update chains), the LWW winner LSN per
   key is resolved first on a *slim* (keys, lsn) aggregate — ~1% of the
   bytes — and broadcast back as a filter, so only winning rows' wide
   payloads enter the exchange of step 1. Measured: ~8× shuffle-byte
   reduction; with the fused stats aggregate (one cached per-key pass
   serving pruning, lineage and the winner set) replay throughput rose
   398k → 764k ev/s on the round-1 bench config.
   Skipped automatically when the winner set exceeds the broadcast
   budget: the broadcast carries fixed 64-bit key *fingerprints*, so
   the budget is n_keys × ~32 B regardless of key width
   (``PANORAMA_PREFILTER_MAX_BYTES``, default 128 MB = 4M keys; ``0``
   disables the prefilter) — or when duplication is < 2×, or the batch
   is below ``SMALL_BATCH_ROWS``. ``plan_batch`` makes this call, and
   the strategy choice below, once per batch. The prefilter join is
   null-safe (NULL is a valid key value), so every strategy sees the
   same event set.
0b. **Stats off the critical path.** The slim per-key aggregate ends in
   a driver ``collect`` barrier — a *fixed cost per batch* that does
   not shrink with executors (measured: under ``local-cluster[1→4]``
   the engine captured 1.68× of the ceiling's 2.51× speedup; the
   residual was exactly these per-batch constants). Batch stats depend
   only on the batch's own events, never on table state, so
   ``CdcEngine.replay`` computes batch k+1's stats concurrently with
   batch k's merge+write (``compute_batch_stats`` + the ``stats=``
   parameter below): the serial path per batch is one merge job + one
   commit; the stats job overlaps the previous write.
2. **Exchange = bucket layout.** The aggregate's exchange is forced to
   ``n_buckets`` partitions with AQE coalescing off, so shuffle
   partition id == ``pmod(hash(keys), n_buckets)`` == storage bucket id
   (``bucket_expr`` uses the same Murmur3 family as HashPartitioning).
   The write then emits exactly one file per touched bucket with **no
   further shuffle**.
3. **Bucket pruning**: only buckets named by the batch's keys are read
   and rewritten; a batch touching k of n buckets costs O(k/n) of the
   table.
4. Commit is one atomic snapshot swap carrying data files + checkpoint
   LSN + batch id + per-bucket lineage (exactly-once: a replayed
   ``batch_id`` is detected in the snapshot and skipped).

Second physical strategy — **bucket-local merge** (``strategy=
"bucket_local"``, auto-selected when the resident side outweighs the
batch): only the *events* go through the dedup exchange; resident rows
never enter a shuffle. Because the dedup exchange is pinned to the
bucket layout, task i holds exactly the deduped events of bucket i, so
a vectorized ``mapInArrow`` stage reads bucket i's parquet file(s)
directly inside the task — projected by field id, deltas included —
and folds them with the events through ``lww_winners``, the Arrow form
of the same fold (zero per-row Python). At steady state a CDC table is
orders of magnitude larger than a batch, so not shuffling the resident
side is the dominant saving; with 1000 executors it also removes the
all-to-all resident exchange entirely.

Third strategy — **merge-on-read** (``strategy="append_delta"``): the
deduped batch is appended as *delta* files (schema + ``__op``/``__lsn``)
through the same pinned bucket exchange; the resident table is neither
read nor rewritten, so a batch costs O(batch) regardless of how many
buckets it touches — the write-optimized mode for high-frequency small
batches. Readers fold deltas with one LWW aggregate
(``LakeTable.read``); ``LakeTable.compact()`` folds them into base
files through the same fold-and-write. Copy-on-write (fused/
bucket_local) stays the read-optimized default.

Ordering note: every strategy resolves cross-batch collisions by TRUE
global LSN order. Every data file persists each row's ``__op`` and
``__lsn`` (the winner's for merge output, -1 for plain appends, which
every event outranks); resident rows enter the CoW fold at that stored
LSN, and merge-on-read keeps real LSNs in the delta files and folds
base rows in at their stored LSN at read time. Batches may therefore
arrive with overlapping LSN ranges — the streaming tail's multi-epoch
file splits do — and the final state is the same LWW answer the aligned
``CdcEngine.replay`` contract produces.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from ..lakehouse import table as _table
from ..lakehouse.fold import lww_fold
from ..lakehouse.table import (
    LakeTable,
    _pinned_shuffle,
    bucket_expr,
    root_is_shared_posix,
)

# the exactly-once commit lives next to the rebase rule it relies on
commit_or_skip = LakeTable.commit_or_skip


@dataclass
class MergeStats:
    batch_id: str
    skipped: bool
    rows_in: int = 0
    keys_in_batch: int = 0
    rows_upserted: int = 0
    rows_deleted: int = 0
    buckets_touched: int = 0
    snapshot_version: int = -1
    strategy: str = ""  # resolved strategy (fused/bucket_local/append_delta)


_STRATEGIES = {"auto", "fused", "bucket_local", "append_delta"}


@dataclass
class BatchStats:
    """Slim per-key/per-bucket statistics of one batch (the three-consumer
    aggregate: pruning, lineage, winner-prefilter set). ``per_key`` is a
    cached DataFrame; whoever consumes the stats must unpersist it
    (``merge_batch`` always does, including on the skipped path).
    ``schema_version`` records the table schema the events were conformed
    to when the stats ran ahead of time (None = no registry in play);
    ``CdcEngine.apply_batch`` discards stats whose version does not match
    the schema actually current at apply time."""

    per_key: DataFrame
    per_bucket: dict
    schema_version: int | None = None


def batch_events(batch_df: DataFrame, snap, op_col: str = "op", lsn_col: str = "lsn") -> DataFrame:
    """The merge's canonical event projection for a batch — shared by
    ``merge_batch`` and the stats prefetch so both sides aggregate the
    exact same rows."""
    keys = snap.key_cols
    payload_cols = [c for c in snap.schema.names if c not in keys]
    return batch_df.select(
        *keys, *payload_cols, F.col(op_col), F.col(lsn_col).cast("long")
    )


def compute_batch_stats(
    events: DataFrame,
    snap,
    op_col: str = "op",
    lsn_col: str = "lsn",
    size_hint_rows: int | None = None,
) -> BatchStats:
    """ONE slim aggregate over (keys, op, lsn) serving three consumers:
    affected-bucket discovery (pruning), per-bucket lineage stats
    (collected: <= n_buckets rows), and — cached — the winner set for
    the prefilter, so the merge job never re-scans the raw batch for
    it. Exact key counts come free (the groupBy is per key anyway).
    ``__winop`` is the *outcome* op per key (the max-LSN event's op), so
    lineage counts outcomes, not raw delete events: a D→U chain is one
    upsert, a multi-D chain is one delete.

    ``size_hint_rows`` (the engine passes its batch size): when the
    batch is below ``SMALL_BATCH_ROWS`` (the prefilter's gate), per_key is left
    UNPERSISTED — nothing will re-read it, and materializing an AQE
    aggregate into the memory store measured ~0.4 s of pure overhead
    per small batch (round-6 guide §1 isolation). Bulk batches keep the
    cache: the prefilter's winner broadcast reads it instead of
    re-scanning the raw batch.

    Depends only on the batch's events — never on table state — so it
    is safe to run ahead of time, overlapped with the previous batch's
    merge job (see ``CdcEngine.replay``).
    """
    keys = snap.key_cols
    cache = size_hint_rows is None or size_hint_rows >= _table.SMALL_BATCH_ROWS
    per_key = events.groupBy(*keys).agg(
        F.max(lsn_col).alias("__maxlsn"),
        F.min(lsn_col).alias("__lsnlo"),
        F.count("*").alias("__cnt"),
        F.max_by(F.col(op_col), F.col(lsn_col)).alias("__winop"),
    )
    if cache:
        per_key = per_key.persist()
    per_bucket = {
        r["__b"]: r
        for r in per_key.groupBy(bucket_expr(keys, snap.n_buckets).alias("__b"))
        .agg(
            F.sum("__cnt").alias("rows_in"),
            F.count("*").alias("keys"),
            F.sum((F.col("__winop") == "D").cast("long")).alias("deletes"),
            F.min("__lsnlo").alias("lsn_lo"),
            F.max("__maxlsn").alias("lsn_hi"),
        )
        .collect()
    }
    return BatchStats(per_key=per_key, per_bucket=per_bucket)


@dataclass(frozen=True)
class BatchPlan:
    """How ``merge_batch`` executes one batch (see ``plan_batch``)."""

    strategy: str  # fused / bucket_local / append_delta
    prefilter: bool  # winner prefilter ahead of the merge exchange
    size_hint_rows: int  # upper bound on output rows, for the writer choice


def plan_batch(
    requested: str,
    *,
    rows_in: int,
    n_keys: int,
    resident_rows: int,
    single_jvm: bool,
    shared_posix: bool,
) -> BatchPlan:
    """The one place the per-batch choices are made, from numbers the
    driver already holds (batch stats, manifest row counts): the merge
    strategy, whether the winner prefilter runs, and the writer's size
    hint. Pure — no Spark — so every rule is unit-testable. An unknown
    ``requested`` strategy raises instead of silently degrading to the
    fused path."""
    if requested not in _STRATEGIES:
        raise ValueError(
            f"unknown merge strategy {requested!r}; expected one of {sorted(_STRATEGIES)}"
        )
    strategy = requested
    if strategy == "auto":
        # bucket_local removes the resident-side exchange — a win only
        # where the exchange crosses executor JVMs. Under plain local[N]
        # the shuffle is an in-memory copy and the Arrow hop costs more
        # (measured 2x slower at 6M resident / 1M batch), so auto picks
        # it only with real executors (incl. local-cluster), a
        # resident-dominated merge, and a root every executor can read
        # as a POSIX path (see table.root_is_shared_posix).
        strategy = (
            "bucket_local"
            if not single_jvm and resident_rows > rows_in and shared_posix
            else "fused"
        )
    # Late materialization (all strategies): when the batch has
    # significant key duplication (CDC update chains — the common case),
    # resolve the LWW winner on a *slim* (keys, lsn) aggregate first,
    # broadcast the winner set, and let only winning rows' wide payloads
    # into the downstream exchange. Shuffle bytes shrink by the dup
    # ratio (~8x measured at the bench's Zipf spec); the slim pre-agg
    # shuffles ~1% of the bytes. Skipped when the winner set is too big
    # to broadcast or there is nothing to collapse. The broadcast
    # budget is *bytes*: the winner set carries fixed 64-bit key
    # fingerprints (xxhash64), so its size is n_keys × ~32 B
    # regardless of key width — a wide composite string key can no
    # longer blow the driver past the budget.
    # The prefilter's fixed cost is one broadcast build + probe per
    # batch (~0.2 s locally); its saving scales with the batch's
    # shuffle bytes, so below ~10^5 rows it is pure overhead —
    # measured round 6: gating it cut ~0.3-0.5 s off every small
    # fixture batch while the 4M-row bench batches keep it (guide
    # §1.2: config thresholds after the algorithm is right)
    max_bytes = int(os.environ.get("PANORAMA_PREFILTER_MAX_BYTES", "128000000"))
    prefilter = (
        0 < n_keys
        and n_keys * 32 <= max_bytes
        and rows_in >= 2 * n_keys
        and rows_in >= _table.SMALL_BATCH_ROWS
    )
    # an upper bound on the output rows: the writer takes the JVM path
    # below SMALL_BATCH_ROWS (write_bucket_files)
    size_hint_rows = n_keys if strategy == "append_delta" else resident_rows + n_keys
    return BatchPlan(strategy, prefilter, size_hint_rows)


def _bucket_local_map_fn(
    root: str,
    bucket_files: dict[int, list[tuple[str, int, str]]],
    key_cols: list[str],
    target_fields: list[tuple[int, str, str, object]],
    histories: dict[int, list[tuple[int, str, str]]],
    arrow_schema,
    max_batch_rows: int = 1 << 16,
):
    """Build the mapInArrow kernel for the bucket-local merge.

    Each input partition carries the LWW-deduped events of exactly one
    bucket (the dedup exchange is pinned to the bucket layout), in
    ``arrow_schema`` plus the bucket id ``__b``. The kernel folds them
    into that bucket in four Arrow steps: load the bucket's files
    projected onto the current schema by field id (merge-on-read deltas
    included), concat the events, keep the LWW winner per key
    (``lww_winners`` — the fused path's ``lww_fold`` in Arrow form, so
    out-of-order batches resolve by true LSN and delete winners stay as
    tombstone rows), and stream the winners back out.
    """

    def fn(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        from panorama_elt_spark.lakehouse.fold import load_projected, lww_winners

        batches = [b for b in batches if b.num_rows]
        if not batches:
            return
        ev = pa.Table.from_batches(batches)
        # partition-layout invariant: one bucket per task (violated only
        # if an exchange re-planned under us — fail loudly, not silently)
        buckets = pc.unique(ev["__b"]).to_pylist()
        if len(buckets) != 1:
            raise RuntimeError("bucket-local merge: mixed buckets in one partition")
        resident = load_projected(
            root, bucket_files.get(buckets[0], []), histories, target_fields
        )
        names = arrow_schema.names
        both = pa.concat_tables(
            [ev.select(names).cast(arrow_schema), resident.select(names).cast(arrow_schema)]
        )
        out = lww_winners(both, key_cols).select(names).cast(arrow_schema)
        yield from out.to_batches(max_chunksize=max_batch_rows)

    return fn


def merge_batch(
    table: LakeTable,
    batch_df: DataFrame,
    batch_id: str,
    *,
    op_col: str = "op",
    lsn_col: str = "lsn",
    strategy: str = "auto",
    stats: BatchStats | None = None,
) -> MergeStats:
    snap = table.snapshot
    if table.is_batch_committed(batch_id, snap):
        # exactly-once guard: deterministic batch id already applied
        if stats is not None:
            stats.per_key.unpersist()
        return MergeStats(batch_id=batch_id, skipped=True, snapshot_version=snap.version)

    keys = snap.key_cols
    payload_cols = [c for c in snap.schema.names if c not in keys]

    events = batch_events(batch_df, snap, op_col, lsn_col)

    if stats is None:
        stats = compute_batch_stats(events, snap, op_col, lsn_col)
    per_key, per_bucket = stats.per_key, stats.per_bucket
    affected = set(per_bucket)
    if not affected:
        per_key.unpersist()
        new_snap, lost_race = table.commit_or_skip(
            snap, set(), [], batch_id=batch_id, lineage_rows=[]
        )
        return MergeStats(
            batch_id=batch_id, skipped=lost_race, snapshot_version=new_snap.version
        )

    # everything below may raise (bad strategy, failed write/commit);
    # the finally guarantees the cached per-key stats never leak
    try:
        # O(touched) metadata: loads only the manifests covering the
        # affected buckets, never the whole table's file inventory
        affected_files = snap.files_in_buckets(affected)
        master = table.spark.sparkContext.master
        plan = plan_batch(
            strategy,
            rows_in=sum(int(r["rows_in"]) for r in per_bucket.values()),
            n_keys=sum(int(r["keys"]) for r in per_bucket.values()),
            resident_rows=sum(f.rows for f in affected_files),
            single_jvm=master == "local" or master.startswith("local["),
            shared_posix=root_is_shared_posix(table.root),
        )
        if plan.prefilter:
            # Fingerprint semi-filter: events keep a row iff
            # (xxhash64(keys), lsn) appears in the winner set. Safe by
            # construction — the downstream max_by re-resolves exactly,
            # so a hash collision only lets a harmless extra row through
            # (and can never drop a winner: its own fingerprint is
            # present). Null-safe: xxhash64 hashes NULL deterministically
            # on both sides, so NULL-keyed events — valid groupBy keys —
            # survive, and the lsn comparison is <=> (a key whose every
            # lsn is NULL keeps its rows and defers to max_by). ~32 B per
            # key beats broadcasting the key columns themselves by the
            # key width, and the probe compares one long, not a composite
            # string tuple.
            kh = F.xxhash64(*[F.col(c) for c in keys])
            winners = per_key.select(  # already cached above
                F.xxhash64(*[F.col(c) for c in keys]).alias("__kh"), "__maxlsn"
            )
            events = (
                events.join(F.broadcast(winners), on=kh == F.col("__kh"))
                .filter(F.col(lsn_col).eqNullSafe(F.col("__maxlsn")))
                .drop("__kh", "__maxlsn")
            )

        events = events.withColumnsRenamed({op_col: "__op", lsn_col: "__lsn"})
        new_version = snap.version + 1
        replaced_buckets = affected
        if plan.strategy == "append_delta":
            # Merge-on-read write path: dedupe the batch (same pinned
            # exchange = bucket layout) and append the winners as *delta*
            # files carrying (__op, __lsn) — the resident table is neither
            # read nor rewritten, so per-batch cost is O(batch), not
            # O(touched buckets). Readers fold deltas (LakeTable.read);
            # LakeTable.compact() folds them into base files.
            new_files = table.fold_and_write(
                snap, [], new_version, events, kind="delta",
                size_hint_rows=plan.size_hint_rows,
            )
            replaced_buckets = set()  # pure append: nothing replaced
        elif plan.strategy == "bucket_local":
            from pyspark.sql.pandas.types import to_arrow_schema

            from ..lakehouse.fold import history_fields, target_fields

            bucket_files: dict[int, list[tuple[str, int, str]]] = {}
            for f in affected_files:
                bucket_files.setdefault(int(f.bucket), []).append(
                    (f.path, f.schema_version, f.kind)
                )
            with _pinned_shuffle(table.spark, snap.n_buckets):
                deduped = lww_fold(events, keys, payload_cols)
                merged = deduped.withColumn(
                    "__b", bucket_expr(keys, snap.n_buckets)
                ).mapInArrow(
                    _bucket_local_map_fn(
                        table.root,
                        bucket_files,
                        list(keys),
                        target_fields(snap.schema),
                        history_fields(snap.schema_history),
                        to_arrow_schema(deduped.schema),
                    ),
                    deduped.schema,
                )
                new_files = table.write_bucket_files(
                    snap,
                    merged,
                    new_version,
                    pre_partitioned=True,
                    size_hint_rows=plan.size_hint_rows,
                )
        else:
            # existing rows of the affected buckets at their *stored*
            # system columns: a batch event beats the resident row only
            # when genuinely newer, so out-of-order batches — the
            # streaming tail's multi-epoch file splits — resolve by true
            # LSN instead of arrival order. Delete winners are KEPT as
            # hidden tombstone rows (user reads drop them) so a late
            # update cannot resurrect a newer delete; the winner's
            # (__op, __lsn) are written back for the next merge/read.
            # The resident files enter unfolded, deltas included, so a
            # delta-holding bucket costs one fold exchange, not two.
            new_files = table.fold_and_write(
                snap,
                affected_files,
                new_version,
                events,
                size_hint_rows=plan.size_hint_rows,
            )

        upserted = int(sum(max(r["keys"] - r["deletes"], 0) for r in per_bucket.values()))
        deleted = int(sum(r["deletes"] for r in per_bucket.values()))
        lineage_rows = [
            {
                "batch_id": batch_id,
                "bucket": int(b),
                "lsn_lo": int(per_bucket[b]["lsn_lo"]),
                "lsn_hi": int(per_bucket[b]["lsn_hi"]),
                "rows_in": int(per_bucket[b]["rows_in"]),
                "rows_upserted": int(max(per_bucket[b]["keys"] - per_bucket[b]["deletes"], 0)),
                "rows_deleted": int(per_bucket[b]["deletes"]),
                "snapshot_version": new_version,
            }
            for b in sorted(affected)
        ]
        batch_max_lsn = max(int(per_bucket[b]["lsn_hi"]) for b in affected)
        new_snap, lost_race = table.commit_or_skip(
            snap,
            replaced_buckets,
            new_files,
            last_lsn=batch_max_lsn,
            batch_id=batch_id,
            lineage_rows=lineage_rows,
        )
        if lost_race:
            # an identical concurrent retry won the CAS: its state is the
            # one this merge would have produced; our files stay
            # unreferenced (vacuum reaps them)
            return MergeStats(
                batch_id=batch_id, skipped=True, snapshot_version=new_snap.version
            )
        return MergeStats(
            batch_id=batch_id,
            skipped=False,
            rows_in=int(sum(r["rows_in"] for r in per_bucket.values())),
            keys_in_batch=int(sum(r["keys"] for r in per_bucket.values())),
            rows_upserted=upserted,
            rows_deleted=deleted,
            buckets_touched=len(affected),
            snapshot_version=new_snap.version,
            strategy=plan.strategy,
        )
    finally:
        per_key.unpersist()
