"""The workloads. Each drives the engine only through its public API on
inputs generated from the run's seed, checks every answer against an
oracle computed through a different plan, and returns the raw
observations that ``run.py`` turns into metrics.

Both are closed loops with one client (the driver thread): the
next operation starts only when the previous one has returned. Time
spent checking answers is outside the timed phase.
"""

from __future__ import annotations

import dataclasses
import os
import time

from pyspark.sql import functions as F

from panorama_elt_spark import catalog
from panorama_elt_spark.cdc import (
    CdcEngine,
    ChangeLogSpec,
    expected_final_state,
    generate_change_log,
)
from panorama_elt_spark.lakehouse import Field, LakeTable, TableSchema

import metrics as M

KEY = ["repo", "path"]
V1 = TableSchema(
    [
        Field(1, "repo", "string", False),
        Field(2, "path", "string", False),
        Field(3, "commit", "string"),
        Field(4, "lang", "string"),
        Field(5, "content", "string"),
    ],
    schema_version=1,
)
# FIXTURES §4 variant 1: add `stars int`, backfilled with 0
V2 = TableSchema(V1.fields + [Field(6, "stars", "int", True, 0)], schema_version=2)

N_BUCKETS = 8
SETUP_ROUNDS = 3  # fixture builds per run; setup_s is their median
# warm-up runs one whole group of the timed operations (a compaction
# pair; a round of the read types): the first run of each operation is
# cold (~2.5x its later wall). Later groups still fall a few per cent
# each, but a second warm group does not fit the run-time budget.
WARM_GROUPS = 1

# mor_tail: a copy-on-write base, then merge-on-read batches below the
# engine's 100k-row prefilter gate, compacted every MOR_COMPACT_EVERY
MOR_BASE, MOR_BATCH, MOR_TAIL_BATCHES, MOR_COMPACT_EVERY = 40_000, 10_000, 8, 2
# read_mix: base, one schema evolution, then uncompacted delta batches
RM_BASE, RM_BATCH, RM_TAIL_BATCHES = 20_000, 10_000, 1  # RM_BASE: a multiple of RM_BATCH
READ_TYPES = ["scan", "point", "range", "changes", "time_travel", "ds_scan", "sql_view"]


@dataclasses.dataclass
class Run:
    """What one workload observed."""

    setup_rounds: list[float] = dataclasses.field(default_factory=list)
    ops: list[dict] = dataclasses.field(default_factory=list)  # {type, wall, traced}
    timed_s: float = 0.0
    input_bytes: int = 0
    written_bytes: int = 0
    space_amp: float = 0.0
    ledger: M.Ledger = dataclasses.field(default_factory=M.Ledger)
    info: list[str] = dataclasses.field(default_factory=list)
    reads: list[dict] = dataclasses.field(default_factory=list)  # traced read layers
    t_timed: float = 0.0  # perf_counter at the start of the timed phase
    probe_s: list[float] = dataclasses.field(default_factory=list)  # before, after
    phases: list[tuple[str, float]] = dataclasses.field(default_factory=list)

    def phase(self, name: str) -> None:
        """Mark the end of a phase of the run (printed with it)."""
        self.phases.append((name, time.perf_counter()))


# ------------------------------------------------------------- oracle helpers


def row_hash(cols):
    return F.xxhash64(*[F.col(c) for c in cols])


def digest(df, cols) -> tuple[int, int]:
    """Order-free state digest: (rows, sum of per-row xxhash64). The sum
    is exact (decimal), so no overflow depends on row order."""
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(row_hash(cols).cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(r["n"]), int(r["h"] or 0)


def changes_digest(df, cols) -> dict:
    """Per change_op: (rows, sum of row hash). Spark's xxhash64 skips
    NULL inputs, so a delete row (NULL payload) hashes as its key."""
    rows = (
        df.groupBy("change_op")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(row_hash(cols).cast("decimal(38,0)")).alias("h"))
        .collect()
    )
    return {r["change_op"]: (int(r["n"]), int(r["h"])) for r in rows}


def conformed_stars():
    """The engine's conform rule for `stars`: events before schema v2
    carry the field default (0); deletes carry no payload."""
    return (
        F.when(F.col("op") == "D", F.lit(None))
        .when(F.col("schema_version") >= 2, F.col("stars"))
        .otherwise(F.lit(0))
        .cast("int")
    )


def logical_bytes(cols, stars: bool = False):
    """Logical size of a row: UTF-8 bytes of its strings, 4 per int."""
    parts = [F.coalesce(F.octet_length(F.col(c)), F.lit(0)) for c in cols]
    if stars:
        parts.append(F.when(F.col("stars").isNotNull(), F.lit(4)).otherwise(F.lit(0)))
    return sum(parts[1:], parts[0]).cast("long")


EVENT_COLS = ["repo", "path", "commit", "lang", "content"]


class LwwModel:
    """Dict-replay model of last-writer-wins state, keyed by the 64-bit
    key hash: the oracle for every read answer (a different plan from
    the engine's folds and from ``expected_final_state``'s window)."""

    def __init__(self) -> None:
        self.state: dict[int, tuple] = {}  # key hash -> (lsn, is_delete, row)

    def apply(self, events) -> None:
        for lsn, kh, is_delete, row in events:
            cur = self.state.get(kh)
            if cur is None or lsn > cur[0]:
                self.state[kh] = (lsn, is_delete, row)

    def row(self, kh):
        cur = self.state.get(kh)
        return None if cur is None or cur[1] else cur[2]

    def live(self) -> dict:
        return {kh: v[2] for kh, v in self.state.items() if not v[1]}


def log_frame(log, row_cols: dict, stars: bool = False):
    """One pass over the stored log: per event its LSN, key hash, delete
    flag, logical size (strings + 8 for the LSN + 1 for the op [+ 4 for
    `stars`]) and the ``row_cols`` values, as integers sorted by LSN, so
    the driver holds a few bytes per event."""
    size = logical_bytes(EVENT_COLS + ["op"], stars) + F.lit(8)
    return (
        log.select(
            "lsn",
            row_hash(KEY).alias("kh"),
            (F.col("op") == "D").alias("d"),
            size.alias("size"),
            *[expr.alias(name) for name, expr in row_cols.items()],
        )
        .toPandas()
        .sort_values("lsn", kind="stable")
        .reset_index(drop=True)
    )


def events(frame, row_cols, lo: int, hi: int) -> list[tuple]:
    """Events with ``lo <= lsn <= hi`` as ``(lsn, key hash, is_delete,
    row)`` in LSN order; ``row`` is the tuple of ``row_cols`` values."""
    i, j = frame["lsn"].searchsorted([lo, hi + 1])
    part = frame.iloc[i:j]
    rows = zip(*[part[name].tolist() for name in row_cols])
    return list(zip(part["lsn"].tolist(), part["kh"].tolist(), part["d"].tolist(), rows))


def input_bytes(frame, batch_size: int) -> dict[int, int]:
    """Logical bytes of the delivered events (duplicates included) per
    aligned LSN batch."""
    sums = frame.groupby(frame["lsn"] // batch_size)["size"].sum()
    return {int(k): int(v) for k, v in sums.items()}


def key_names(log, key_hashes) -> dict[int, tuple[str, str]]:
    """``(repo, path)`` of the given key hashes."""
    rows = (
        log.select(row_hash(KEY).alias("kh"), "repo", "path")
        .filter(F.col("kh").isin(list(key_hashes)))
        .distinct()
        .collect()
    )
    return {int(r["kh"]): (r["repo"], r["path"]) for r in rows}


def diff_digest(before: dict, after: dict, keys, h: int) -> dict:
    """Expected ``changes()`` digest between two live states over
    ``keys``: I/U rows carry the new row's hash ``row[h]``, D rows the
    key hash."""
    out: dict[str, tuple[int, int]] = {}

    def add(op, value):
        n, s = out.get(op, (0, 0))
        out[op] = (n + 1, s + int(value))

    for kh in keys:
        b, a = before.get(kh), after.get(kh)
        if b is None and a is not None:
            add("I", a[h])
        elif b is not None and a is None:
            add("D", kh)
        elif b is not None and a[h] != b[h]:
            add("U", a[h])
    return out


# ----------------------------------------------------------------- shared


class Bench:
    """Per-process context shared by the workloads."""

    def __init__(self, spark, work: str, io, tracer, seed: int, seconds: float, trace: bool):
        self.spark, self.work, self.io = spark, work, io
        self.tracer, self.seed, self.seconds, self.trace = tracer, seed, seconds, trace
        self._n = 0

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def write_log(self, spec: ChangeLogSpec, name: str):
        path = self.path(name)
        generate_change_log(self.spark, spec).write.parquet(path)
        return self.spark.read.parquet(path)

    def new_table(self, *parts) -> LakeTable:
        return LakeTable.create(self.spark, self.path(*parts), V1, KEY, N_BUCKETS, io=self.io)

    def traced_op(self, group: int) -> bool:
        """In a traced run, whole groups of ``group`` consecutive timed
        operations alternate between untraced and traced, so both sides
        time the same mix (a compaction cycle, a round of read types);
        the untraced side is the baseline for the tracing overhead."""
        self._n += 1
        traced = self.trace and ((self._n - 1) // group) % 2 == 1
        self.tracer.active = traced
        self.tracer.op = self._n
        self.tracer.job_group = f"perfbench-op-{self._n}" if traced else None
        if traced:
            self.tracer.job_groups.append(self.tracer.job_group)
            self.spark.sparkContext.setJobGroup(self.tracer.job_group, self.tracer.job_group)
        return traced

    def more_ops(self, run: Run, group: int) -> bool:
        """Closed-loop stop rule: measure for ``seconds`` and end on a
        whole group. A traced run covers at least untraced, traced,
        untraced groups, so the untraced baseline brackets the traced
        group and a warm-up trend does not bias the overhead."""
        if len(run.ops) % group:
            return True
        return run.timed_s < self.seconds or (self.trace and len(run.ops) < 3 * group)

    def end_op(self) -> None:
        if self.tracer.active:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        self.tracer.active = False

    def host_probe(self) -> float:
        """A fixed calibration job that runs no engine code: a 250k-row hash
        aggregate with one shuffle. Recorded before and after the timed
        phase to attribute host drift between sets of runs."""
        t0 = time.perf_counter()
        (
            self.spark.range(0, 250_000, 1, 4)
            .groupBy((F.col("id") % 4096).alias("g"))
            .agg(F.max(F.sha2(F.col("id").cast("string"), 256)).alias("m"))
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        return time.perf_counter() - t0

    def start_timed(self, run: Run) -> None:
        self.host_probe()  # the first run of the probe compiles its plan
        run.probe_s.append(self.host_probe())
        run.t_timed = time.perf_counter()

    def end_timed(self, run: Run) -> None:
        run.phase("timed")
        run.probe_s.append(self.host_probe())

    def warm(self, name: str, fn, run: Run, times: int) -> None:
        """Run ``fn`` ``times`` times before timing starts; ``fn`` returns
        its wall or None to have it timed here."""
        walls = []
        for _ in range(times):
            t0 = time.perf_counter()
            wall = fn()
            walls.append(time.perf_counter() - t0 if wall is None else wall)
        run.info.append(f"warm {name}: " + " ".join(f"{w:.3f}" for w in walls))

    def finish(self, run: Run, table: LakeTable, live_bytes: int) -> None:
        """Storage after maintenance: keep one snapshot, drop the rest."""
        run.phase("final checks")
        table.expire_snapshots(keep_last=1)
        table.vacuum()
        run.space_amp = M.space_amp(M.tree_bytes(table.root), live_bytes)
        run.phase("maintenance")


def check(run: Run, name: str, expected, got) -> None:
    """Record one operation: ``got`` is its answer, a callable computing
    it, or the exception the operation raised."""
    if callable(got):
        try:
            got = got()
        except Exception as exc:  # a failed operation is counted, not fatal
            got = exc
    if isinstance(got, Exception):
        run.ledger.error(name, got)
    else:
        run.ledger.record(name, expected, got)


def oracle_state(spark, spec: ChangeLogSpec, cols, stars: bool = False):
    """``expected_final_state`` (window row_number plan) conformed to the
    table schema: its digest and the logical bytes of its live rows."""
    exp = expected_final_state(spark, spec)
    if stars:
        exp = exp.withColumn("op", F.lit("U")).withColumn("stars", conformed_stars())
    r = exp.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(row_hash(cols).cast("decimal(38,0)")).alias("h"),
        F.sum(logical_bytes(EVENT_COLS, stars)).alias("b"),
    ).first()
    return (int(r["n"]), int(r["h"] or 0)), int(r["b"] or 0)


def exactly_once(run: Run, engine: CdcEngine, log, batch_size: int, k: int) -> None:
    """Re-applying the last committed batch id must be a no-op."""
    lo, hi = k * batch_size, (k + 1) * batch_size - 1
    batch = log.filter((F.col("lsn") >= lo) & (F.col("lsn") <= hi))
    check(
        run,
        f"exactly-once b{k}@{batch_size}",
        True,
        lambda: engine.apply_batch(batch, f"b{k}@{batch_size}").skipped,
    )


# ---------------------------------------------------------------- mor_tail


def mor_tail(b: Bench) -> Run:
    """Merge-on-read tail: small batches applied one at a time through
    ``append_delta`` with compaction every MOR_COMPACT_EVERY batches,
    each followed by two freshness reads (a point lookup of a key the
    batch touched, and the batch's change feed). Op = batch + both
    reads. Warm-up and the timed phase both end on a compaction
    boundary, so every run times whole compaction cycles."""
    run = Run()
    n_events = MOR_BASE + MOR_TAIL_BATCHES * MOR_BATCH
    spec = ChangeLogSpec(n_events=n_events, n_keys=n_events // 10, seed=b.seed)
    log = b.write_log(spec, "log")
    run.phase("log")

    # every tail batch's expected answers, through the dict model
    cols = {"h": row_hash(EVENT_COLS)}
    frame = log_frame(log, cols)
    in_bytes = input_bytes(frame, MOR_BATCH)
    model = LwwModel()
    model.apply(events(frame, cols, 0, MOR_BASE - 1))
    first_k, last_k = MOR_BASE // MOR_BATCH, n_events // MOR_BATCH
    answers = {}
    for k in range(first_k, last_k):
        batch = events(frame, cols, k * MOR_BATCH, (k + 1) * MOR_BATCH - 1)
        keys = {e[1] for e in batch}
        before = {kh: model.row(kh) for kh in keys}
        model.apply(batch)
        after = {kh: model.row(kh) for kh in keys}
        point = max(batch)[1]  # the key of the batch's last event
        answers[k] = {
            "point_kh": point,
            "point": [] if after[point] is None else [int(after[point][0])],
            "changes": diff_digest(before, after, keys, 0),
        }
    names = key_names(log, {a["point_kh"] for a in answers.values()})
    run.phase("oracle answers")

    def build(n: int) -> LakeTable:
        table = b.new_table(f"base{n}")
        CdcEngine(table, strategy="auto").replay(log, batch_size=MOR_BASE, max_lsn=MOR_BASE - 1)
        return table

    for n in range(SETUP_ROUNDS):
        t0 = time.perf_counter()
        table = build(n)
        run.setup_rounds.append(time.perf_counter() - t0)

    run.phase("fixture rounds")
    engine = CdcEngine(table, strategy="append_delta", compact_every=MOR_COMPACT_EVERY)
    k = first_k

    def cycle(traced: bool) -> dict:
        nonlocal k
        hi, want = (k + 1) * MOR_BATCH - 1, answers[k]
        name = f"b{k}@{MOR_BATCH}"
        k += 1
        t0 = time.perf_counter()
        try:
            with b.tracer.span("op.batch"):
                report = engine.replay(log, batch_size=MOR_BATCH, max_lsn=hi)
        except Exception as exc:  # counted as failed reads below
            report = exc
        t1 = time.perf_counter()
        if isinstance(report, Exception):
            got_point = got_changes = report
            t2 = t3 = t1
        else:
            v = report.batches[-1].snapshot_version
            got_point = read_point(b, run, table, names[want["point_kh"]], EVENT_COLS, traced)
            t2 = time.perf_counter()
            got_changes = read_changes(b, run, table, v - 1, v, EVENT_COLS, traced)
            t3 = time.perf_counter()
        return {
            "walls": (t1 - t0, t2 - t1, t3 - t2),
            "checks": [
                (f"{name} point", want["point"], got_point),
                (f"{name} changes", want["changes"], got_changes),
            ],
            "strategy": None if isinstance(report, Exception) else report.batches[-1].strategy,
        }

    b.warm("cycle", lambda: sum(cycle(False)["walls"]), run, WARM_GROUPS * MOR_COMPACT_EVERY)
    run.phase("warm-up")

    bytes0 = M.tree_bytes(table.root)
    k0 = k
    b.start_timed(run)
    while b.more_ops(run, MOR_COMPACT_EVERY) and k < last_k:
        traced = b.traced_op(MOR_COMPACT_EVERY)
        c = cycle(traced)
        b.end_op()
        wb, wp, wc = c["walls"]
        run.timed_s += wb + wp + wc
        run.ops.append(
            {"type": "cycle", "wall": wb + wp + wc, "traced": traced,
             "slot": len(run.ops) % MOR_COMPACT_EVERY,
             "batch": wb, "point": wp, "changes": wc,
             "strategy": c["strategy"]}
        )
        run.input_bytes += in_bytes[k - 1]
        for name, want, got in c["checks"]:
            check(run, name, want, got)
    b.end_timed(run)
    run.written_bytes = M.tree_bytes(table.root) - bytes0
    run.info.append(f"tail batches in the timed phase: {k - k0} (compaction every {MOR_COMPACT_EVERY})")

    want, live_bytes = oracle_state(b.spark, dataclasses.replace(spec, n_events=k * MOR_BATCH), EVENT_COLS)
    check(run, "final state", want, lambda: digest(table.read(), EVENT_COLS))
    exactly_once(run, engine, log, MOR_BATCH, k - 1)
    b.finish(run, table, live_bytes)
    return run


def _plan_exec(b: Bench, run: Run, rtype: str, traced: bool, plan, action, table=None):
    """Time a read as plan (building the DataFrame) + action; in a traced
    op, also record the share of live files the plan reads. Exceptions
    are returned, not raised: the caller's check counts them as failed
    operations."""
    try:
        t0 = time.perf_counter()
        with b.tracer.span(f"read.plan.{rtype}"):
            df = plan()
        t1 = time.perf_counter()
        with b.tracer.span(f"read.exec.{rtype}"):
            got = action(df)
        t2 = time.perf_counter()
    except Exception as exc:
        return exc
    if traced:
        rec = {"type": rtype, "plan": t1 - t0, "exec": t2 - t1, "files_ratio": None}
        if table is not None:
            b.tracer.active = False
            live = len(table.snapshot.files)
            rec["files_ratio"] = len(df.inputFiles()) / live if live else 0.0
            b.tracer.active = True
        run.reads.append(rec)
    return got


def point_hashes(df, cols) -> list[int]:
    return sorted(int(r[0]) for r in df.select(row_hash(cols)).collect())


def read_point(b: Bench, run: Run, table, key, cols, traced: bool):
    return _plan_exec(
        b, run, "point", traced,
        lambda: table.read_where([("repo", "eq", key[0]), ("path", "eq", key[1])]),
        lambda df: point_hashes(df, cols),
        table,
    )


def read_changes(b: Bench, run: Run, table, v0, v1, cols, traced: bool):
    return _plan_exec(
        b, run, "changes", traced,
        lambda: table.changes(v0, v1),
        lambda df: changes_digest(df, cols),
        table,
    )


# ---------------------------------------------------------------- read_mix


def read_mix(b: Bench) -> Run:
    """Read-side mix over a table built in set-up: a copy-on-write base,
    one schema evolution (add `stars`), then uncompacted delta batches
    with deletes. Op = one read; the timed phase runs whole rounds of
    the fixed READ_TYPES sequence, so every run times the same mix."""
    run = Run()
    n_events = RM_BASE + RM_TAIL_BATCHES * RM_BATCH
    spec = ChangeLogSpec(
        n_events=n_events, n_keys=n_events // 10, seed=b.seed, schema_v2_from_lsn=RM_BASE
    )
    log = b.write_log(spec, "log")
    run.phase("log")
    cols2 = EVENT_COLS + ["stars"]
    stars = conformed_stars()
    model_cols = {
        "h": F.xxhash64(*[F.col(c) for c in EVENT_COLS], stars),
        "h1": row_hash(EVENT_COLS),
        "stars": F.coalesce(stars, F.lit(-1)),
        "py": (F.coalesce(F.col("lang"), F.lit("")) == "py").cast("int"),
    }
    frame = log_frame(log, model_cols, stars=True)
    run.input_bytes = sum(input_bytes(frame, RM_BATCH).values())
    model = LwwModel()
    model.apply(events(frame, model_cols, 0, RM_BASE - 1))
    before = model.live()
    model.apply(events(frame, model_cols, RM_BASE, n_events - 1))
    after = model.live()
    # the hottest key still live at the end (its bucket holds deltas)
    counts = frame["kh"].value_counts()
    hot = max((int(n), kh) for kh, n in counts.items() if kh in after)[1]
    point_key = key_names(log, [hot])[int(hot)]
    stars_cut = 5000
    ranged = [r for r in after.values() if r[2] >= stars_cut]
    want = {
        "scan": len(after),
        "point": [int(after[hot][0])],
        "range": (len(ranged), sum(int(r[0]) for r in ranged)),
        "changes": diff_digest(before, after, set(before) | set(after), 0),
        "time_travel": (len(before), sum(int(r[1]) for r in before.values())),
        "ds_scan": [int(after[hot][0])],
        "sql_view": sum(r[3] for r in after.values()),
    }
    run.phase("oracle answers")
    registry = {1: V1, 2: V2}

    def build(n: int):
        lake = b.path(f"lake{n}")
        table = b.new_table(f"lake{n}", "repos")
        CdcEngine(table, strategy="auto").replay(log, batch_size=RM_BASE, max_lsn=RM_BASE - 1)
        v_base = table.snapshot.version
        engine = CdcEngine(table, schema_registry=registry, strategy="append_delta")
        engine.replay(log, batch_size=RM_BATCH)
        catalog.persist_catalog(lake, b.io)
        return lake, table, engine, v_base, reads_of(lake, table, v_base, table.snapshot.version)

    def reads_of(lake, table, v_base, v_end) -> dict:
        """Each read type as (plan, action) over one fixture."""
        point = [("repo", "eq", point_key[0]), ("path", "eq", point_key[1])]
        return {
            "scan": (lambda: table.read(), lambda df: df.count()),
            "point": (lambda: table.read_where(point), lambda df: point_hashes(df, cols2)),
            "range": (
                lambda: table.read_where([("stars", "ge", stars_cut)]),
                lambda df: digest(df, cols2),
            ),
            "changes": (
                lambda: table.changes(v_base, v_end),
                lambda df: changes_digest(df, cols2),
            ),
            "time_travel": (
                lambda: table.read(version=v_base),
                lambda df: digest(df, EVENT_COLS),
            ),
            "ds_scan": (
                lambda: b.spark.read.format("panorama").load(table.root).filter(
                    (F.col("repo") == point_key[0]) & (F.col("path") == point_key[1])
                ),
                lambda df: point_hashes(df, cols2),
            ),
            "sql_view": (
                lambda: (
                    catalog.attach_catalog(b.spark, lake, b.io),
                    b.spark.sql("SELECT count(*) AS n FROM repos WHERE lang = 'py'"),
                )[1],
                lambda df: int(df.first()["n"]),
            ),
        }

    catalog.register_data_source(b.spark)
    for n in range(SETUP_ROUNDS):
        t0 = time.perf_counter()
        lake, table, engine, v_base, reads = build(n)
        run.setup_rounds.append(time.perf_counter() - t0)
    run.phase("fixture rounds")
    run.written_bytes = M.tree_bytes(table.root)

    def one_round():
        for rtype in READ_TYPES:
            plan, action = reads[rtype]
            action(plan())

    b.warm("read round", one_round, run, WARM_GROUPS)
    run.phase("warm-up")

    i = 0
    b.start_timed(run)
    while b.more_ops(run, len(READ_TYPES)):
        rtype = READ_TYPES[i % len(READ_TYPES)]
        i += 1
        traced = b.traced_op(len(READ_TYPES))
        plan, action = reads[rtype]
        t0 = time.perf_counter()
        got = _plan_exec(
            b, run, rtype, traced, plan, action,
            None if rtype in ("ds_scan", "sql_view") else table,
        )
        wall = time.perf_counter() - t0
        b.end_op()
        run.timed_s += wall
        run.ops.append({"type": rtype, "wall": wall, "traced": traced, "slot": rtype})
        check(run, f"read {i} {rtype}", want[rtype], got)
    b.end_timed(run)

    want_state, live_bytes = oracle_state(b.spark, spec, cols2, stars=True)
    check(run, "final state", want_state, lambda: digest(table.read(), cols2))
    exactly_once(run, engine, log, RM_BATCH, n_events // RM_BATCH - 1)
    b.finish(run, table, live_bytes)
    return run


WORKLOADS = {"mor_tail": mor_tail, "read_mix": read_mix}
