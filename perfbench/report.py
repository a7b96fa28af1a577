"""Turn one workload's observations into the printed metrics."""

from __future__ import annotations

from collections import defaultdict

import metrics as M
from workloads import READ_TYPES


def _m(value, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def end_to_end(run, peak_mib: float) -> dict:
    walls = [op["wall"] for op in run.ops]
    return {
        "setup_s": _m(M.median(run.setup_rounds), "s"),
        "op_p50_s": _m(M.slot_median(walls, [op["slot"] for op in run.ops]), "s"),
        "ops_per_s": _m(len(walls) / run.timed_s, "1/s"),
        "peak_rss_mb": _m(peak_mib, "MiB"),
        "write_amp": _m(M.write_amp(0, run.written_bytes, run.input_bytes), "ratio"),
        "space_amp": _m(run.space_amp, "ratio"),
        "ok_ratio": _m(run.ledger.ok_ratio, "ratio"),
    }


def _busy(spans, names) -> float:
    """Wall time during which at least one span of ``names`` was open,
    per thread, summed over threads (nested calls count once)."""
    by_thread = defaultdict(list)
    for s in spans:
        if s["name"] in names:
            by_thread[s["thread"]].append((s["start"], s["end"]))
    return sum(M.union_length(iv) for iv in by_thread.values())


def _spark_counts(spark, groups) -> tuple[int, int, int]:
    tracker = spark.sparkContext.statusTracker()
    jobs = stages = tasks = 0
    for g in groups:
        for j in tracker.getJobIdsForGroup(g):
            jobs += 1
            info = tracker.getJobInfo(j)
            for sid in info.stageIds if info else ():
                st = tracker.getStageInfo(sid)
                if st is not None:
                    stages += 1
                    tasks += st.numTasks
    return jobs, stages, tasks


def per_layer(run, tracer, spark, t_process: float) -> dict:
    spans = tracer.spans
    c = tracer.counts
    traced = [op for op in run.ops if op["traced"]]
    untraced = [op for op in run.ops if not op["traced"]]
    n = max(len(traced), 1)
    by_id = {s["id"]: s for s in spans}
    self_t = M.self_times(spans)

    def per_op(x):
        return x / n

    def named(name):
        return [s for s in spans if s["name"] == name]

    # stats time not hidden behind a merge running on another thread
    merges = named("cdc.merge.merge_batch")
    stats_wait = 0.0
    for s in named("cdc.merge.compute_batch_stats"):
        other = [(m["start"], m["end"]) for m in merges if m["thread"] != s["thread"]]
        stats_wait += (s["end"] - s["start"]) - M.covered(s["start"], s["end"], other)

    def under(span, name):
        p = span["parent"]
        while p is not None:
            if by_id[p]["name"] == name:
                return True
            p = by_id[p]["parent"]
        return False

    compact_bytes = sum(
        s.get("bytes", 0)
        for s in named("lakehouse.table.write_bucket_files")
        if under(s, "lakehouse.table.compact")
    )
    batches = c["merge.batches"]
    jobs, stages, tasks = _spark_counts(spark, tracer.job_groups)
    out = {
        "cdc.engine.apply_batch_s": _m(per_op(_busy(spans, {"cdc.engine.apply_batch"})), "s"),
        "cdc.merge.stats_s": _m(per_op(_busy(spans, {"cdc.merge.compute_batch_stats"})), "s"),
        "cdc.merge.stats_wait_s": _m(per_op(stats_wait), "s"),
        "cdc.merge.merge_self_s": _m(per_op(sum(self_t[s["id"]] for s in merges)), "s"),
        "cdc.merge.spans": _m(sum(1 for s in spans if s["name"].startswith("cdc.merge.")), "count"),
        "cdc.merge.rows_in": _m(per_op(c["merge.rows_in"]), "count"),
        "cdc.merge.keys": _m(per_op(c["merge.keys"]), "count"),
        "cdc.merge.rows_upserted": _m(per_op(c["merge.rows_upserted"]), "count"),
        "cdc.merge.rows_deleted": _m(per_op(c["merge.rows_deleted"]), "count"),
        "cdc.merge.buckets_touched": _m(per_op(c["merge.buckets_touched"]), "count"),
        "cdc.merge.dedup_ratio": _m(
            c["merge.keys"] / c["merge.rows_in"] if c["merge.rows_in"] else 0.0, "ratio"
        ),
    }
    for strategy in ("fused", "bucket_local", "append_delta"):
        share = c[f"merge.strategy.{strategy}"] / batches if batches else 0.0
        out[f"cdc.merge.strategy_{strategy}_share"] = _m(share, "ratio")
    out.update(
        {
            "lakehouse.table.write_s": _m(
                per_op(_busy(spans, {"lakehouse.table.write_bucket_files"})), "s"
            ),
            "lakehouse.table.files_written": _m(per_op(c["table.files_written"]), "count"),
            "lakehouse.table.bytes_written": _m(per_op(c["table.bytes_written"]), "bytes"),
            "lakehouse.table.commit_s": _m(
                per_op(_busy(spans, {"lakehouse.table.commit_replace_buckets"})), "s"
            ),
            "lakehouse.table.compact_s": _m(per_op(_busy(spans, {"lakehouse.table.compact"})), "s"),
            "lakehouse.table.compact_bytes_rewritten": _m(per_op(compact_bytes), "bytes"),
            "lakehouse.table.compacts": _m(per_op(len(named("lakehouse.table.compact"))), "count"),
            "lakehouse.snapshot.resolve_s": _m(
                per_op(_busy(spans, {"lakehouse.snapshot.resolve"})), "s"
            ),
            "lakehouse.snapshot.manifest_loads_per_op": _m(
                per_op(c["snapshot.manifest_loads"]), "count"
            ),
            "lakehouse.fileio.reads_per_op": _m(per_op(c["fileio.reads"]), "count"),
            "lakehouse.fileio.writes_per_op": _m(per_op(c["fileio.writes"]), "count"),
            "lakehouse.fileio.lists_per_op": _m(per_op(c["fileio.lists"]), "count"),
            "lakehouse.fileio.bytes_read_per_op": _m(per_op(c["fileio.bytes_read"]), "bytes"),
            "lakehouse.bloom.probe_s": _m(per_op(_busy(spans, {"lakehouse.bloom.probe"})), "s"),
            "lakehouse.bloom.files_kept_ratio": _m(
                c["bloom.files_kept"] / c["bloom.files_probed"] if c["bloom.files_probed"] else 0.0,
                "ratio",
            ),
            "lakehouse.filestats.zone_s": _m(
                per_op(_busy(spans, {"lakehouse.filestats.file_may_match"})), "s"
            ),
            "lakehouse.filestats.files_kept_ratio": _m(
                c["filestats.files_kept"] / c["filestats.files_checked"]
                if c["filestats.files_checked"]
                else 0.0,
                "ratio",
            ),
            "lakehouse.schema.diff_s": _m(
                per_op(_busy(spans, {"lakehouse.schema.diff_schemas"})), "s"
            ),
            "catalog.attach_s": _m(per_op(_busy(spans, {"catalog.attach_catalog"})), "s"),
            "spark.jobs_per_op": _m(per_op(jobs), "count"),
            "spark.stages_per_op": _m(per_op(stages), "count"),
            "spark.tasks_per_op": _m(per_op(tasks), "count"),
        }
    )
    for rtype in READ_TYPES:
        recs = [r for r in run.reads if r["type"] == rtype]
        ratios = [r["files_ratio"] for r in recs if r["files_ratio"] is not None]
        out[f"lakehouse.table.read_plan_s.{rtype}"] = _m(M.median([r["plan"] for r in recs]), "s")
        out[f"lakehouse.table.read_exec_s.{rtype}"] = _m(M.median([r["exec"] for r in recs]), "s")
        out[f"lakehouse.table.files_planned_ratio.{rtype}"] = _m(M.median(ratios), "ratio")
    for otype in ["batch"] + READ_TYPES:
        walls = [op.get(otype, op["wall"]) for op in run.ops if op["type"] == otype or otype in op]
        out[f"op.{otype}_p50_s"] = _m(M.median(walls), "s")
    # means, not medians: traced and untraced groups hold the same mix
    # of operation types, but in different counts
    t_w = sum(op["wall"] for op in traced) / n
    u_w = sum(op["wall"] for op in untraced) / max(len(untraced), 1)
    out.update(
        {
            "trace.overhead_s": _m(t_w - u_w, "s"),
            "trace.overhead_ratio": _m((t_w - u_w) / u_w if u_w else 0.0, "ratio"),
            "trace.spans_per_op": _m(per_op(len(spans)), "count"),
            "host.probe_s": _m(run.probe_s[0], "s"),
            "host.probe_after_s": _m(run.probe_s[-1], "s"),
            "setup.total_s": _m(run.t_timed - t_process, "s"),
        }
    )
    return out


def info_lines(run, t_process: float, peaks: dict) -> list[str]:
    """Human-readable context printed before the JSON line: set-up,
    tails with their percentile and sample count, per-type medians, host
    probe and any failed checks."""
    lines = [
        f"# set-up: total {run.t_timed - t_process:.3f} s; fixture rounds "
        + " ".join(f"{w:.3f}" for w in run.setup_rounds)
    ]
    if run.phases:
        lines.append(
            "# phases (s from process start): "
            + ", ".join(f"{name} {t - t_process:.1f}" for name, t in run.phases)
        )
    lines += [f"# {x}" for x in run.info]
    groups = defaultdict(list)
    for op in run.ops:
        groups["all ops"].append(op["wall"])
        groups[op["type"]].append(op["wall"])
        for part in ("batch", "point", "changes"):
            if part in op and op["type"] == "cycle":
                groups[f"cycle.{part}"].append(op[part])
    for name, walls in groups.items():
        tail = M.tail_percentile(walls)
        tail_s = (
            f"p{tail[0]:.1f} {tail[1]:.4f} s (n={tail[2]})"
            if tail
            else f"none: n={len(walls)} leaves no 10 samples beyond any percentile"
        )
        lines.append(f"# {name}: p50 {M.median(walls):.4f} s; tail {tail_s}")
    # whole groups in order: a trend here means warm-up was too short
    size = len({op["slot"] for op in run.ops}) or 1
    groups_s = [sum(op["wall"] for op in run.ops[i : i + size]) for i in range(0, len(run.ops), size)]
    lines.append("# timed groups (s): " + " ".join(f"{w:.3f}" for w in groups_s))
    strategies = sorted({op.get("strategy") for op in run.ops if op.get("strategy")})
    if strategies:
        lines.append(f"# resolved merge strategy: {', '.join(strategies)}")
    lines.append(
        f"# host probe: {run.probe_s[0]:.4f} s before, {run.probe_s[-1]:.4f} s after the timed phase"
    )
    lines.append(
        f"# python peak rss (VmHWM): {sum(peaks.values()):.1f} MiB = "
        + " + ".join(f"{v:.1f}" for v in sorted(peaks.values(), reverse=True))
    )
    lines += [f"# FAILED {f}" for f in run.ledger.failures[:10]]
    return lines
