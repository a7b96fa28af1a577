"""The traced run's instrument: in-memory spans around the public
functions of each engine module, wrapped from the benchmark's own code
(the engine itself carries no tracing).

A span is ``{id, name, start, end, parent, op, thread}``; the parent is
the innermost open span on the same thread, the op is the benchmark
operation that was running when the span opened (so spans of a stats
prefetch thread still belong to their batch). ``active`` switches
recording on and off per operation, so one traced run can alternate
traced and untraced operations and measure its own overhead.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from panorama_elt_spark.lakehouse.fileio import LocalFileIO


class Tracer:
    def __init__(self) -> None:
        self.active = False
        self.op: int | None = None
        self.job_group: str | None = None
        self.job_groups: list[str] = []  # one Spark job group per traced op
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._ids = itertools.count()
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield None
            return
        stack = self._stack()
        rec = {
            "id": next(self._ids),
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": stack[-1] if stack else None,
            "op": self.op,
            "thread": threading.get_ident(),
        }
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()
            with self._lock:
                self.spans.append(rec)

    def count(self, name: str, n: float = 1) -> None:
        if self.active:
            with self._lock:
                self.counts[name] += n

    def wrap(self, owner, attr: str, name: str, on_call=None) -> None:
        """Replace ``owner.attr`` with a spanning wrapper. ``on_call(args,
        kwargs, result, span)`` records counts from the call's inputs and
        its returned value, and may annotate the span."""
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as rec:
                result = original(*args, **kwargs)
                if on_call is not None and rec is not None:
                    on_call(args, kwargs, result, rec)
            return result

        setattr(owner, attr, wrapper)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


class CountingFileIO(LocalFileIO):
    """``LocalFileIO`` that counts calls into the tracer while it is
    active: exact IO counts for the ``lakehouse.fileio`` layer."""

    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer

    def read_text(self, path):
        text = super().read_text(path)
        self.tracer.count("fileio.reads")
        self.tracer.count("fileio.bytes_read", len(text))
        return text

    def read_bytes(self, path):
        data = super().read_bytes(path)
        self.tracer.count("fileio.reads")
        self.tracer.count("fileio.bytes_read", len(data))
        return data

    def write_text_if_absent(self, path, text):
        self.tracer.count("fileio.writes")
        return super().write_text_if_absent(path, text)

    def write_text(self, path, text):
        self.tracer.count("fileio.writes")
        return super().write_text(path, text)

    def write_bytes(self, path, data):
        self.tracer.count("fileio.writes")
        return super().write_bytes(path, data)

    def list(self, prefix):
        self.tracer.count("fileio.lists")
        return super().list(prefix)

    def list_dir(self, prefix):
        self.tracer.count("fileio.lists")
        return super().list_dir(prefix)


def install(tracer: Tracer, spark) -> None:
    """Wrap the public functions of every measured module."""
    from panorama_elt_spark import catalog
    from panorama_elt_spark.cdc import engine, merge
    from panorama_elt_spark.lakehouse import bloom, filestats, schema, snapshot, table

    def merge_counts(_args, _kwargs, ms, _span):
        if ms.skipped:
            return
        tracer.count("merge.batches")
        tracer.count("merge.rows_in", ms.rows_in)
        tracer.count("merge.keys", ms.keys_in_batch)
        tracer.count("merge.rows_upserted", ms.rows_upserted)
        tracer.count("merge.rows_deleted", ms.rows_deleted)
        tracer.count("merge.buckets_touched", ms.buckets_touched)
        tracer.count(f"merge.strategy.{ms.strategy}")

    def write_counts(args, _kwargs, files, span):
        root = args[0].root
        span["bytes"] = sum(os.path.getsize(os.path.join(root, f.path)) for f in files)
        tracer.count("table.files_written", len(files))
        tracer.count("table.bytes_written", span["bytes"])

    for mod in (merge, engine):
        original_stats = mod.compute_batch_stats

        # the stats prefetch runs on the engine's own thread: tag its
        # Spark jobs with the operation's job group so the status
        # tracker counts them with the batch they belong to
        @functools.wraps(original_stats)
        def in_op_group(*args, _fn=original_stats, **kwargs):
            if tracer.active and tracer.job_group:
                spark.sparkContext.setJobGroup(tracer.job_group, tracer.job_group)
            return _fn(*args, **kwargs)

        mod.compute_batch_stats = in_op_group
        tracer.wrap(mod, "compute_batch_stats", "cdc.merge.compute_batch_stats")
        tracer.wrap(mod, "merge_batch", "cdc.merge.merge_batch", merge_counts)
    tracer.wrap(engine.CdcEngine, "apply_batch", "cdc.engine.apply_batch")
    tracer.wrap(engine.CdcEngine, "replay", "cdc.engine.replay")

    LT = table.LakeTable
    tracer.wrap(LT, "write_bucket_files", "lakehouse.table.write_bucket_files", write_counts)
    tracer.wrap(LT, "commit_replace_buckets", "lakehouse.table.commit_replace_buckets")
    tracer.wrap(LT, "compact", "lakehouse.table.compact")
    tracer.wrap(LT, "read", "lakehouse.table.read")
    tracer.wrap(LT, "read_where", "lakehouse.table.read_where")
    tracer.wrap(LT, "changes", "lakehouse.table.changes")
    tracer.wrap(LT, "alter_schema", "lakehouse.table.alter_schema")

    tracer.wrap(snapshot.SnapshotLog, "read_current", "lakehouse.snapshot.resolve")
    tracer.wrap(snapshot.SnapshotLog, "read_version", "lakehouse.snapshot.resolve")

    original_load = snapshot.Snapshot.load_manifest

    @functools.wraps(original_load)
    def load_manifest(self, entry):
        if entry.path not in self._manifest_cache:
            tracer.count("snapshot.manifest_loads")
        return original_load(self, entry)

    snapshot.Snapshot.load_manifest = load_manifest

    original_filter = bloom.sidecar_file_filter

    @functools.wraps(original_filter)
    def sidecar_file_filter(io, root, fingerprints):
        keep = original_filter(io, root, fingerprints)

        def traced_keep(f):
            with tracer.span("lakehouse.bloom.probe"):
                kept = keep(f)
            tracer.count("bloom.files_probed")
            tracer.count("bloom.files_kept", int(kept))
            return kept

        return traced_keep

    bloom.sidecar_file_filter = sidecar_file_filter

    def zone_counts(_args, _kwargs, may_match, _span):
        tracer.count("filestats.files_checked")
        tracer.count("filestats.files_kept", int(may_match))

    tracer.wrap(filestats, "file_may_match", "lakehouse.filestats.file_may_match", zone_counts)
    for mod in (schema, engine):
        tracer.wrap(mod, "diff_schemas", "lakehouse.schema.diff_schemas")
    tracer.wrap(catalog, "attach_catalog", "catalog.attach_catalog")
