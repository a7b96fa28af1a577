"""Pure helpers of the benchmark: percentiles, span self time, storage
amplification and the operation ledger behind ``ok_ratio``.

Nothing here imports Spark, so ``test_perfbench.py`` checks it in a
fraction of a second.
"""

from __future__ import annotations

import os
import statistics


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def slot_median(walls, slots) -> float:
    """Typical operation wall of a closed loop that repeats a fixed group
    of operations: the median wall of each position (slot) in the group,
    averaged over the slots. Every slot weighs the same however many
    times it ran, and one slow sample moves only its own slot's median,
    so the figure does not jump to another operation kind the way the
    median of a mixed list does."""
    by_slot: dict = {}
    for wall, slot in zip(walls, slots):
        by_slot.setdefault(slot, []).append(wall)
    if not by_slot:
        return 0.0
    return sum(median(ws) for ws in by_slot.values()) / len(by_slot)


def tail_percentile(values, min_beyond: int = 10):
    """The highest percentile that still has at least ``min_beyond``
    samples above it, as ``(percentile, value, n)``.

    With n sorted samples, the sample at 1-based rank r has n - r samples
    beyond it, so the highest usable rank is n - min_beyond and the
    percentile is 100 * r / n. Returns None when n <= min_beyond: no
    sample has enough samples beyond it to be called a tail."""
    xs = sorted(values)
    n = len(xs)
    if n <= min_beyond:
        return None
    rank = n - min_beyond
    return 100.0 * rank / n, float(xs[rank - 1]), n


def merge_intervals(intervals):
    """Union of ``(start, end)`` intervals as a sorted disjoint list."""
    out: list[list[float]] = []
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [(s, e) for s, e in out]


def union_length(intervals) -> float:
    """Total length of the union of ``(start, end)`` intervals."""
    return sum(e - s for s, e in merge_intervals(intervals))


def covered(start: float, end: float, intervals) -> float:
    """Length of ``[start, end]`` covered by the union of ``intervals``."""
    total = 0.0
    for s, e in merge_intervals(intervals):
        lo, hi = max(s, start), min(e, end)
        if hi > lo:
            total += hi - lo
    return total


def self_times(spans) -> dict[int, float]:
    """Self time per span id: the span's duration minus the part of it
    that its child spans cover (children may overlap each other or run
    on other threads; coverage counts each instant once)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - covered(s["start"], s["end"], children.get(s["id"], ()))
        for s in spans
    }


def tree_bytes(root: str) -> int:
    """Bytes of every regular file under ``root`` (0 if it is absent)."""
    total = 0
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            try:
                total += os.stat(os.path.join(dirpath, name)).st_size
            except FileNotFoundError:
                pass  # a file removed by the engine while walking
    return total


def write_amp(bytes_before: int, bytes_after: int, logical_input_bytes: int) -> float:
    """Bytes written under a table root per logical byte of input events.
    The engine never deletes during ingest (replaced files stay until
    ``vacuum``), so growth of the tree is exactly what was written."""
    if logical_input_bytes <= 0:
        raise ValueError("no logical input bytes")
    return (bytes_after - bytes_before) / logical_input_bytes


def space_amp(bytes_on_disk: int, logical_live_bytes: int) -> float:
    """Bytes under the table root per logical byte of the live rows."""
    if logical_live_bytes <= 0:
        raise ValueError("no logical live bytes")
    return bytes_on_disk / logical_live_bytes


class Ledger:
    """Every operation the run attempts, and whether it completed AND
    matched its precomputed answer. A wrong answer is a failed
    operation, exactly like an exception."""

    def __init__(self) -> None:
        self.attempted = 0
        self.ok = 0
        self.failures: list[str] = []

    def record(self, name: str, expected, got) -> bool:
        self.attempted += 1
        if expected == got:
            self.ok += 1
            return True
        self.failures.append(f"{name}: expected {expected!r}, got {got!r}")
        return False

    def error(self, name: str, exc: BaseException) -> None:
        self.attempted += 1
        self.failures.append(f"{name}: {type(exc).__name__}: {exc}")

    @property
    def failed(self) -> int:
        return self.attempted - self.ok

    @property
    def ok_ratio(self) -> float:
        return self.ok / self.attempted if self.attempted else 0.0
