"""Peak memory of the benchmark's Python processes, from the kernel's
per-process high-water marks in ``/proc`` (``psutil`` is not a
dependency).

Only Python processes count: the driver and the PySpark daemon and
workers it reaches through the JVM. The JVM's own high-water mark does
not repeat between identical runs (heap growth follows GC timing), so
it is left out; BENCHMARK.json says so.
"""

from __future__ import annotations

import os


def _status(pid: int) -> dict[str, str]:
    out: dict[str, str] = {}
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            key, _, value = line.partition(":")
            out[key] = value.strip()
    return out


def _children(pid: int) -> list[int]:
    kids: list[int] = []
    task_dir = f"/proc/{pid}/task"
    try:
        tids = os.listdir(task_dir)
    except FileNotFoundError:
        return kids
    for tid in tids:
        try:
            with open(f"{task_dir}/{tid}/children") as fh:
                kids.extend(int(x) for x in fh.read().split())
        except FileNotFoundError:
            pass
    return kids


def descendants(pid: int) -> list[int]:
    seen, todo = [], [pid]
    while todo:
        p = todo.pop()
        seen.append(p)
        todo.extend(_children(p))
    return seen


def alive(pid: int) -> bool:
    """Whether ``pid`` is still running (a zombie has ended)."""
    try:
        return _status(pid).get("State", "Z").split()[0] != "Z"
    except (FileNotFoundError, ProcessLookupError):
        return False


def python_peaks_mib(pid: int | None = None) -> dict[int, float]:
    """``VmHWM`` of each Python process in ``pid``'s tree, in MiB."""
    out = {}
    for p in descendants(pid or os.getpid()):
        try:
            st = _status(p)
        except (FileNotFoundError, ProcessLookupError):
            continue  # exited while walking
        if st.get("Name", "").startswith("python"):
            out[p] = int(st.get("VmHWM", "0 kB").split()[0]) / 1024.0
    return out
