"""CDC engine benchmark: one workload per process.

    python3 perfbench/run.py --workload mor_tail --seed 1 --seconds 10 --trace 0

Run from the repository root. With ``--trace 0`` the last stdout line
is a JSON object holding the end-to-end metrics; with ``--trace 1`` it
holds the per-layer metrics of a traced run (every other operation
traced; the untraced ones give the tracing overhead), and the spans are
written to ``.perfbench_out/``. BENCHMARK.json documents workloads,
metrics and the layer -> metric -> workload mapping.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# local[N]: fixed, capped at the host's cores, and below 4 so that the
# driver's Python, the JIT and GC threads and the Python workers find a
# free core instead of queueing behind the task threads
CORES = 2
DRIVER_HEAP = "2g"


def start_spark(work: str, workload: str):
    """The benchmark's own pinned Spark config: fixed local[N] and driver
    heap, and every scratch directory (shuffle, JVM and Python temp,
    warehouse) inside the run's work directory."""
    from panorama_elt_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    # every JVM (the launcher too) keeps its temp files in the work dir
    # and writes no perf-data file under the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # Python workers import the engine (Arrow task writer, data source)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # the engine reads PANORAMA_* tuning knobs from the environment and
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir: measure the
    # defaults, with scratch where this config puts it
    for name in list(os.environ):
        if name.startswith("PANORAMA_") or name == "SPARK_LOCAL_DIRS":
            del os.environ[name]
    n = min(CORES, os.cpu_count() or 1)
    spark = get_spark(
        app_name=f"perfbench-{workload}",
        master=f"local[{n}]",
        shuffle_partitions=2 * n,
        extra_conf={
            "spark.driver.memory": DRIVER_HEAP,
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait until its JVM and the JVM's Python workers
    have exited: the JVM leaves when its stdin closes, the workers when
    the JVM is gone."""
    from pyspark import SparkContext

    from procmem import alive, descendants

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    children = descendants(os.getpid())[1:]
    spark.stop()
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 60
    while any(alive(p) for p in children) and time.monotonic() < deadline:
        time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401

        import panorama_elt_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2
    import report
    import workloads
    from procmem import python_peaks_mib
    from tracing import CountingFileIO, Tracer, install

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    # a SIGTERM unwinds through the clean-up below like any other exit
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    os.makedirs(work)
    spark = None
    try:
        spark = start_spark(work, args.workload)
        tracer = Tracer()
        if args.trace:
            install(tracer, spark)
        bench = workloads.Bench(
            spark, work, CountingFileIO(tracer), tracer, args.seed, args.seconds, bool(args.trace)
        )
        run = workloads.WORKLOADS[args.workload](bench)
        peaks = python_peaks_mib()
        peak = sum(peaks.values())
        if args.trace:
            metrics = report.per_layer(run, tracer, spark, T_PROCESS)
            tracer.dump(
                os.path.join(ROOT, ".perfbench_out", f"spans-{args.workload}-seed{args.seed}.jsonl")
            )
        else:
            metrics = report.end_to_end(run, peak)
        lines = report.info_lines(run, T_PROCESS, peaks)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work directory is still there
    lines.append(f"# stopped {time.perf_counter() - T_PROCESS:.1f} s after process start")
    for line in lines:
        print(line)
    ledger = run.ledger
    print(
        json.dumps(
            {
                "correct": ledger.failed == 0,
                "attempted": ledger.attempted,
                "failed": ledger.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
