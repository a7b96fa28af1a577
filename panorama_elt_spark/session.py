"""SparkSession factory with scale-appropriate defaults.

Defaults are chosen for the 100 TB design point and verified locally:
AQE on (runtime coalesce + skew-join splitting), adaptive broadcast,
Arrow for any pandas exchange. ``shuffle_partitions`` should be sized
~2-3x total cores locally; on a real cluster AQE coalesces the excess.

Cluster sizing knobs (pass via ``extra_conf`` on a real deployment):
* ``spark.sql.shuffle.partitions`` ≈ 2-3× total executor cores; the
  merge pins its own exchange to ``n_buckets`` regardless.
* ``spark.sql.files.maxPartitionBytes`` (default 128m): raise to 256m+
  for the change-log scan so a 10^9-event batch doesn't fan into
  hundreds of thousands of tasks.
* table ``n_buckets``: size so one bucket's rewrite fits an executor
  comfortably (~16k buckets ⇒ ~6 GB/bucket at 100 TB).
* ``PANORAMA_PREFILTER_MAX_BYTES`` (default 128 MB, i.e. 4M keys):
  winner-broadcast budget; the broadcast carries fixed 64-bit key
  fingerprints, so it budgets n_keys × ~32 B regardless of key width.
  Keep it well under driver memory; ``0`` disables the prefilter.

DataFrame debugging (``spark.python.sql.dataFrameDebugging.enabled``)
is off: with it on, every PySpark function call makes several extra
py4j round trips to record its Python call site for error messages,
so a change-feed read (``LakeTable.changes()``) makes 1.5-3x the round
trips it needs (measured on small tables). Pass
``extra_conf={"spark.python.sql.dataFrameDebugging.enabled": "true"}``
to get those call sites back while debugging a query.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_local_dir(master: str) -> str | None:
    """Shuffle-scratch directory policy (guide §1.3/§2.1: "local disk
    bandwidth for shuffle files can be the tighter limit on machines
    with slow disks — check both").

    Single-box ``local[N]`` / ``local-cluster[...]`` masters run on a
    machine whose RAM dwarfs the bench's shuffle footprint, while the
    default ``spark.local.dir`` (``/tmp``) sits on a virtio disk whose
    writeback throughput is both slow and shared with co-tenants
    (measured on this box: replay best 17.6 s with shuffle on ``/tmp``
    vs 11.4 s on ``/dev/shm``, same quiet window). Cluster masters
    (yarn/k8s/``spark://``) are deliberately untouched: there
    ``spark.local.dir`` is a deployment decision (NVMe arrays), and at
    the 100 TB design point shuffle exceeds RAM so tmpfs would be
    wrong.

    Parameterised: ``PANORAMA_LOCAL_DIR=<path>`` forces a directory,
    ``PANORAMA_LOCAL_DIR=default`` keeps Spark's default; unset picks
    ``/dev/shm`` only when it exists with ≥32 GiB free (the gate keeps
    a larger run from wedging on a full tmpfs — below it, Spark's
    default stands). The directory is per user,
    ``panorama-spark-local-<uid>``, mode 0700 (``_private_dir``): a
    world-shared parent on tmpfs would let another local user plant or
    read shuffle files. Spark still creates its own per-session
    ``spark-<uuid>`` subdirs, so one user's concurrent sessions share
    the parent safely and clean up via the normal shutdown hooks.
    """
    env = os.environ.get("PANORAMA_LOCAL_DIR")
    if env:
        return None if env == "default" else env
    if not master.startswith("local"):
        return None
    shm = "/dev/shm"
    if not os.path.isdir(shm):
        return None
    try:
        st = os.statvfs(shm)
    except OSError:
        return None
    if st.f_bavail * st.f_frsize < 32 << 30:
        return None
    return _private_dir(os.path.join(shm, f"panorama-spark-local-{os.getuid()}"))


def _private_dir(path: str) -> str | None:
    """``path`` created (or found) as a real directory owned by this
    user and writable by no one else; None (Spark's default) if it is a
    symlink, belongs to another uid, or is group- or world-writable."""
    import stat

    try:
        os.makedirs(path, mode=0o700, exist_ok=True)
        st = os.lstat(path)
    except OSError:
        return None
    ok = stat.S_ISDIR(st.st_mode) and st.st_uid == os.getuid()
    return path if ok and not st.st_mode & (stat.S_IWGRP | stat.S_IWOTH) else None


def get_spark(
    app_name: str = "panorama-elt-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # joins (guide §3.1/§9): allow shuffled-hash where a build side
        # fits per partition instead of always sort-merge, and let AQE
        # rewrite SMJ→SHJ at runtime when every post-shuffle partition
        # is under 64 MB (bounded build memory — scale-safe: oversized
        # partitions keep sort-merge)
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m"
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # the panorama python data source prunes buckets via pushFilters
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 32))
        .config("spark.sql.session.timeZone", "UTC")
        # INT96 (the legacy default) writes no parquet column statistics
        # for timestamps — MICROS keeps footer min/max alive, which the
        # zone-map fallback (lakehouse/filestats.py) reads, and is the
        # modern interop encoding (Iceberg/Delta write it too)
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.ui.enabled", "false")
        # no per-call py4j call-site capture (module doc)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    local_dir = _default_local_dir(master)
    if local_dir and "spark.local.dir" not in (extra_conf or {}):
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
