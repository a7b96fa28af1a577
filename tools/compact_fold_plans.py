"""Executed plans of the fold-and-write: linear compaction of a
delta-holding table, the fused merge into delta-holding buckets, and
rebucketing a delta-holding table to three times its bucket count.

    python tools/compact_fold_plans.py plans/compact_fold --tag after

Builds three identical small tables (a copy-on-write base, then one
merge-on-read delta epoch touching every bucket), compacts the first,
fused-merges an older, out-of-order batch into the second and rebuckets
the third from ``N_BUCKETS`` to ``3 * N_BUCKETS`` buckets, and writes
the executed physical plan of each write job to
``<out_dir>/<name>_<tag>.txt`` with expression ids, plan ids and paths
masked, so two trees' files diff cleanly. Run it from a tree's root (or
with that tree on ``PYTHONPATH``) to capture that tree's plans.

``executed_plans`` and ``shuffle_exchanges`` are importable: the tests
use them to count the exchanges a write job ran.
"""

from __future__ import annotations

import argparse
import os
import re
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_BUCKETS = 4


def executed_plans(spark, fn) -> list[str]:
    """Run ``fn()`` and return the physical plan description of every
    SQL execution it started, in order. The plans come from Spark's SQL
    status store, so they are the plans that ran (AQE's final plan once
    the execution finished), including writes."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def ids() -> dict:
        bus.waitUntilEmpty()
        execs = store.executionsList()
        return {
            int(e.executionId()): e
            for e in (execs.apply(i) for i in range(execs.size()))
        }

    before = set(ids())
    fn()
    after = ids()
    return [after[i].physicalPlanDescription() for i in sorted(set(after) - before)]


def write_plans(plans: list[str]) -> list[str]:
    """The plans that wrote data files: the JVM writer's insert command
    or the Arrow task writer's ``mapInArrow`` stage."""
    return [
        p for p in plans if "InsertIntoHadoopFsRelationCommand" in p or "MapInArrow" in p
    ]


_EXCHANGE_ARGS = re.compile(
    r"^\((\d+)\) Exchange\s*\nInput \[\d+\]: \[.*\]\nArguments: (.*)$", re.M
)


def shuffle_exchanges(plan: str) -> list[str]:
    """The arguments of every shuffle ``Exchange`` node in the plan that
    ran (e.g. ``hashpartitioning(id#3L, 4), ENSURE_REQUIREMENTS,
    [plan_id=71]``). Of an adaptive plan only the final (or current)
    tree counts, not the initial one; broadcast exchanges are not
    shuffles and are left out."""
    tree = plan.split("\n\n", 1)[0].split("== Initial Plan ==", 1)[0]
    nodes = re.findall(r"[ +-]Exchange \((\d+)\)", tree)
    args = dict(_EXCHANGE_ARGS.findall(plan))
    return [args[n] for n in nodes]


def mask(plan: str, root: str) -> str:
    plan = plan.replace("file:" + root, "<root>").replace(root, "<root>")
    plan = re.sub(r"#\d+L?", "#x", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=x", plan)
    plan = re.sub(r"/data/([sd]\d+)-[0-9a-f]{8}", r"/data/\1-<attempt>", plan)
    return re.sub(r"part-[\w.-]+\.parquet", "part-<file>.parquet", plan)


def build(spark, root: str):
    """A table with a copy-on-write base (LSN 0-999) and one uncompacted
    merge-on-read epoch (LSN 2000-2999) that holds deltas in every
    bucket; returns it with the events LSN 1000-1999, which arrive late
    (older than the deltas) and include deletes."""
    from pyspark.sql import functions as F

    from panorama_elt_spark.cdc.generator import ChangeLogSpec, generate_change_log
    from panorama_elt_spark.cdc.merge import merge_batch
    from panorama_elt_spark.lakehouse import Field, LakeTable, TableSchema

    schema = TableSchema(
        [
            Field(1, "repo", "string", False),
            Field(2, "path", "string", False),
            Field(3, "commit", "string"),
            Field(4, "lang", "string"),
            Field(5, "content", "string"),
        ],
        schema_version=1,
    )
    spec = ChangeLogSpec(n_events=3000, n_keys=300)
    log = generate_change_log(spark, spec)

    def lsns(lo, hi):
        return log.filter((F.col("lsn") >= lo) & (F.col("lsn") < hi))

    t = LakeTable.create(spark, root, schema, ["repo", "path"], n_buckets=N_BUCKETS)
    merge_batch(t, lsns(0, 1000), "b-base", strategy="fused")
    merge_batch(t, lsns(2000, 3000), "b-delta", strategy="append_delta")
    assert t.snapshot.delta_buckets() == set(range(N_BUCKETS))
    return t, lsns(1000, 2000), spec


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("out_dir")
    ap.add_argument("--tag", required=True, help="file suffix, e.g. before or after")
    args = ap.parse_args()

    from panorama_elt_spark.cdc.merge import merge_batch
    from panorama_elt_spark.session import get_spark

    spark = get_spark(
        app_name="compact-fold-plans",
        master="local[2]",
        shuffle_partitions=8,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(args.out_dir, exist_ok=True)
    with tempfile.TemporaryDirectory() as work:
        t, _late, _spec = build(spark, os.path.join(work, "compact"))
        compact = write_plans(executed_plans(spark, t.compact))
        t, late, _spec = build(spark, os.path.join(work, "fused"))
        fused = write_plans(
            executed_plans(spark, lambda: merge_batch(t, late, "b-late", strategy="fused"))
        )
        t, _late, _spec = build(spark, os.path.join(work, "rebucket"))
        rebucket = write_plans(executed_plans(spark, lambda: t.rebucket(3 * N_BUCKETS)))
        for name, plans in (
            ("compact_linear", compact),
            ("merge_fused_delta", fused),
            ("rebucket", rebucket),
        ):
            path = os.path.join(args.out_dir, f"{name}_{args.tag}.txt")
            with open(path, "w") as fh:
                for p in plans:
                    fh.write(mask(p, work).rstrip() + "\n\n")
            n = [len(shuffle_exchanges(p)) for p in plans]
            print(f"{path}: {len(plans)} write job(s), shuffle exchanges {n}")
    spark.stop()


if __name__ == "__main__":
    main()
