"""Hot-key skew: correctness and plan shape under extreme Zipf skew
(the scenario the reference handles serially, SURVEY.md §2.8 skew row)."""

from pyspark.sql import functions as F

from panorama_elt_spark.cdc import (
    CdcEngine,
    ChangeLogSpec,
    expected_final_state,
    generate_change_log,
)
from panorama_elt_spark.lakehouse import Field, LakeTable, TableSchema
from panorama_elt_spark.lakehouse.fold import lww_fold

SCHEMA = TableSchema(
    [
        Field(1, "repo", "string", False),
        Field(2, "path", "string", False),
        Field(3, "commit", "string"),
        Field(4, "lang", "string"),
        Field(5, "content", "string"),
    ],
    schema_version=1,
)

# exponent 8 → the hottest key takes the majority of all events
HOT_SPEC = ChangeLogSpec(n_events=6000, n_keys=40, skew_exponent=8.0)


def _rows(df):
    return sorted(
        tuple(r) for r in df.select("repo", "path", "commit", "lang", "content").collect()
    )


def test_generator_is_extremely_skewed(spark):
    log = generate_change_log(spark, HOT_SPEC)
    top = log.groupBy("repo", "path").count().orderBy(F.desc("count")).first()
    assert top["count"] > HOT_SPEC.n_events * 0.4  # one key dominates


def test_replay_correct_under_skew(spark, tmp_path):
    log = generate_change_log(spark, HOT_SPEC)
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["repo", "path"], n_buckets=8)
    CdcEngine(t).replay(log, batch_size=2000)
    assert _rows(t.read()) == _rows(expected_final_state(spark, HOT_SPEC))


def test_fused_merge_shuffles_aggregated_rows_not_events(spark, tmp_path):
    """The fused merge plan must show partial_max_by below the exchange —
    the property that makes hot keys collapse map-side at 10^10 scale."""
    log = generate_change_log(spark, HOT_SPEC)
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["repo", "path"], n_buckets=8)
    resident = t.read(with_lsn=True)
    unioned = resident.unionByName(
        log.select(
            "repo", "path", "commit", "lang", "content",
            F.col("op").alias("__op"), F.col("lsn").cast("long").alias("__lsn"),
        )
    )
    plan = (
        lww_fold(unioned, ["repo", "path"], ["commit", "lang", "content"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "partial_max_by" in plan
