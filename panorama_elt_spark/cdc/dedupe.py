"""Last-writer-wins dedup spelled out as a window: N change events per
key → the max-LSN event.

This generalizes the reference's "re-extract the whole partition and
overwrite it" change unit (``mysql_datasource.py:270-301``, README.md:287)
to row-grain LWW (SURVEY.md §2.8). The engine itself never runs it: every
read, merge and change feed folds through ``lakehouse/fold.py``
(``lww_fold``, a partially aggregated ``max_by``, and its Arrow twin).
``lww_dedupe_window`` — ``row_number() over (partition by keys order by
lsn desc) = 1`` — is the independent reference semantics
(BASELINE.json north_star) that ``expected_final_state`` and the tests
check the fold against.

Ties: LSN is a unique total order by contract; duplicates (at-least-once
delivery) share both LSN and payload, so any winner is identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def lww_dedupe_window(
    df: DataFrame, key_cols: list[str], lsn_col: str = "lsn"
) -> DataFrame:
    w = Window.partitionBy(*key_cols).orderBy(F.col(lsn_col).desc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
