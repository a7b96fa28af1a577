"""The per-batch decision (``plan_batch``) and the environment surface.

No Spark session: ``plan_batch`` is a pure function of numbers the
driver already holds, and the knob guard only reads source files."""

import os
import re

import pytest

from panorama_elt_spark.cdc.merge import plan_batch
from panorama_elt_spark.lakehouse import table as table_mod

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
KNOBS = {"PANORAMA_LOCAL_DIR", "PANORAMA_PREFILTER_MAX_BYTES"}


def test_env_knobs_match_the_readme_table():
    """Every ``PANORAMA_*`` token in the package, docstrings included,
    is a row of the README knob table and vice versa: a new env switch
    or a stale doc fails here."""
    in_code = set()
    for dirpath, _dirs, names in os.walk(os.path.join(ROOT, "panorama_elt_spark")):
        for name in names:
            if name.endswith(".py"):
                with open(os.path.join(dirpath, name), encoding="utf-8") as fh:
                    in_code |= set(re.findall(r"PANORAMA_[A-Z_]+", fh.read()))
    with open(os.path.join(ROOT, "README.md"), encoding="utf-8") as fh:
        in_readme = set(re.findall(r"^\| `(PANORAMA_[A-Z_]+)` \|", fh.read(), re.M))
    assert in_code == in_readme == KNOBS


def _plan(requested="auto", *, rows_in=1000, n_keys=500, resident_rows=0,
          single_jvm=True, shared_posix=True):
    return plan_batch(
        requested,
        rows_in=rows_in,
        n_keys=n_keys,
        resident_rows=resident_rows,
        single_jvm=single_jvm,
        shared_posix=shared_posix,
    )


def test_auto_is_fused_in_one_jvm_off_posix_or_when_the_batch_dominates():
    resident = dict(rows_in=1000, resident_rows=10**6)
    assert _plan(single_jvm=True, **resident).strategy == "fused"
    assert _plan(single_jvm=False, shared_posix=False, **resident).strategy == "fused"
    assert _plan(single_jvm=False, rows_in=1000, resident_rows=1000).strategy == "fused"


def test_auto_is_bucket_local_on_a_cluster_when_resident_rows_dominate():
    plan = _plan(single_jvm=False, shared_posix=True, rows_in=1000, resident_rows=1001)
    assert plan.strategy == "bucket_local"


def test_explicit_strategy_passes_through_and_unknown_raises():
    for strategy in ("fused", "bucket_local", "append_delta"):
        assert _plan(strategy, single_jvm=False, resident_rows=10**6).strategy == strategy
    with pytest.raises(ValueError, match="'fussed'"):
        _plan("fussed")


def test_prefilter_needs_a_big_duplicated_batch_within_the_budget(monkeypatch):
    monkeypatch.delenv("PANORAMA_PREFILTER_MAX_BYTES", raising=False)
    n = table_mod.SMALL_BATCH_ROWS
    assert _plan(rows_in=n, n_keys=n // 2).prefilter
    assert not _plan(rows_in=n - 1, n_keys=10).prefilter  # small batch
    assert not _plan(rows_in=n, n_keys=n // 2 + 1).prefilter  # < 2x duplication
    assert not _plan(rows_in=n, n_keys=0).prefilter
    # the default budget is 4M keys × 32 B
    assert _plan(rows_in=10**8, n_keys=4_000_000).prefilter
    assert not _plan(rows_in=10**8, n_keys=4_000_001).prefilter
    monkeypatch.setenv("PANORAMA_PREFILTER_MAX_BYTES", "0")
    assert not _plan(rows_in=n, n_keys=n // 2).prefilter
    # the threshold is read at call time, so tests can patch it
    monkeypatch.delenv("PANORAMA_PREFILTER_MAX_BYTES")
    monkeypatch.setattr(table_mod, "SMALL_BATCH_ROWS", 0)
    assert _plan(rows_in=6, n_keys=2).prefilter


def test_writer_size_hint_bounds_the_output_rows():
    assert _plan("append_delta", n_keys=500, resident_rows=10**6).size_hint_rows == 500
    assert _plan("fused", n_keys=500, resident_rows=10**6).size_hint_rows == 10**6 + 500
