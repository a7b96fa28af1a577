"""Self-tests of the benchmark's own arithmetic (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import metrics as M  # noqa: E402


def test_tail_percentile_keeps_ten_samples_beyond():
    # 100 samples 1..100: rank 90 (value 90) has exactly 10 above it
    assert M.tail_percentile(range(1, 101)) == (90.0, 90.0, 100)
    # 20 samples: rank 10 is the highest with 10 beyond -> p50
    assert M.tail_percentile(range(20, 0, -1)) == (50.0, 10.0, 20)
    # 11 samples: only the minimum has 10 beyond it
    assert M.tail_percentile(range(11)) == (100.0 / 11, 0.0, 11)
    # 10 samples: no sample has 10 beyond it -> no tail to report
    assert M.tail_percentile(range(10)) is None


def test_slot_median_weighs_each_slot_once():
    # two rounds of kinds a, b, c plus a third round cut after a: a's
    # median is 1.0 despite its outlier, b's 2.0, c's 3.5
    walls = [1.0, 2.0, 3.0, 1.0, 2.0, 4.0, 9.0]
    slots = [0, 1, 2, 0, 1, 2, 0]
    assert M.slot_median(walls, slots) == pytest.approx((1.0 + 2.0 + 3.5) / 3)
    # the plain median of the mixed list lands on whichever kind is middle
    assert M.median(walls) == 2.0
    assert M.slot_median([], []) == 0.0


def _span(sid, start, end, parent=None):
    return {"id": sid, "name": f"s{sid}", "start": start, "end": end, "parent": parent}


def test_self_time_subtracts_child_coverage_once():
    spans = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 4.0, parent=0),
        _span(2, 3.0, 6.0, parent=0),  # overlaps child 1 on [3, 4]
        _span(3, 8.0, 12.0, parent=0),  # runs past its parent's end
        _span(4, 2.0, 3.0, parent=1),  # grandchild: counted against 1 only
    ]
    st = M.self_times(spans)
    assert st[0] == pytest.approx(10.0 - (5.0 + 2.0))  # [1, 6] and [8, 10]
    assert st[1] == pytest.approx(3.0 - 1.0)
    assert st[2] == pytest.approx(3.0)
    assert st[4] == pytest.approx(1.0)


def test_union_length_counts_overlap_once():
    assert M.union_length([(0, 2), (1, 3), (5, 6), (6, 6)]) == pytest.approx(4.0)
    assert M.covered(2.5, 5.5, [(0, 2), (1, 3), (5, 6)]) == pytest.approx(1.0)


def test_amplification_accounting(tmp_path):
    (tmp_path / "data").mkdir()
    (tmp_path / "data" / "a.parquet").write_bytes(b"x" * 300)
    before = M.tree_bytes(str(tmp_path))
    (tmp_path / "data" / "b.parquet").write_bytes(b"y" * 200)
    (tmp_path / "v1.json").write_bytes(b"z" * 100)
    after = M.tree_bytes(str(tmp_path))
    assert (before, after) == (300, 600)
    # 300 bytes written for 1200 logical input bytes
    assert M.write_amp(before, after, 1200) == pytest.approx(0.25)
    # 600 bytes on disk holding 400 logical live bytes
    assert M.space_amp(after, 400) == pytest.approx(1.5)
    assert M.tree_bytes(str(tmp_path / "absent")) == 0
    with pytest.raises(ValueError):
        M.write_amp(0, 10, 0)


def test_planted_wrong_answer_lowers_ok_ratio():
    clean, planted = M.Ledger(), M.Ledger()
    answers = [("scan", 41, 41), ("point", [7], [7]), ("changes", {"I": (1, 5)}, {"I": (1, 5)})]
    for name, want, got in answers:
        clean.record(name, want, got)
        planted.record(name, want, got)
    planted.record("point", [7], [8])  # a wrong answer, not an exception
    planted.error("range", RuntimeError("boom"))
    assert clean.ok_ratio == 1.0 and clean.failed == 0
    assert planted.attempted == 5 and planted.failed == 2
    assert planted.ok_ratio == pytest.approx(3 / 5)
    assert "expected [7], got [8]" in planted.failures[0]
