"""tools/compare_bench.py: per-query comparison of two bench detail files."""

from __future__ import annotations

import json

from tools import compare_bench


def _write(path, queries):
    path.write_text(json.dumps({"queries": queries}))
    return str(path)


def test_compare_uses_queries_valid_in_both_files():
    a = {"q1": 2.0, "q2": 1.0, "q3": -1.0, "q4": 4.0}
    b = {"q1": 1.0, "q2": -1.0, "q3": 3.0, "q5": 1.0}
    # q2 errored in B and q3 in A: both drop out of the ratios and totals
    assert compare_bench.compare(a, b) == [(0.5, "q1", 2.0, 1.0)]


def test_no_shared_positive_timing_reports_instead_of_raising(
    tmp_path, monkeypatch, capsys
):
    a = _write(tmp_path / "a.json", {"q1": 1.0, "q2": -1.0})
    b = _write(tmp_path / "b.json", {"q1": -1.0, "q3": 2.0})
    monkeypatch.setattr("sys.argv", ["compare_bench.py", a, b])
    compare_bench.main()
    assert "n_common=0" in capsys.readouterr().out


def test_totals_cover_the_same_queries(tmp_path, monkeypatch, capsys):
    a = _write(tmp_path / "a.json", {"q1": 2.0, "q2": 5.0, "q3": 1.0})
    b = _write(tmp_path / "b.json", {"q1": 1.0, "q2": -1.0, "q3": 1.0})
    monkeypatch.setattr("sys.argv", ["compare_bench.py", a, b])
    compare_bench.main()
    assert "total 3.0 -> 2.0" in capsys.readouterr().out
