"""tools/ab.py's decision rule: "gain" needs 9 of 10 pair wins AND a
median difference wider than the parent's IQR AND no more failures."""

from __future__ import annotations

import importlib.util
import pathlib

_spec = importlib.util.spec_from_file_location(
    "ab", pathlib.Path(__file__).parents[1] / "tools" / "ab.py"
)
ab = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab)

_METRICS = [{"name": "latency_mean_s", "better": "lower"}]


def _runs(values, failed=0):
    return [
        {
            "attempted": 10,
            "failed": failed,
            "metrics": {"latency_mean_s": {"value": v, "unit": "s"}},
        }
        for v in values
    ]


def test_same_distribution_is_no_gain(capsys):
    vals = [1.0 + 0.01 * i for i in range(10)]
    assert ab.report(_METRICS, _runs(vals), _runs(list(reversed(vals)))) == []
    assert "no gain" in capsys.readouterr().out


def test_consistent_wide_win_is_gain():
    parent = [1.0 + 0.01 * i for i in range(10)]
    change = [v - 0.5 for v in parent]
    assert ab.report(_METRICS, _runs(parent), _runs(change)) == [
        "latency_mean_s"
    ]


def test_win_inside_parent_iqr_is_no_gain():
    parent = [1.0 + 0.1 * i for i in range(10)]  # IQR 0.45
    change = [v - 0.01 for v in parent]  # wins 10/10 by less than the IQR
    assert ab.report(_METRICS, _runs(parent), _runs(change)) == []


def test_eight_wins_or_more_failures_is_no_gain():
    parent = [1.0 + 0.01 * i for i in range(10)]
    change = [v - 0.5 for v in parent]
    change[0] = change[1] = 9.0  # two lost pairs
    assert ab.report(_METRICS, _runs(parent), _runs(change)) == []
    better = [v - 0.5 for v in parent]
    assert ab.report(_METRICS, _runs(parent), _runs(better, failed=1)) == []
    # a run with no result counts against its side, never as a win
    assert ab.report(_METRICS, _runs(parent), [None] + _runs(better)[1:]) == []
