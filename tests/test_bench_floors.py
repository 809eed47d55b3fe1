"""Pure-python regression tests for bench.py's rolling-floor
bookkeeping (``update_floor_state``) — the rules that decide when a
breach becomes a new floor.  These rules were refined across rounds
10–13 (two-run reset, noisy-box suppression, per-breach gauge
sampling, the ``_meta`` nesting) and each refinement edited the same
block; this file pins the contract so the next ADVICE-driven edit
cannot silently regress an earlier one.  No SparkSession needed.
"""

from __future__ import annotations

import importlib.util
import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_spec = importlib.util.spec_from_file_location(
    "bench_mod", os.path.join(_REPO, "bench.py")
)
_bench = importlib.util.module_from_spec(_spec)
sys.modules.setdefault("bench_mod", _bench)
_spec.loader.exec_module(_bench)

update = _bench.update_floor_state


def _state(floors, breached_prev=None):
    s = {"0.1": dict(floors)}
    if breached_prev is not None:
        s["_meta"] = {"breached_prev": {"0.1": list(breached_prev)}}
    return s


def test_min_update_and_first_breach_holds_floor():
    s = _state({"a": 1.0, "b": 1.0})
    update(
        s, "0.1",
        prior={"a": 1.0, "b": 1.0},
        timings={"a": 0.8, "b": 5.0},  # b breaches 2x
        breached=["b"],
        noisy_box=False,
        registered={"a", "b"},
    )
    assert s["0.1"] == {"a": 0.8, "b": 1.0}  # hold b's floor
    assert s["_meta"]["breached_prev"]["0.1"] == ["b"]


def test_second_consecutive_breach_resets_floor():
    s = _state({"b": 1.0}, breached_prev=["b"])
    update(
        s, "0.1",
        prior={"b": 1.0},
        timings={"b": 5.0},
        breached=["b"],
        noisy_box=False,
        registered={"b"},
    )
    assert s["0.1"] == {"b": 5.0}  # persistent regression accepted


def test_noisy_box_suppresses_resets_and_wipes_memory():
    s = _state({"b": 1.0}, breached_prev=["b"])
    update(
        s, "0.1",
        prior={"b": 1.0},
        timings={"b": 5.0},
        breached=["b"],
        noisy_box=True,
        registered={"b"},
    )
    # floor protected even on a second-consecutive breach, and the
    # memory is cleared: a suppressed run's breaches are environmental
    assert s["0.1"] == {"b": 1.0}
    assert s["_meta"]["breached_prev"]["0.1"] == []


def test_sub_threshold_breach_never_resets():
    # <= 0.3 s queries: 2x is noise, min() still applies
    s = _state({"t": 0.1}, breached_prev=["t"])
    update(
        s, "0.1",
        prior={"t": 0.1},
        timings={"t": 0.25},
        breached=[],
        noisy_box=False,
        registered={"t"},
    )
    assert s["0.1"] == {"t": 0.1}


def test_errored_query_keeps_prior_floor():
    s = _state({"a": 1.0, "gone": 2.0})
    update(
        s, "0.1",
        prior={"a": 1.0, "gone": 2.0},
        timings={},  # both absent this run (error path)
        breached=[],
        noisy_box=False,
        registered={"a"},  # "gone" left the registry
    )
    assert s["0.1"] == {"a": 1.0}  # errored kept, deregistered pruned


def test_legacy_top_level_breached_prev_migrates_and_prunes():
    s = {
        "0.1": {"a": 1.0},
        # the one release that wrote the legacy sibling key, with a
        # since-renamed query lingering in another sf's list
        "_breached_prev": {"0.1": ["a"], "0.01": ["renamed_away"]},
    }
    update(
        s, "0.1",
        prior={"a": 1.0},
        timings={"a": 5.0},
        breached=["a"],
        noisy_box=False,
        registered={"a"},
    )
    assert "_breached_prev" not in s  # migrated into _meta
    assert s["0.1"] == {"a": 5.0}  # legacy memory honored: 2nd breach
    assert s["_meta"]["breached_prev"] == {"0.1": ["a"], "0.01": []}


def test_top_level_namespace_stays_sf_keys_plus_meta():
    s = _state({"a": 1.0})
    update(
        s, "0.1",
        prior={"a": 1.0},
        timings={"a": 0.9},
        breached=[],
        noisy_box=False,
        registered={"a"},
    )
    assert set(s) == {"0.1", "_meta"}
