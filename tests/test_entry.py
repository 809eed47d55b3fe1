"""The driver contract ``__spark_entry__`` is a plain registry: the
sentinels lead, every other query follows in operator-module order,
and the entry point binds the package of its own checkout."""

from __future__ import annotations

import importlib
import os
import shutil
import subprocess
import sys

import pytest

import __spark_entry__ as entry

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _modules():
    return [
        importlib.import_module(f"decisions_kinesis_spark.operators.{name}")
        for name in entry._OPERATOR_MODULES
    ]


def test_queries_and_oracles_hold_the_same_names():
    qs, os_ = list(entry.queries()), list(entry.oracle_sql())
    assert len(qs) == len(set(qs)) == 250
    assert set(qs) == set(os_)


def test_sentinels_lead_then_registration_order():
    qs = list(entry.queries())
    assert tuple(qs[:4]) == entry._SENTINELS
    registered = [q for m in _modules() for q in m.QUERIES]
    assert qs[4:] == [q for q in registered if q not in entry._SENTINELS]
    assert sum(len(m.QUERIES) for m in _modules()) == len(qs)


def test_duplicate_query_name_raises(monkeypatch):
    monkeypatch.setattr(entry, "_OPERATOR_MODULES", ("payload", "payload"))
    with pytest.raises(ValueError, match="re-registers"):
        entry.queries()


def test_entry_binds_the_package_of_its_own_checkout(tmp_path):
    shutil.copy(os.path.join(_REPO, "__spark_entry__.py"), tmp_path)
    shutil.copytree(
        os.path.join(_REPO, "decisions_kinesis_spark"),
        tmp_path / "decisions_kinesis_spark",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    code = (
        "import sys, __spark_entry__ as m, decisions_kinesis_spark as p\n"
        "m.queries()\n"
        "print(p.__file__)\n"
        "print(sys.modules['decisions_kinesis_spark.operators.payload'].__file__)\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        check=True,
    ).stdout.split()
    assert len(out) == 2
    for path in out:
        assert path.startswith(str(tmp_path)), path
