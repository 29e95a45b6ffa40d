"""tools/plan_audit.py resolves its sf argument before any Spark session
starts: a missing sf directory exits 2 without building one."""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import SparkSession

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

import plan_audit  # noqa: E402


# a bare scale factor with no sibling directory, and a missing path
@pytest.mark.parametrize("arg", ["sf9.99", "{tmp}/absent"])
def test_main_exits_2_on_missing_sf(monkeypatch, tmp_path, capsys, arg):
    def no_session(self):
        raise AssertionError("plan_audit started Spark before checking its sf")

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", no_session)
    monkeypatch.setattr(sys, "argv", ["plan_audit.py", arg.format(tmp=tmp_path)])
    assert plan_audit.main() == 2
    assert "no such sf directory" in capsys.readouterr().err


def test_stable_ids_blanks_only_counter_ids():
    """Expression, exchange-plan and RDD ids are blanked; the session zone
    every entry sets (UTC) prints as it is."""
    plan = "n#12L, Some(UTC), Exchange (plan_id=7), MapPartitionsRDD[144]"
    assert plan_audit.stable_ids(plan) == (
        "n#_L, Some(UTC), Exchange (plan_id=_), MapPartitionsRDD[_]"
    )
