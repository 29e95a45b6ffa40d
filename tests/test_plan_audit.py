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


def test_stable_ids_blanks_only_the_session_zone():
    plan = "sequence(0, n#12L, None, Some(Etc/UTC)), from_json(s, j#3, Some(UTC))"
    assert plan_audit.stable_ids(plan, "Etc/UTC") == (
        "sequence(0, n#_L, None, Some(_)), from_json(s, j#_, Some(UTC))"
    )
