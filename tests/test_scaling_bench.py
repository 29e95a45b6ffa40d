"""tools/scaling_bench.py refuses a host that cannot run the N vs 4N
protocol, before any Spark process starts. The check is exercised as a
function with an injected core count; no test here launches Spark."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

import scaling_bench  # noqa: E402


@pytest.mark.parametrize(
    "n, cores, refused",
    [
        (4, 4, True),    # 4N = 16 on a 4-core host
        (4, 15, True),
        (4, 16, False),  # the protocol's N=4 vs 4N=16 needs 16 cores
        (1, 4, False),   # N=1 vs 4N=4 fits a 4-core host
        (1, 3, True),
        (2, 32, False),
        (0, 32, True),
    ],
)
def test_host_refusal(n, cores, refused):
    msg = scaling_bench.host_refusal(n, cores)
    assert (msg is not None) == refused
    if refused and n >= 1:
        assert f"4N = {4 * n}" in msg and f"{cores} usable cores" in msg


def test_main_exits_2_on_too_few_cores(monkeypatch, tmp_path, capsys):
    # a 4-core affinity and --n 4: refused first; the missing sf directory
    # is a second stop, so a broken check still cannot reach Spark
    monkeypatch.setattr(scaling_bench.os, "sched_getaffinity", lambda pid: set(range(4)))
    monkeypatch.setattr(
        sys, "argv",
        ["scaling_bench.py", "--n", "4", "--sf-dir", str(tmp_path / "absent"),
         "--workdir", str(tmp_path / "work")],
    )
    assert scaling_bench.main() == 2
    assert "usable cores" in capsys.readouterr().err
    assert not (tmp_path / "work").exists()
