"""Reading a query's physical plan: the explain('formatted') text its pins
and crossings are checked on (tests/test_gate_oracles.py; tools/plan_audit.py
writes the record to PLANS_AUDIT.md). Formatted explain lists each node
twice: once on the tree, once as a numbered '(N) Node' detail line that
heads the node's detail block. Pins count nodes on the numbered lines."""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

from pyspark.sql import DataFrame

# numbered detail lines of Python-crossing nodes (MapInArrow,
# ArrowEvalPython, FlatMapGroupsInPandas, ...); the group is the node name
CROSSING_RE = re.compile(r"\(\d+\) (\w*(?:Python|InPandas|InArrow)\w*)\b")


def explain_str(df: DataFrame) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def nodes(plan: str, name: str) -> int:
    """How many `name` operators the plan holds (its numbered lines)."""
    return len(re.findall(rf"\(\d+\) {name}\b", plan))


def crossings(plan: str) -> tuple[str, ...]:
    """The plan's Python-crossing node names, sorted."""
    return tuple(sorted(CROSSING_RE.findall(plan)))


def detail_blocks(plan: str, node: str) -> list[str]:
    """The numbered detail block of each `node` operator in a formatted
    plan: its '(N) node' line and the lines up to the next blank one.
    Only these blocks print a node's arguments (an Exchange's
    partitioning, a Generate's generator); tree lines print the bare name."""
    return re.findall(
        rf"^\(\d+\) {node}(?: \[codegen id : \d+\])?\n(?:.+\n?)*", plan, re.M
    )


def hash_exchanges(plan: str) -> int:
    return sum(
        "Arguments: hashpartitioning(" in b for b in detail_blocks(plan, "Exchange")
    )
