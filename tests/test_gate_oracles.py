"""In-suite version of the driver's correctness gate: every
__spark_entry__.queries() entry vs its oracle_sql() via DuckDB at sf0.001 —
row count, column names, oracle column types and order-insensitive exact
values (doubles by repr, i.e. bit-exact), through tools/gate_check's own
type_drift and row normaliser. Each frame's unexecuted plan must first hold
the query's plan_pins() and cross into Python through exactly the nodes its
PYTHON_CROSSINGS entry names. Keeps `python -m pytest -x -q`
self-contained as the full correctness gate."""

from __future__ import annotations

import os

import duckdb
import pytest

import __spark_entry__ as entrymod
from registry.plans import crossings, explain_str
from tools.gate_check import TABLES, rows_to_multiset, type_drift
from tools.plan_audit import stable_ids

SF_DIR = os.environ.get("SPARK_GRAFT_GATE_SF", "/root/testdata/sf0.001")

pytestmark = pytest.mark.skipif(
    not os.path.exists(f"{SF_DIR}/documents.parquet"), reason="testdata unavailable"
)


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return c


PINS = entrymod.plan_pins()


@pytest.mark.parametrize("name", sorted(entrymod.queries().keys()))
def test_query_matches_oracle(spark, con, name):
    df = entrymod.queries()[name](spark, SF_DIR)
    # the pins were written against the unexecuted (initial AQE) plan
    plan = explain_str(df)
    for desc, pin in PINS.get(name, []):
        assert pin(plan), desc
    assert crossings(plan) == tuple(sorted(entrymod.PYTHON_CROSSINGS.get(name, ())))
    rows = [tuple(r) for r in df.collect()]
    oracle = entrymod.oracle_sql()[name]
    res = con.execute(oracle)
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    assert sorted(df.columns) == sorted(ocols)
    assert type_drift(df, con, oracle) == []
    assert len(rows) == len(orows)
    assert rows_to_multiset(df.columns, rows) == rows_to_multiset(ocols, orows)


def test_type_drift_reports_a_describe_error(con):
    """An oracle DuckDB cannot DESCRIBE is a drift entry, never a skipped
    type check."""
    drift = type_drift(None, con, "SELECT * FROM no_such_table")
    assert len(drift) == 1 and drift[0].startswith("DESCRIBE raised")


def test_session_zone_does_not_leak_between_entries(spark):
    """Every entry sets the UTC session clock itself, so a query's plan does
    not depend on which entries were built before it: extract_links plans
    the same in a session whose own zone is not UTC as after an
    events_gapfill build."""
    qs = entrymod.queries()
    own = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        before = stable_ids(explain_str(qs["extract_links"](spark, SF_DIR)))
        qs["events_gapfill"](spark, SF_DIR)
        after = stable_ids(explain_str(qs["extract_links"](spark, SF_DIR)))
    finally:
        spark.conf.set("spark.sql.session.timeZone", own)
    assert "Some(UTC)" in before
    assert before == after


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert [f.name for f in df.schema.fields] == [
        "doc_id", "status", "kind", "text", "media_ref", "span_order",
    ]
