"""Local emulation of the driver's correctness gate: run every
__spark_entry__.queries() entry at a given sf and diff it against the
matching oracle_sql() via DuckDB — row count, column names,
order-insensitive exact value comparison (doubles compared by repr, i.e.
bit-exact), AND oracle column-type drift (the driver hashes TYPED pandas
frames, so a DuckDB HUGEINT surfacing as float64 fails the driver even
when every value matches — the text_tfidf bug class; DESCRIBE catches it
here without re-running the query).

Usage: PYTHONPATH=/root/repo python tools/gate_check.py [--json OUT] [sf_dir] [query ...]
With no positional arguments, runs BOTH sf0.01 and sf0.1 (type drift and
int64 headroom bugs only show up under typed hashing or bigger data).
sf_dir is a directory path, or a scale factor ('0.01', 'sf0.01', 'SF_0.01')
naming a sibling of the default sf directories. A missing directory or a
query name not in the registry exits with status 2 before Spark starts.
--json OUT additionally writes a driver-style correctness record per query
(rows_match / schema_match / hash_match / spark_rows / oracle_rows / err,
keyed by query name; multi-sf runs record the worst cell per query) so each
round can ship a corroborating CORRECTNESS_local.json artifact.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# spark simpleString dtype -> acceptable DuckDB DESCRIBE column_type values.
# The driver compares pandas dtypes after conversion; these pairs map to the
# same pandas dtype on both sides. Complex/nested types are skipped.
_TYPE_OK = {
    "bigint": {"BIGINT"},
    "int": {"INTEGER"},
    "smallint": {"SMALLINT"},
    "tinyint": {"TINYINT"},
    "double": {"DOUBLE"},
    "float": {"FLOAT"},
    "string": {"VARCHAR"},
    "boolean": {"BOOLEAN"},
    "date": {"DATE"},
    "timestamp_ntz": {"TIMESTAMP"},
    "timestamp": {"TIMESTAMP WITH TIME ZONE"},
    "binary": {"BLOB"},
}


def norm_cell(v):
    if v is None:
        return "\0NULL"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, bool):
        return repr(int(v))
    return repr(v)


def rows_to_multiset(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("\1".join(norm_cell(r[i]) for i in idx) for r in rows)


def type_drift(spark_df, con, sql) -> list[str]:
    """Column-type mismatches between the Spark schema and the oracle's
    DESCRIBE output (planning only — the query is not executed). A DESCRIBE
    that raises is one drift entry: the types went unchecked."""
    try:
        desc = con.execute(f"DESCRIBE ({sql})").fetchall()
    except Exception as e:
        return [f"DESCRIBE raised {type(e).__name__}: {str(e)[:200]}"]
    otypes = {r[0]: r[1] for r in desc}
    out = []
    for f in spark_df.schema.fields:
        want = _TYPE_OK.get(f.dataType.simpleString())
        got = otypes.get(f.name)
        if want is not None and got is not None and got not in want:
            out.append(f"{f.name}: spark {f.dataType.simpleString()} vs oracle {got}")
    return out


_SF_SPELLING = re.compile(r"(?:sf[_-]?)?(\d*\.?\d+)", re.IGNORECASE)


def scale_factor_dir(testdata: str, arg: str) -> str:
    """'0.01', 'sf0.01', 'SF0.01', 'sf_0.01', 'sf.01' -> <testdata>/sf0.01.
    A path (it has a separator or names a directory) and anything that does
    not spell a scale factor come back unchanged, for the caller's
    existence check to accept or reject."""
    m = _SF_SPELLING.fullmatch(arg)
    if os.sep in arg or os.path.isdir(arg) or not m:
        return arg
    return os.path.join(testdata, f"sf{float(m.group(1)):g}")


def run_gate(spark, sf_dir: str, only: set[str], records: dict | None = None) -> int:
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    def record(name, **kw):
        if records is None:
            return
        rec = {
            "rows_match": kw.get("rows_match", False),
            "schema_match": kw.get("schema_match", False),
            "hash_match": kw.get("hash_match", False),
            "spark_rows": kw.get("spark_rows"),
            "oracle_rows": kw.get("oracle_rows"),
            "err": kw.get("err"),
        }
        prev = records.get(name)
        # multi-sf runs keep the WORST cell per query (a pass at one sf must
        # not mask a failure at the other)
        if prev is None or (
            (prev["rows_match"], prev["schema_match"], prev["hash_match"])
            > (rec["rows_match"], rec["schema_match"], rec["hash_match"])
        ):
            records[name] = rec

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark raised {type(e).__name__}: {str(e)[:300]}")
            record(name, err=f"spark {type(e).__name__}: {str(e)[:200]}")
            failures += 1
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb raised {type(e).__name__}: {str(e)[:300]}")
            record(name, spark_rows=len(rows), err=f"duckdb {type(e).__name__}: {str(e)[:200]}")
            failures += 1
            continue
        problems = []
        schema_ok = sorted(cols) == sorted(ocols)
        if not schema_ok:
            problems.append(f"columns {sorted(cols)} != {sorted(ocols)}")
        drift = type_drift(df, con, oracles[name])
        schema_ok = schema_ok and not drift
        problems += [f"type drift: {d}" for d in drift]
        rows_ok = len(rows) == len(orows)
        if not rows_ok:
            problems.append(f"rowcount {len(rows)} != {len(orows)}")
        hash_ok = False
        if not problems:
            a = rows_to_multiset(cols, rows)
            b = rows_to_multiset(ocols, orows)
            hash_ok = a == b
            if not hash_ok:
                diff_a = [x for x in a if x not in set(b)][:3]
                diff_b = [x for x in b if x not in set(a)][:3]
                problems.append(f"values differ; spark-only={diff_a} oracle-only={diff_b}")
        record(
            name,
            rows_match=rows_ok,
            schema_match=schema_ok,
            hash_match=hash_ok,
            spark_rows=len(rows),
            oracle_rows=len(orows),
            err=" | ".join(problems) or None,
        )
        if problems:
            failures += 1
            print(f"FAIL {name}: " + " | ".join(problems))
        else:
            print(f"PASS {name}: {len(rows)} rows ({time.time()-t0:.1f}s)")
    return failures


def main():
    argv = sys.argv[1:]
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        json_out = argv[i + 1]
        argv = argv[:i] + argv[i + 2 :]
    only = set(argv[1:])
    if argv and (os.sep in argv[0] or os.path.isdir(argv[0])):
        sf_dirs = [argv[0]]
    else:
        sf_dirs = ["/root/testdata/sf0.01", "/root/testdata/sf0.1"]
        if argv:
            sf_dirs = [scale_factor_dir(os.path.dirname(sf_dirs[0]), argv[0])]
    missing = [d for d in sf_dirs if not os.path.isdir(d)]
    unknown = sorted(only - set(entrymod.queries()))
    if missing or unknown:
        for d in missing:
            print(f"gate_check: no such sf directory: {d}", file=sys.stderr)
        for q in unknown:
            print(f"gate_check: unknown query (not in queries()): {q}", file=sys.stderr)
        sys.exit(2)

    from pyspark.sql import SparkSession

    from html_parser_spark.session import apply_scale_confs

    spark = (
        apply_scale_confs(
            SparkSession.builder.master(
                f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]"
            )
            .appName("gate-check")
            .config("spark.sql.shuffle.partitions", "16")
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    failures = 0
    records: dict | None = {} if json_out else None
    for sf_dir in sf_dirs:
        if len(sf_dirs) > 1:
            print(f"== {sf_dir} ==")
        failures += run_gate(spark, sf_dir, only, records)
    spark.stop()
    if json_out:
        with open(json_out, "w") as f:
            json.dump(records, f, indent=2)
        print(f"wrote {len(records or {})} records to {json_out}")
    print(f"\n{failures} failures")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
