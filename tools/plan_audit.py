"""Physical-plan record: capture .explain('formatted') for every query whose
`Query` record (registry/) declares plan pins, check each pin and the
record's Python-crossing node names, and write the plans with their
PASS/FAIL lines to PLANS_AUDIT.md. The same checks run in the test suite
(tests/test_gate_oracles.py); this tool only writes the record.

Usage: python tools/plan_audit.py [sf_dir]   (a directory path, or a scale
factor such as '0.01' / 'sf0.01' naming a sibling of the default sf0.01
directory). Writes PLANS_AUDIT.md. Exits 1 if a pin fails, 2 on a
missing sf directory (before Spark starts).
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def stable_ids(plan: str) -> str:
    """Blank expression ids (`doc_id#123L`), exchange plan ids and RDD ids
    (`MapPartitionsRDD[144]`): all come from JVM-wide counters that shift
    whenever an earlier query builds a node more or less, so PLANS_AUDIT.md
    would change on every run."""
    return re.sub(r"(#|plan_id=|RDD\[)\d+", r"\1_", plan)


DEFAULT_SF_DIR = "/root/testdata/sf0.01"


def main() -> int:
    from gate_check import scale_factor_dir

    arg = sys.argv[1] if len(sys.argv) > 1 else DEFAULT_SF_DIR
    # a bare scale factor ('0.01', 'sf0.01') names a sibling of the default
    # sf directory, resolved exactly as tools/gate_check.py does
    sf_dir = scale_factor_dir(os.path.dirname(DEFAULT_SF_DIR), arg)
    if not os.path.isdir(sf_dir):
        print(f"plan_audit: no such sf directory: {sf_dir}", file=sys.stderr)
        return 2

    from pyspark.sql import SparkSession

    import __spark_entry__ as E

    from html_parser_spark.session import apply_scale_confs
    from registry.plans import crossings, explain_str

    spark = (
        apply_scale_confs(
            SparkSession.builder.master("local[8]")
            .appName("plan-audit")
            .config("spark.sql.shuffle.partitions", "16")
        )
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    qs = E.queries()
    out = [
        "# Physical-plan audit (tools/plan_audit.py over the registry's plan pins)\n",
        f"sf_dir: {sf_dir}; Spark {spark.version}\n",
    ]
    failures = 0
    for name, pins in E.plan_pins().items():
        plan = explain_str(qs[name](spark, sf_dir))
        out.append(f"\n## {name}\n")
        want = tuple(sorted(E.PYTHON_CROSSINGS.get(name, ())))
        checks = [*pins, (f"Python crossings are exactly {list(want)}",
                          lambda p: crossings(p) == want)]
        for desc, pin in checks:
            ok = pin(plan)
            failures += not ok
            out.append(f"- {'PASS' if ok else 'FAIL'}: {desc}")
            print(f"{'PASS' if ok else 'FAIL'} {name}: {desc}")
        out.append("\n```\n" + stable_ids(plan.strip())[:4000] + "\n```")
    with open(os.path.join(ROOT, "PLANS_AUDIT.md"), "w") as f:
        f.write("\n".join(out) + "\n")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
