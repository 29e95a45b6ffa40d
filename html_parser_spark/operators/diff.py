"""Document-pair diff operator — the reference's transform/diff entry point
(SURVEY.md §2 X4-X8) as a Spark stage.

Two tables of (doc_id, html) are paired on doc_id and run through the
reference-exact BFS positional diff (core/diff.py, validated against the
bundle's ACTUAL behavior), emitting the ins/del-annotated serialized HTML
plus the diffAttributes annotation (transformDiff.ts:84-125) as a queryable
`attr_changes` column — the reference computes it but never serializes it.

Scale shape: the doc_id join is the pipeline's only required shuffle beyond
salting (SURVEY.md §3.2). Pairing uses a relational FULL OUTER join followed
by ONE batched Python crossing — not cogroup/applyInPandas, which
materializes a pandas group per doc_id (one-row frames; measured ~10x slower
at 5k docs and pathological at 1e9 pairs). The crossing is
operators/arrow_rows.map_rows: the input is flat strings and the only
nested output (attr_changes list<struct>) is the kernel's list of
(node_id, change, name, value) tuples, built into Arrow by pyarrow.
Unpaired rows surface with status 'missing_old' / 'missing_new' (never
dropped rows).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..core.diff import (
    DiffTypeError,
    E_DIFF_TYPE_ERROR,
    collect_diff_attributes,
    count_wrappers,
    generate_iter,
    max_id,
    transform_diff,
)
from ..core.oracle import Divergence, ParseError, parse_html
from .arrow_rows import map_rows

ATTR_CHANGE_STRUCT = StructType(
    [
        StructField("node_id", IntegerType()),
        StructField("change", StringType()),
        StructField("name", StringType()),
        StructField("value", StringType()),
    ]
)

DIFF_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("diff_html", StringType()),
        StructField("status", StringType()),
        StructField("error", StringType()),
        StructField("n_ins", IntegerType()),
        StructField("n_del", IntegerType()),
        StructField("attr_changes", ArrayType(ATTR_CHANGE_STRUCT)),
    ]
)


def _flatten_attr_changes(annotated) -> list[tuple[int, str, str, Optional[str]]]:
    """[(node_id, change, name, value)] in document order; per node the
    reference dict's construction order: added, removed, updated
    (transformDiff.ts:84-125; updated entries carry the NEW attr value,
    exactly the annotation's content)."""
    rows: list[tuple[int, str, str, Optional[str]]] = []
    for nid, d in annotated:
        for a in d["added"]:
            rows.append((nid, "added", a["name"], a["value"]))
        for a in d["removed"]:
            rows.append((nid, "removed", a["name"], a["value"]))
        for a in d["updated"]:
            rows.append((nid, "updated", a["name"], a["value"]))
    return rows


def _diff_one(new_html: Optional[str], old_html: Optional[str]):
    """-> (diff_html, status, error, n_ins, n_del, attr_rows|None)."""
    if new_html is None:
        return None, "missing_new", None, 0, 0, None
    if old_html is None:
        return None, "missing_old", None, 0, 0, None
    try:
        old_root = parse_html(old_html)
        new_root = parse_html(new_html)
    except Divergence:
        return None, "divergent", "divergent_nontermination", 0, 0, None
    except ParseError as e:
        return None, "error", e.code, 0, 0, None
    idx_start = max_id(new_root) + 1
    try:
        transform_diff(new_root, old_root, idx_start)
    except DiffTypeError:
        return None, "error", E_DIFF_TYPE_ERROR, 0, 0, None
    # exact surviving-wrapper counts (marker-based: source-document
    # <ins>/<del> elements and old-tree id overlap never miscount)
    n_ins, n_del = count_wrappers(new_root)
    attr_rows = _flatten_attr_changes(collect_diff_attributes(new_root))
    return generate_iter(new_root), "ok", None, n_ins, n_del, attr_rows


def diff_documents(df_new: DataFrame, df_old: DataFrame) -> DataFrame:
    """(doc_id, html) x2 -> (doc_id, diff_html, status, error, n_ins, n_del,
    attr_changes)."""
    from pyspark.sql import functions as F

    paired = df_new.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.col("html").alias("new_html"),
    ).join(
        df_old.select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.col("html").alias("old_html"),
        ),
        "doc_id",
        "full_outer",
    )
    return map_rows(paired, lambda d, n, o: [(d,) + _diff_one(n, o)], DIFF_SCHEMA)


def exploded_attr_changes(df_diffed: DataFrame) -> DataFrame:
    """One row per attribute change (SQL-comparable form):
    (doc_id, node_id, change_pos, change, name, value)."""
    from pyspark.sql import functions as F

    return (
        df_diffed.where(F.col("attr_changes").isNotNull())
        .select("doc_id", F.posexplode("attr_changes").alias("change_pos", "c"))
        .select(
            "doc_id",
            F.col("c.node_id").alias("node_id"),
            "change_pos",
            F.col("c.change").alias("change"),
            F.col("c.name").alias("name"),
            F.col("c.value").alias("value"),
        )
    )
