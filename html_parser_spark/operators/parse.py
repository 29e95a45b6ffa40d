"""Full-tree parse operator: the reference's parser entry point (SURVEY.md §2
P1-P7) exposed as a Spark stage, emitting the flat id/pid node table.

The reference tree is isomorphic to a flat array of (id, pid, kind, ...) rows
in document order (ascending id = document order; SURVEY.md §1.1), so the
operator emits exactly that — explode-free, one array column per document:

  nodes: array<struct<id:int, pid:int, kind:string, tag:string,
                      content:string, inner:string,
                      attrs:array<struct<name,value>>, unary:boolean>>

Semantics are the oracle's (ids assigned in tokenization order starting at 2,
root = id 1 implied and omitted; end tags carry no id and emit no row; attr
quirks preserved including value=NULL for quoted-empty, tokenize.ts:103-120;
Interpolation keeps the reference's [raw, inner] pair, tokenize.ts:172-182,
as content=raw / inner=trimmed-inner).

Kernel: parse_one_flat walks the extraction kernel's token records
(``kernels.extract._tokens``: one TOKEN_RE drain; each distinct tag's name
and attrs tuple decoded once by the shared tag memo), listed in full
before the walk so a tokenizer failure outranks an earlier tag mismatch.

Crossing: operators/arrow_rows.map_rows. The kernel returns each
document's nodes as tuples in NODE_STRUCT order and pyarrow builds the
nested list<struct<..., list<struct>>> column from them; the input is a
flat string, so a hand-built rebuild would buy nothing. The output is
pinned to the oracle-based parse_one by tests/test_arrow_crossings.py and
tests/test_parse_nodes.py.
"""

from __future__ import annotations

from typing import Any, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..core.jsre import INTERP_RE
from ..core.oracle import (
    CDATA,
    COMMENT,
    ELEMENT,
    INTERPOLATION,
    TAG_END,
    TAG_NAME,
    TAG_OPEN,
    TEXT,
    Divergence,
    ParseError,
    tokenize,
)
from ..kernels.extract import (
    _Fail,
    _T_CDATA,
    _T_COMMENT,
    _T_END,
    _T_INTERP,
    _T_OPEN,
    _T_TEXT,
    _T_VOID,
    _tokens,
)
from .arrow_rows import map_rows

ATTR_STRUCT = StructType(
    [StructField("name", StringType()), StructField("value", StringType())]
)
NODE_STRUCT = StructType(
    [
        StructField("id", IntegerType()),
        StructField("pid", IntegerType()),
        StructField("kind", StringType()),
        StructField("tag", StringType()),
        StructField("content", StringType()),
        StructField("inner", StringType()),
        StructField("attrs", ArrayType(ATTR_STRUCT)),
        StructField("unary", BooleanType()),
    ]
)
PARSE_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("nodes", ArrayType(NODE_STRUCT)),
        StructField("status", StringType()),
        StructField("error", StringType()),
    ]
)

_KIND_BY_TYPE = {
    _T_TEXT: TEXT,
    _T_COMMENT: COMMENT,
    _T_CDATA: CDATA,
    _T_INTERP: INTERPOLATION,
}


def parse_one(html: str) -> tuple[Optional[list[dict[str, Any]]], str, Optional[str]]:
    """Tokenize + parent-stack build -> flat node rows (document order).
    Dict-rows test reference built on core/oracle.tokenize; parse_one_flat
    is the kernel's tuple-rows equivalent and is pinned to it by the
    tests."""
    try:
        tokens = tokenize(html)
    except Divergence:
        return None, "divergent", "divergent_nontermination"
    except ParseError as e:
        return None, "error", e.code
    nodes: list[dict[str, Any]] = []
    stack: list[tuple[int, str]] = [(1, "")]  # (id, tagName); root id=1
    for tok in tokens:
        t = tok["type"]
        if t == TAG_END:
            if len(stack) == 1 or stack[-1][1] != tok["tagName"]:
                return None, "error", "tag_mismatch"
            stack.pop()
            continue
        pid = stack[-1][0]
        if t == TAG_OPEN or t == TAG_NAME:
            nodes.append(
                {
                    "id": tok["id"],
                    "pid": pid,
                    "kind": ELEMENT,
                    "tag": tok["tagName"],
                    "content": None,
                    "inner": None,
                    "attrs": [
                        {"name": a["name"], "value": a["value"]} for a in tok["attrs"]
                    ],
                    "unary": t == TAG_NAME,
                }
            )
            if t == TAG_OPEN:
                stack.append((tok["id"], tok["tagName"]))
        else:
            content = tok["content"]
            inner = None
            if t == INTERPOLATION:
                content, inner = content  # reference's [raw, inner] pair
            nodes.append(
                {
                    "id": tok["id"],
                    "pid": pid,
                    "kind": t if isinstance(t, str) else TEXT,
                    "tag": None,
                    "content": content,
                    "inner": inner,
                    "attrs": None,
                    "unary": None,
                }
            )
    return nodes, "ok", None


def parse_one_flat(html: str) -> tuple[Optional[list[tuple]], str, Optional[str]]:
    """parse_one, kernel form: the same rows as tuples in NODE_STRUCT order
    (id, pid, kind, tag, content, inner, attrs, unary), built on the
    kernel's token records. attrs is the decoded (name, value) tuple for
    Elements and None for leaves. A failure returns (None, status, error):
    the nodes column is NULL for error docs."""
    try:
        tokens = list(_tokens(html))  # a tokenizer failure outranks a mismatch
    except _Fail as f:
        return None, f.status, f.error

    nodes: list[tuple] = []
    stack: list[tuple[int, Any]] = [(1, "")]
    nid = 1
    for code, name, payload, attrs in tokens:
        if code == _T_END:
            if len(stack) == 1 or stack[-1][1] != name:
                return None, "error", "tag_mismatch"
            stack.pop()
            continue
        nid += 1
        pid = stack[-1][0]
        if code == _T_OPEN or code == _T_VOID:
            nodes.append((nid, pid, ELEMENT, name, None, None, attrs, code == _T_VOID))
            if code == _T_OPEN:
                stack.append((nid, name))
        else:
            # Interpolation keeps the reference's [raw, inner] pair
            inner = INTERP_RE.match(payload).group(1) if code == _T_INTERP else None
            nodes.append((nid, pid, _KIND_BY_TYPE[code], None, payload, inner, None, None))
    return nodes, "ok", None


def parse_nodes(
    df: DataFrame,
    html_col: str = "html",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, html) -> (doc_id, nodes[], status, error)."""
    return map_rows(
        df.select(F.col(id_col).cast("string"), html_col),
        lambda doc_id, h: [(doc_id,) + parse_one_flat(h if h is not None else "")],
        PARSE_SCHEMA,
    )


def exploded_nodes(df_parsed: DataFrame) -> DataFrame:
    """One row per node (SQL-comparable form)."""
    return df_parsed.select(
        "doc_id", "status", F.explode("nodes").alias("n")
    ).select(
        "doc_id",
        "status",
        F.col("n.id").alias("node_id"),
        F.col("n.pid").alias("pid"),
        F.col("n.kind").alias("kind"),
        F.col("n.tag").alias("tag"),
        F.col("n.content").alias("content"),
        F.col("n.unary").alias("unary"),
    )


def exploded_attrs(df_parsed: DataFrame) -> DataFrame:
    """One row per (node, attribute) — the attr table, end-to-end queryable
    (attr quirks surface as name/value columns: valueless dropped, hyphenated
    names truncated to the last \\w+ run, quoted-empty -> NULL value,
    unquoted-empty -> '' — tokenize.ts:103-120)."""
    return (
        df_parsed.select("doc_id", F.explode("nodes").alias("n"))
        .where(F.col("n.attrs").isNotNull())
        .select(
            "doc_id",
            F.col("n.id").alias("node_id"),
            F.col("n.tag").alias("tag"),
            F.posexplode("n.attrs").alias("attr_pos", "a"),
        )
        .select(
            "doc_id",
            "node_id",
            "tag",
            "attr_pos",
            F.col("a.name").alias("name"),
            F.col("a.value").alias("value"),
        )
    )
