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

Crossing: mapInArrow over flat child arrays — per-node Python dicts are
never materialized on either side (same pattern as operators/extract.py,
measured 1.7x there); the output is pinned to the oracle-based parse_one
by tests/test_arrow_crossings.py and tests/test_parse_nodes.py.
"""

from __future__ import annotations

from typing import Any, Optional

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

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
    _tokenize_arrays,
)

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
    is the kernel's equivalent and is pinned to it by the tests."""
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


def parse_one_flat(
    html: str,
    ids: list,
    pids: list,
    kinds: list,
    tags: list,
    contents: list,
    inners: list,
    unaries: list,
    attr_names: list,
    attr_values: list,
    attr_lens: list,
) -> tuple[int, str, Optional[str]]:
    """parse_one, columnar form: append this document's node rows to the
    shared flat output lists (attr_lens gets one entry per node: the attr
    count for Elements, -1 = null attrs for leaves). Returns
    (n_nodes | -1 on failure, status, error); on failure all appended rows
    are rolled back (the nodes column is NULL for error docs)."""
    mark_n, mark_a = len(ids), len(attr_names)
    try:
        types, tg, payloads, attrs_col = _tokenize_arrays(
            html, want_attrs=True, keep_all=True
        )
    except _Fail as f:
        return -1, f.status, f.error

    stack: list[tuple[int, Any]] = [(1, "")]
    next_id = 2
    for i, t in enumerate(types):
        if t == _T_END:
            if len(stack) == 1 or stack[-1][1] != tg[i]:
                del ids[mark_n:], pids[mark_n:], kinds[mark_n:], tags[mark_n:]
                del contents[mark_n:], inners[mark_n:], unaries[mark_n:]
                del attr_lens[mark_n:], attr_names[mark_a:], attr_values[mark_a:]
                return -1, "error", "tag_mismatch"
            stack.pop()
            continue
        nid = next_id
        next_id += 1
        ids.append(nid)
        pids.append(stack[-1][0])
        if t == _T_OPEN or t == _T_VOID:
            kinds.append(ELEMENT)
            tags.append(tg[i])
            contents.append(None)
            inners.append(None)
            unaries.append(t == _T_VOID)
            al = attrs_col[i]
            for nm, v in al:
                attr_names.append(nm)
                attr_values.append(v)
            attr_lens.append(len(al))
            if t == _T_OPEN:
                stack.append((nid, tg[i]))
        else:
            kinds.append(_KIND_BY_TYPE[t])
            tags.append(None)
            if t == _T_INTERP:
                raw, inner = payloads[i]
                contents.append(raw)
                inners.append(inner)
            else:
                contents.append(payloads[i])
                inners.append(None)
            unaries.append(None)
            attr_lens.append(-1)
    return len(ids) - mark_n, "ok", None


def _offsets_and_mask(pa, lens: list) -> tuple:
    """(offsets, mask) arrays from per-entry lengths (-1 = null entry)."""
    offs = [0]
    mask = []
    total = 0
    for ln in lens:
        if ln < 0:
            mask.append(True)
        else:
            mask.append(False)
            total += ln
        offs.append(total)
    return pa.array(offs, pa.int32()), pa.array(mask, pa.bool_())


def _arrow_kernel_factory(html_col: str, id_col: str):
    def kernel(batches):
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        schema = to_arrow_schema(PARSE_SCHEMA)
        nodes_type = schema.field("nodes").type
        node_type = nodes_type.value_type
        attr_type = node_type.field("attrs").type
        for batch in batches:
            doc_arr = batch.column(batch.schema.get_field_index(id_col))
            if doc_arr.type != pa.string():
                doc_arr = doc_arr.cast(pa.string())
            htmls = batch.column(batch.schema.get_field_index(html_col)).to_pylist()

            ids: list = []
            pids: list = []
            kinds: list = []
            tags: list = []
            contents: list = []
            inners: list = []
            unaries: list = []
            attr_names: list = []
            attr_values: list = []
            attr_lens: list = []
            node_lens: list = []
            statuses: list = []
            errors: list = []
            for html in htmls:
                n_nodes, status, error = parse_one_flat(
                    html if html is not None else "",
                    ids, pids, kinds, tags, contents, inners, unaries,
                    attr_names, attr_values, attr_lens,
                )
                node_lens.append(n_nodes)
                statuses.append(status)
                errors.append(error)

            attr_struct = pa.StructArray.from_arrays(
                [pa.array(attr_names, pa.string()), pa.array(attr_values, pa.string())],
                fields=list(attr_type.value_type),
            )
            a_offs, a_mask = _offsets_and_mask(pa, attr_lens)
            attrs_arr = pa.ListArray.from_arrays(
                a_offs, attr_struct, type=attr_type, mask=a_mask
            )
            node_struct = pa.StructArray.from_arrays(
                [
                    pa.array(ids, pa.int32()),
                    pa.array(pids, pa.int32()),
                    pa.array(kinds, pa.string()),
                    pa.array(tags, pa.string()),
                    pa.array(contents, pa.string()),
                    pa.array(inners, pa.string()),
                    attrs_arr,
                    pa.array(unaries, pa.bool_()),
                ],
                fields=list(node_type),
            )
            n_offs, n_mask = _offsets_and_mask(pa, node_lens)
            nodes_arr = pa.ListArray.from_arrays(
                n_offs, node_struct, type=nodes_type, mask=n_mask
            )
            yield pa.RecordBatch.from_arrays(
                [
                    doc_arr,
                    nodes_arr,
                    pa.array(statuses, pa.string()),
                    pa.array(errors, pa.string()),
                ],
                schema=schema,
            )

    return kernel


def parse_nodes(
    df: DataFrame,
    html_col: str = "html",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, html) -> (doc_id, nodes[], status, error)."""
    return df.mapInArrow(_arrow_kernel_factory(html_col, id_col), schema=PARSE_SCHEMA)


def exploded_nodes(df_parsed: DataFrame) -> DataFrame:
    """One row per node (SQL-comparable form)."""
    from pyspark.sql import functions as F

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
    from pyspark.sql import functions as F

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
