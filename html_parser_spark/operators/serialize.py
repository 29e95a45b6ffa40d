"""HTML serialization operator — the reference's `generate` capability
(packages/core/generate.ts:3-30) as a Spark stage.

Parses each text span and re-serializes it with the reference's exact quirks
(all bundle-verified, SURVEY.md §2.1 G1-G3):
  - void elements get PAIRED close tags: '<img src="u"/>' -> '<img src="u"></img>'
  - Comment/CDATA/Interpolation serialize as '' (generate returns undefined,
    join('') elides)
  - missing attr values serialize as the literal string 'undefined'
  - attrs keep source order and duplicates

One Python crossing (operators/arrow_rows.map_rows: all four output columns
are flat scalars, so one row tuple per document is all the kernel returns);
error/divergent rows surface as status columns, html_out = NULL. The kernel
walks the extraction kernel's token records (``kernels.extract._tokens``:
one TOKEN_RE drain, each distinct tag's attrs decoded once), listed in
full before the walk so a tokenizer failure outranks an earlier tag
mismatch.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from ..core.oracle import E_TAG_MISMATCH, STATUS_ERROR, STATUS_OK
from ..kernels.extract import _Fail, _T_END, _T_OPEN, _T_TEXT, _T_VOID, _tokens
from .arrow_rows import map_rows

SERIALIZE_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("html_out", StringType()),
        StructField("status", StringType()),
        StructField("error", StringType()),
    ]
)


def _attrs_code(attrs: tuple[tuple[str, Optional[str]], ...]) -> str:
    if not attrs:
        return ""
    return " " + " ".join(
        f'{n}="{"undefined" if v is None else v}"' for n, v in attrs
    )


def serialize_one(html: str) -> tuple[Optional[str], str, Optional[str]]:
    """Parse + generate one string. Returns (html_out, status, error)."""
    try:
        tokens = list(_tokens(html))  # a tokenizer failure outranks a mismatch
    except _Fail as f:
        return None, f.status, f.error
    parts: list[str] = []
    stack: list[str] = []
    for code, name, payload, attrs in tokens:
        if code == _T_TEXT:
            parts.append(payload)
        elif code == _T_OPEN:
            parts.append(f"<{name}{_attrs_code(attrs)}>")
            stack.append(name)
        elif code == _T_VOID:
            # reference generate.ts:11 emits a paired close tag for unary too
            parts.append(f"<{name}{_attrs_code(attrs)}></{name}>")
        elif code == _T_END:
            if not stack or stack[-1] != name:
                return None, STATUS_ERROR, E_TAG_MISMATCH
            parts.append(f"</{stack.pop()}>")
        # else comment / CDATA / interpolation: generate emits ''
    # unclosed elements at EOF: reference keeps them and generate still emits
    # close tags during the recursive serialization (children end at EOF)
    while stack:
        parts.append(f"</{stack.pop()}>")
    return "".join(parts), STATUS_OK, None


def serialize_html(df: DataFrame) -> DataFrame:
    """(doc_id, html) -> (doc_id, html_out, status, error)."""
    return map_rows(
        df.select(F.col("doc_id").cast("string"), "html"),
        lambda doc_id, h: [(doc_id,) + serialize_one(h if h is not None else "")],
        SERIALIZE_SCHEMA,
    )
