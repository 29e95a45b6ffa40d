"""Span-stream transform pipeline — the reference's plugin system
(SURVEY.md §2 X1-X3: transform/callNodeTransforms/traverseNode) re-expressed
Spark-first.

The reference runs an enter/exit plugin protocol over a mutable tree
(transform.ts:12-88); on Spark, plugin *composition* belongs to the driver
(each stage is a DataFrame op — SURVEY.md §2.2), and per-document rewrites
operate on the extracted span stream inside ONE mapInArrow stage
(operators/arrow_rows.map_rows). A plugin is `list[Span] -> list[Span]`
(Span = {kind,text,media_ref,order}); plugins compose in registry order;
`order` is reassigned after the chain so the output invariant (dense 0-based
document order) always holds.

Built-in plugins cover the common training-data rewrites; `directiveTransforms`
from the reference is declared-but-unused there (transform.ts:26-31) and has
no equivalent here by design.
"""

from __future__ import annotations

import re
from typing import Callable, Sequence

from pyspark.sql import DataFrame

from .arrow_rows import map_rows
from .extract import EXTRACT_SCHEMA

Span = dict  # {kind, text, media_ref, order}
SpanPlugin = Callable[[list[Span]], list[Span]]


# --- built-in plugins -------------------------------------------------------

def drop_empty_text() -> SpanPlugin:
    def plugin(spans: list[Span]) -> list[Span]:
        return [
            s for s in spans
            if not (s["kind"] == "text" and (s["text"] is None or s["text"].strip() == ""))
        ]

    return plugin


def drop_kind(kind: str) -> SpanPlugin:
    def plugin(spans: list[Span]) -> list[Span]:
        return [s for s in spans if s["kind"] != kind]

    return plugin


def truncate_spans(max_spans: int) -> SpanPlugin:
    def plugin(spans: list[Span]) -> list[Span]:
        return spans[:max_spans]

    return plugin


def truncate_chars(max_chars: int) -> SpanPlugin:
    """Cap cumulative text length (hard doc-size cap for training corpora)."""

    def plugin(spans: list[Span]) -> list[Span]:
        out, budget = [], max_chars
        for s in spans:
            if s["kind"] == "text" and s["text"] is not None:
                if budget <= 0:
                    continue
                t = s["text"]
                if len(t) > budget:
                    s = {**s, "text": t[:budget]}
                budget -= len(s["text"])
            out.append(s)
        return out

    return plugin


def regex_redact(pattern: str, repl: str = "■") -> SpanPlugin:
    """Redact matches in text spans (PII-scrub-style rewrite)."""
    rx = re.compile(pattern)

    def plugin(spans: list[Span]) -> list[Span]:
        return [
            {**s, "text": rx.sub(repl, s["text"])}
            if s["kind"] == "text" and s["text"] is not None
            else s
            for s in spans
        ]

    return plugin


# --- the pipeline stage -----------------------------------------------------

def transform_spans(
    df_extracted: DataFrame, plugins: Sequence[SpanPlugin]
) -> DataFrame:
    """Apply the plugin chain per document (same output schema as
    extract_spans; n_spans/n_text_chars recomputed; error rows pass through
    untouched — plugins only see successful extractions)."""
    plugins = list(plugins)

    def rows(doc_id, spans, status, error, _n_spans, _n_chars, partition_id):
        if status != "ok" or spans is None:
            spans = list(spans) if spans is not None else []
        else:
            for p in plugins:
                spans = p(spans)
            for i, s in enumerate(spans):  # reassign dense order
                s["order"] = i
        n_chars = sum(
            len(s["text"]) for s in spans if s["kind"] == "text" and s["text"] is not None
        )
        return [(doc_id, spans, status, error, len(spans), n_chars, partition_id)]

    return map_rows(
        df_extracted.select(*EXTRACT_SCHEMA.names), rows, EXTRACT_SCHEMA
    )
