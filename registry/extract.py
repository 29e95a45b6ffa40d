"""Extraction queries: the tokenizer/tree/span kernel over the interleaved
wrap of `documents` (sources/interleave.py), whose text is pure [a-z ] at
every sf, so the expected extraction has a closed form (`_RECON`); plus the
reference's serializer quirks, parse, diff and transform plugins."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from html_parser_spark.kernels.extract import ExtractOptions
from html_parser_spark.operators.diff import diff_documents, exploded_attr_changes
from html_parser_spark.operators.extract import exploded_spans, extract_spans
from html_parser_spark.operators.parse import (
    exploded_attrs, exploded_nodes, parse_nodes,
)
from html_parser_spark.operators.serialize import serialize_html
from html_parser_spark.operators.transform import (
    drop_kind, transform_spans, truncate_spans,
)
from html_parser_spark.sources.interleave import (
    interleave_with_errors, interleaved_from_documents,
)

from registry import documents, query
from registry.plans import nodes


# expected extraction of the interleaved wrap (sources/interleave.py)
_RECON = """
  WITH d AS (
    SELECT CAST(doc_id AS VARCHAR) AS doc_id, text, source,
           array_to_string((string_split(text, ' '))[1:3], ' ') AS title
    FROM documents
  ), recon AS (
    SELECT doc_id, 'ok' AS status, 'text' AS kind, title AS text,
           CAST(NULL AS VARCHAR) AS media_ref, 0 AS span_order FROM d
    UNION ALL SELECT doc_id, 'ok', 'text', text, NULL, 1 FROM d
    UNION ALL SELECT doc_id, 'ok', 'media', NULL,
           'media://' || source || '/' || doc_id || '.jpg', 2 FROM d
    UNION ALL SELECT doc_id, 'ok', 'text', text, NULL, 3 FROM d
    UNION ALL SELECT doc_id, 'ok', 'media', NULL,
           'thumb-' || doc_id || '.png', 4 FROM d
  )
"""


@query("extract_flagship", crossings=("MapInArrow",), pins=(
    ("scan reads only doc_id,text,source (column pruning through the wrap)",
     lambda p: "ReadSchema: struct<doc_id:bigint,text:string,source:string>" in p),
    ("no exchange before the kernel (unsalted path is shuffle-free)",
     lambda p: "Exchange" not in p),
), oracle=_RECON
    + "SELECT doc_id, status, kind, text, media_ref, span_order FROM recon")
def q_extract_flagship(spark, sf_dir):
    out = extract_spans(interleaved_from_documents(documents(spark, sf_dir)))
    return exploded_spans(out)


@query("extract_errors", crossings=("MapInArrow",), oracle="""
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
              CASE doc_id % 10 WHEN 0 THEN 'divergent'
                               WHEN 1 THEN 'error'
                               WHEN 2 THEN 'error' ELSE 'ok' END AS status,
              CASE doc_id % 10 WHEN 0 THEN 'divergent_nontermination'
                               WHEN 1 THEN 'tag_mismatch'
                               WHEN 2 THEN 'illegal_self_close'
                               ELSE NULL END AS error,
              CASE WHEN doc_id % 10 <= 2 THEN 0 ELSE 5 END AS n_spans
            FROM documents
        """)
def q_extract_errors(spark, sf_dir):
    out = extract_spans(interleave_with_errors(documents(spark, sf_dir)))
    return out.select("doc_id", "status", "error", "n_spans")


@query("extract_metrics", crossings=("MapInArrow",), pins=(
    ("map-side partial aggregation before the exchange",
     lambda p: "partial_count" in p or "Functions [partial_" in p),
), oracle=_RECON
    + """
            SELECT kind, COUNT(*) AS n_spans,
                   CAST(SUM(coalesce(length(text), 0)) AS BIGINT) AS total_chars
            FROM recon GROUP BY kind
        """)
def q_extract_metrics(spark, sf_dir):
    ex = q_extract_flagship(spark, sf_dir)
    return ex.groupBy("kind").agg(
        F.count("*").alias("n_spans"),
        F.sum(F.expr("coalesce(length(text), 0)")).alias("total_chars"),
    )


@query("generate_roundtrip", crossings=("MapInArrow",), oracle="""
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
              '<p>' || text || '</p><img src="thumb-' || CAST(doc_id AS VARCHAR)
                || '.png"></img>' AS html_out,
              'ok' AS status, CAST(NULL AS VARCHAR) AS error
            FROM documents
        """)
def q_generate_roundtrip(spark, sf_dir):
    did = F.col("doc_id").cast("string")
    df = documents(spark, sf_dir).select(
        did.alias("doc_id"),
        F.concat(
            F.lit("<p>"), F.col("text"), F.lit('</p><img src="thumb-'), did, F.lit('.png"/>')
        ).alias("html"),
    )
    return serialize_html(df)


@query("extract_main", crossings=("MapInArrow",), oracle=_RECON
    + "SELECT doc_id, status, kind, text, media_ref, span_order FROM recon")
def q_extract_main(spark, sf_dir):
    """Heuristics branch on the standard wrap. Closed form: the h1 title
    (3 words >= MIN_BLOCK_WORDS, zero link density) and body paragraphs are
    all content blocks, media is adjacent to content — so the output equals
    the strict extraction here, and the SAME recon oracle applies. The
    boilerplate-dropping behavior is gated by extract_main_boilerplate."""
    out = extract_spans(
        interleaved_from_documents(documents(spark, sf_dir)),
        options=ExtractOptions(mode="main"),
    )
    return exploded_spans(out)


@query("extract_main_boilerplate", crossings=("MapInArrow",), oracle="""
            SELECT CAST(doc_id AS VARCHAR) AS doc_id, 'ok' AS status,
                   'text' AS kind, text,
                   CAST(NULL AS VARCHAR) AS media_ref, 0 AS span_order
            FROM documents
        """)
def q_extract_main_boilerplate(spark, sf_dir):
    """Boilerplate strip, oracle-checked: nav + footer + link-farm sidebar
    wrap the body; main-content extraction must emit ONLY the body text."""
    did = F.col("doc_id").cast("string")
    df = documents(spark, sf_dir).select(
        did.alias("doc_id"),
        F.array(
            F.struct(
                F.lit("text").alias("kind"),
                F.concat(
                    F.lit(
                        '<div class="page"><nav><a href=h>home link</a>'
                        "<a href=a>about link</a></nav><p>"
                    ),
                    F.col("text"),
                    F.lit(
                        '</p><div class="sidebar"><a href=x>promo one</a></div>'
                        "<footer><p>site footer boilerplate words</p></footer></div>"
                    ),
                ).alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.lit(0).alias("offset"),
            )
        ).alias("spans"),
    )
    return exploded_spans(extract_spans(df, options=ExtractOptions(mode="main")))


@query("transform_plugins", crossings=("MapInArrow", "MapInArrow"), oracle="""
            WITH d AS (
              SELECT CAST(doc_id AS VARCHAR) AS doc_id, text,
                     array_to_string((string_split(text, ' '))[1:3], ' ') AS title
              FROM documents
            )
            SELECT doc_id, 'ok' AS status, 'text' AS kind, title AS text,
                   CAST(NULL AS VARCHAR) AS media_ref, 0 AS span_order FROM d
            UNION ALL SELECT doc_id, 'ok', 'text', text, NULL, 1 FROM d
            UNION ALL SELECT doc_id, 'ok', 'text', text, NULL, 2 FROM d
        """)
def q_transform_plugins(spark, sf_dir):
    """Plugin pipeline (SURVEY §2 X1-X3 as span-stream rewrites): drop media,
    cap at 3 spans, reassign dense order — closed form on the wrap."""
    out = extract_spans(interleaved_from_documents(documents(spark, sf_dir)))
    return exploded_spans(transform_spans(out, [drop_kind("media"), truncate_spans(3)]))


@query("parse_nodes", crossings=("MapInArrow",), oracle="""
            WITH d AS (
              SELECT CAST(doc_id AS VARCHAR) AS doc_id, text,
                     array_to_string((string_split(text, ' '))[1:3], ' ') AS title
              FROM documents
            )
            SELECT doc_id, 'ok' AS status, 2 AS node_id, 1 AS pid,
                   'Element' AS kind, 'div' AS tag, CAST(NULL AS VARCHAR) AS content,
                   CAST(FALSE AS BOOLEAN) AS unary FROM d
            UNION ALL SELECT doc_id, 'ok', 3, 2, 'Element', 'h1', NULL, FALSE FROM d
            UNION ALL SELECT doc_id, 'ok', 4, 3, 'Text', NULL, title,
                   CAST(NULL AS BOOLEAN) FROM d
            UNION ALL SELECT doc_id, 'ok', 5, 2, 'Element', 'p', NULL, FALSE FROM d
            UNION ALL SELECT doc_id, 'ok', 6, 5, 'Text', NULL, text,
                   CAST(NULL AS BOOLEAN) FROM d
        """)
def q_parse_nodes(spark, sf_dir):
    """Full id/pid flat-node table for the wrapped docs (parser parity P1-P7:
    ids in tokenization order, root=1 omitted, end tags emit no rows). The
    wrap has a closed-form node table the SQL oracle reconstructs."""
    did = F.col("doc_id").cast("string")
    title = F.array_join(F.slice(F.split(F.col("text"), " "), 1, 3), " ")
    df = documents(spark, sf_dir).select(
        did.alias("doc_id"),
        F.concat(
            F.lit("<div><h1>"), title, F.lit("</h1><p>"), F.col("text"), F.lit("</p></div>")
        ).alias("html"),
    )
    return exploded_nodes(parse_nodes(df))


@query("extract_html_tables", crossings=("MapInArrow", "MapInArrow", "MapInArrow"), oracle="""
            WITH wd AS (
              SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                     string_split(text, ' ') AS w,
                     LEAST(12, (len(string_split(text, ' ')) // 3) * 3)
                       AS n_cells
              FROM documents
            )
            SELECT doc_id,
                   CAST((i - 1) // 3 AS INTEGER) AS row_idx,
                   CAST((i - 1) % 3 AS INTEGER) AS col_idx,
                   w[i] AS cell_text
            FROM wd, LATERAL (SELECT unnest(generate_series(1, n_cells)) AS i)
            WHERE n_cells > 0
        """)
def q_extract_html_tables(spark, sf_dir):
    """Structured extraction: HTML TABLES to relational rows. Each doc gets
    a deterministic <table> (3 cells per <tr>, one word per <td>, up to 4
    rows), the REAL parser kernel builds the flat node table, and the cell
    grid (doc_id, row_idx, col_idx, cell_text) is reconstructed
    RELATIONALLY from (node_id, pid) — the point being that the parser
    output is an ordinary DataFrame you can join/window over, no tree
    walking outside the kernel. row/col come from row_number() over
    node_id order (tokenization order = document order, parity P1-P7)."""
    w = "split(text, ' ')"
    n_cells = f"least(12, (size({w}) div 3) * 3)"
    cells = (
        f"transform(slice({w}, 1, {n_cells}), (x, i) -> concat("
        "case when i % 3 = 0 then '<tr>' else '' end, "
        "'<td>', x, '</td>', "
        "case when i % 3 = 2 then '</tr>' else '' end))"
    )
    df = documents(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.expr(f"concat('<table>', array_join({cells}, ''), '</table>')").alias(
            "html"
        ),
    )
    nodes = exploded_nodes(parse_nodes(df)).where("status = 'ok'")
    trs = nodes.where("tag = 'tr'").select(
        "doc_id",
        F.col("node_id").alias("tr_id"),
        (
            F.row_number()
            .over(Window.partitionBy("doc_id").orderBy("node_id"))
            .cast("int")
            - 1
        ).alias("row_idx"),
    )
    tds = nodes.where("tag = 'td'").select(
        "doc_id",
        F.col("node_id").alias("td_id"),
        F.col("pid").alias("tr_id"),
    )
    texts = nodes.where("kind = 'Text'").select(
        "doc_id", F.col("pid").alias("td_id"), F.col("content").alias("cell_text")
    )
    grid = (
        tds.join(trs, ["doc_id", "tr_id"])
        .join(texts, ["doc_id", "td_id"])
        .withColumn(
            "col_idx",
            (
                F.row_number()
                .over(Window.partitionBy("doc_id", "tr_id").orderBy("td_id"))
                .cast("int")
                - 1
            ),
        )
    )
    return grid.select("doc_id", "row_idx", "col_idx", "cell_text")


@query("extract_quirks", crossings=("MapInArrow",), oracle="""
            WITH d AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id, text FROM documents)
            SELECT doc_id, 'ok' AS status, 'text' AS kind,
                   '&amp; ' || text AS text, CAST(NULL AS VARCHAR) AS media_ref,
                   0 AS span_order FROM d
            UNION ALL SELECT doc_id, 'ok', 'text', ' ', NULL, 1 FROM d
        """)
def q_extract_quirks(spark, sf_dir):
    """Reference quirks, end-to-end: entities NOT decoded, comments/CDATA/
    interpolation dropped, `]]` CDATA close, whitespace-only text kept."""
    did = F.col("doc_id").cast("string")
    df = documents(spark, sf_dir).select(
        did.alias("doc_id"),
        F.array(
            F.struct(
                F.lit("text").alias("kind"),
                F.concat(
                    F.lit("<p>&amp; "),
                    F.col("text"),
                    F.lit("</p><!-- c --><div><![CDATA[x]] </div>{{ v }}"),
                ).alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.lit(0).alias("offset"),
            )
        ).alias("spans"),
    )
    return exploded_spans(extract_spans(df))


@query("diff_transform", crossings=("MapInArrow",), oracle="""
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
              CASE WHEN doc_id % 3 = 0
                   THEN '<p><ins>' || text || '</ins></p>'
                   ELSE '<p>' || text || '</p>' END AS diff_html,
              'ok' AS status, CAST(NULL AS VARCHAR) AS error,
              CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS INTEGER) AS n_ins,
              CAST(0 AS INTEGER) AS n_del
            FROM documents
        """)
def q_diff_transform(spark, sf_dir):
    """Pair each document with a planted old version (doc_id%3==0: last word
    dropped) and run the reference-exact BFS positional diff. For the
    single-text wrap the actual reference behavior has a closed form: the
    <del> is clobbered by the <ins> (insert splice(-1) quirk), leaving
    '<p><ins>new</ins></p>' — which the SQL oracle reconstructs."""
    did = F.col("doc_id").cast("string")
    docs = documents(spark, sf_dir)
    df_new = docs.select(
        did.alias("doc_id"),
        F.concat(F.lit("<p>"), F.col("text"), F.lit("</p>")).alias("html"),
    )
    old_text = F.when(
        F.expr("doc_id % 3 = 0"),
        F.expr("array_join(slice(split(text, ' '), 1, size(split(text, ' ')) - 1), ' ')"),
    ).otherwise(F.col("text"))
    df_old = docs.select(
        did.alias("doc_id"),
        F.concat(F.lit("<p>"), old_text, F.lit("</p>")).alias("html"),
    )
    return diff_documents(df_new, df_old).select(
        "doc_id", "diff_html", "status", "error", "n_ins", "n_del"
    )


@query("parse_attrs", crossings=("MapInArrow",), oracle="""
            WITH d AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id FROM documents)
            SELECT doc_id, CAST(2 AS INTEGER) AS node_id, 'div' AS tag,
                   CAST(0 AS INTEGER) AS attr_pos, 'id' AS name,
                   'a' || doc_id AS value FROM d
            UNION ALL SELECT doc_id, 2, 'div', 1, 'keep', 'k' FROM d
            UNION ALL SELECT doc_id, 3, 'p', 0, 'class',
                   CAST(NULL AS VARCHAR) FROM d
            UNION ALL SELECT doc_id, 5, 'img', 0, 'src', 'u' FROM d
            UNION ALL SELECT doc_id, 5, 'img', 1, 'alt', '' FROM d
        """)
def q_parse_attrs(spark, sf_dir):
    """Attribute table end-to-end, exercising the reference's four attr
    quirks (tokenize.ts:103-120) as output columns: `data-x-id` truncates to
    name `id` (last \\w+ run before =), valueless `nameonly` is dropped,
    quoted-empty `class=""` -> NULL value, unquoted-empty `alt=` -> ''."""
    did = F.col("doc_id").cast("string")
    df = documents(spark, sf_dir).select(
        did.alias("doc_id"),
        F.concat(
            F.lit('<div data-x-id="a'), did, F.lit('" keep="k"><p class="" nameonly>'),
            F.col("text"),
            F.lit("</p><img src=u alt=/></div>"),
        ).alias("html"),
    )
    return exploded_attrs(parse_nodes(df))


@query("diff_attrs", crossings=("MapInArrow",), oracle="""
            WITH d AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id FROM documents)
            SELECT doc_id, CAST(2 AS INTEGER) AS node_id,
                   CAST(0 AS INTEGER) AS change_pos, 'added' AS change,
                   'q' AS name, 'y' || doc_id AS value FROM d
            UNION ALL SELECT doc_id, 2, 1, 'removed', 'id', 'x' || doc_id FROM d
            UNION ALL SELECT doc_id, 2, 2, 'updated', 'class', 'b' FROM d
        """)
def q_diff_attrs(spark, sf_dir):
    """diffAttributes as queryable output (transformDiff.ts:84-125): pair
    each doc with an old version whose <p> carries different attributes —
    equal tag, equal text, so the BFS diff only annotates. Closed form per
    doc: added q (data-q truncates to q), removed id, updated class->new
    value 'b', in the annotation dict's construction order."""
    did = F.col("doc_id").cast("string")
    docs = documents(spark, sf_dir)
    df_new = docs.select(
        did.alias("doc_id"),
        F.concat(
            F.lit('<p class="b" data-q="y'), did, F.lit('">'), F.col("text"), F.lit("</p>")
        ).alias("html"),
    )
    df_old = docs.select(
        did.alias("doc_id"),
        F.concat(
            F.lit('<p class="a" id="x'), did, F.lit('">'), F.col("text"), F.lit("</p>")
        ).alias("html"),
    )
    return exploded_attr_changes(diff_documents(df_new, df_old))
