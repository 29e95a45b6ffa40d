"""URL canonicalization + canonical-URL dedup — the first dedup pass of
every web-scale corpus pipeline (the same page is crawled as http/https,
with/without www., with tracking params, fragments, default ports, and
trailing slashes; canonical-key grouping collapses them before any
content-based dedup runs).

All pure JVM string/array expressions (regexp_extract + split +
array_sort inside whole-stage codegen) — a narrow projection at 100 TB,
with ONE Exchange for the canonical-key grouping. The gate oracle
(registry/web.py `url_canonical_dedup`) synthesizes URLs from a fresh
md5(text||'url') stream and derives the expected canonical form
CLOSED-FORM from the same bytes, so the generic parser here is pinned
against the constructor — the multiscript/EXIF pattern.

Canonicalization rules (documented order, each a common-crawl-style
normalization):
  1. scheme and host lowercase
  2. leading 'www.' stripped
  3. default port stripped (http:80 / https:443); other ports kept
  4. fragment dropped
  5. utm_* tracking params dropped; remaining params sorted
     lexicographically (full 'k=v' string sort); empty query dropped
  6. trailing '/' stripped from the path ('/a/b/' == '/a/b'; a bare
     root path normalizes to '')
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def synth_urls(docs: DataFrame) -> DataFrame:
    """(doc_id, url): deterministic synthetic URL per document from the
    fresh byte stream u = md5(text||'url'):
      u0 scheme http/https; u1 host case SITE/site; u2 www. prefix;
      u3%4 site number; u4%2 tld (com/org); u5%3 port (0: explicit
      DEFAULT port, 1: ':8080', 2: none); u6%2 path segment; u7%2
      trailing slash; u8%3 query shape (0: 'b=&utm_campaign=&a=' order,
      1: 'a=&b=', 2: none) with a=u9%2, b=u10%2, campaign c<u11%3>;
      u12%2 fragment '#s<u13%4>'.
    The small key space (~320 canonical forms) plants real canonical
    collisions at gate size while raw-URL variants (case, www, utm,
    slash, fragment, default port) keep colliding rows textually
    distinct."""
    b = [
        f"cast(conv(substr(hx, {2 * i + 1}, 2), 16, 10) as int)"
        for i in range(14)
    ]
    scheme = f"if({b[0]} % 2 = 0, 'http', 'https')"
    site = f"if({b[1]} % 2 = 0, 'SITE', 'site')"
    www = f"if({b[2]} % 2 = 0, 'www.', '')"
    tld = f"if({b[4]} % 2 = 0, 'com', 'org')"
    host = f"concat({www}, {site}, {b[3]} % 4, '.', {tld})"
    port = (
        f"case {b[5]} % 3 when 0 then if({b[0]} % 2 = 0, ':80', ':443') "
        "when 1 then ':8080' else '' end"
    )
    path = f"concat('/p', {b[6]} % 2, if({b[7]} % 2 = 0, '/', ''))"
    query = (
        f"case {b[8]} % 3 "
        f"when 0 then concat('?b=', {b[10]} % 2, '&utm_campaign=c', "
        f"{b[11]} % 3, '&a=', {b[9]} % 2) "
        f"when 1 then concat('?a=', {b[9]} % 2, '&b=', {b[10]} % 2) "
        "else '' end"
    )
    frag = f"if({b[12]} % 2 = 0, concat('#s', {b[13]} % 4), '')"
    return docs.withColumn(
        "hx", F.expr("md5(concat(text, 'url'))")
    ).select(
        "doc_id",
        F.expr(
            f"concat({scheme}, '://', {host}, {port}, {path}, {query}, {frag})"
        ).alias("url"),
    )


def canonicalize_urls(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Adds (host_canon string, url_canon string) per the module-docstring
    rules. Generic over any http(s) URL column; zero shuffles."""
    u = url_col
    scheme = f"lower(regexp_extract({u}, '^([a-zA-Z]+)://', 1))"
    hostport = f"lower(regexp_extract({u}, '^[a-zA-Z]+://([^/?#]*)', 1))"
    host0 = f"regexp_extract({hostport}, '^([^:]*)', 1)"
    host = f"regexp_replace({host0}, '^www\\\\.', '')"
    port = f"regexp_extract({hostport}, ':([0-9]+)$', 1)"
    keep_port = (
        f"case when {port} = '' then '' "
        f"when {scheme} = 'http' and {port} = '80' then '' "
        f"when {scheme} = 'https' and {port} = '443' then '' "
        f"else concat(':', {port}) end"
    )
    path0 = f"regexp_extract({u}, '^[a-zA-Z]+://[^/?#]*([^?#]*)', 1)"
    path = (
        f"if({path0} in ('', '/'), '', "
        f"if(endswith({path0}, '/'), substring({path0}, 1, "
        f"length({path0}) - 1), {path0}))"
    )
    qraw = f"regexp_extract({u}, '\\\\?([^#]*)', 1)"
    params = (
        f"array_sort(filter(split({qraw}, '&'), "
        "p -> p != '' and not startswith(p, 'utm_')))"
    )
    qs = (
        f"if({qraw} = '' or size({params}) = 0, '', "
        f"concat('?', array_join({params}, '&')))"
    )
    return df.withColumn("host_canon", F.expr(host)).withColumn(
        "url_canon",
        F.expr(f"concat({scheme}, '://', {host}, {keep_port}, {path}, {qs})"),
    )


def anchor_stats(links: DataFrame) -> DataFrame:
    """Anchor-text aggregation per canonical link target — the link-derived
    document representation search and pretraining pipelines attach to each
    URL (anchor text is the web's human-written summary of the TARGET page,
    not the source page).

    Input: the link table from extraction — (doc_id, link_idx, href,
    href_canon, anchor_text) as produced by `registry/web.py` `q_extract_links`
    or any extractor + `canonicalize_urls` composition.

    Output per href_canon:
      in_links  bigint  total anchors pointing at the target
      n_anchors bigint  distinct anchor strings (vocabulary of descriptions)
      top_anchor string the MODAL anchor text, ties broken lexicographically
                        ascending (deterministic — min(struct(-cnt, text)))
      top_anchor_links bigint  the modal anchor's count

    Plan shape (plan-audited): two Exchanges, BOTH fed by map-side partial
    aggregates — groupBy(href_canon, anchor_text) combines duplicate
    (target, anchor) pairs before the first shuffle (the hot-page/hot-anchor
    skew guard: 10^9 'click here' -> one partial row per map task), and the
    second groupBy shuffles only the combined pair table. The alternative
    single-Exchange form (repartition(href_canon) reused by both aggregates)
    was rejected: it forfeits map-side combine and shuffles every raw anchor
    row, strictly more bytes at web scale than one extra combined-row
    exchange."""
    pairs = links.groupBy("href_canon", "anchor_text").agg(
        F.count("*").alias("cnt")
    )
    m = F.min(
        F.struct(
            (-F.col("cnt")).alias("neg_cnt"),
            F.col("anchor_text").alias("txt"),
        )
    ).alias("m")
    return (
        pairs.groupBy("href_canon")
        .agg(
            F.sum("cnt").cast("bigint").alias("in_links"),
            F.count("*").cast("bigint").alias("n_anchors"),
            m,
        )
        .select(
            "href_canon",
            "in_links",
            "n_anchors",
            F.col("m.txt").alias("top_anchor"),
            (-F.col("m.neg_cnt")).cast("bigint").alias("top_anchor_links"),
        )
    )


def canonical_dedup(df: DataFrame) -> DataFrame:
    """(doc_id, url, host_canon, url_canon, n_same bigint, rep_doc_id):
    group size and canonical representative (min doc_id) per canonical
    URL — attached as window aggregates over the SAME partitioning, so
    the whole dedup is ONE Exchange (CLAUDE.md window-over-join rule)."""
    from pyspark.sql import Window

    w = Window.partitionBy("url_canon")
    return (
        canonicalize_urls(df)
        .withColumn("n_same", F.count("*").over(w))
        .withColumn("rep_doc_id", F.min("doc_id").over(w))
    )
