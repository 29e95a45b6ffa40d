"""Crawl and link-graph queries: URL canonicalisation, robots.txt
decisions, crawl scheduling, sitemaps, link extraction, anchor text, crawl
deltas, and fixed-round integer PageRank/HITS whose oracles replay every
round (`_pagerank_rounds_sql`, `_hits_rounds_sql`)."""

from __future__ import annotations

import re

from pyspark.sql import Window
from pyspark.sql import functions as F

from html_parser_spark import cache
from html_parser_spark.functions.crawl import crawl_delta, synth_snapshot2
from html_parser_spark.functions.graph import hits, pagerank
from html_parser_spark.functions.robots import (
    robots_decisions, sitemap_entries, sitemap_frontier, synth_robots,
    synth_sitemaps,
)
from html_parser_spark.functions.url import (
    anchor_stats, canonical_dedup, canonicalize_urls, synth_urls,
)
from html_parser_spark.operators.parse import (
    exploded_attrs, exploded_nodes, parse_nodes,
)

from registry import documents, query
from registry.plans import nodes


def _pagerank_rounds_sql(n_iter: int = 3) -> str:
    """The fixed-round integer PageRank replay, generic over upstream CTEs
    `v(node)` and `e(src, dst)` — shared by the synthetic-graph oracle and
    the extracted-domain-graph oracle (same rounds, different edges)."""
    sql = """,
        dg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS out_deg
               FROM e GROUP BY 1),
        p0 AS (SELECT node, CAST(1000000 AS BIGINT) AS pr FROM v)"""
    prev = "p0"
    for it in range(1, n_iter + 1):
        sql += f""",
        c{it} AS (
          SELECT e.dst, CAST(SUM(p.pr // d.out_deg) AS BIGINT) AS s
          FROM e JOIN dg d USING (src)
          JOIN {prev} p ON p.node = e.src
          GROUP BY 1
        ),
        p{it} AS (
          SELECT v.node,
                 CAST(150000 + (850 * COALESCE(c.s, 0)) // 1000 AS BIGINT)
                   AS pr
          FROM v LEFT JOIN c{it} c ON c.dst = v.node
        )"""
        prev = f"p{it}"
    sql += f"""
        SELECT p.node, p.pr AS pr_micro,
               CAST(COALESCE(i.in_deg, 0) AS INTEGER) AS in_deg
        FROM {prev} p
        LEFT JOIN (SELECT dst, CAST(COUNT(*) AS INTEGER) AS in_deg
                   FROM e GROUP BY 1) i ON i.dst = p.node
    """
    return sql


def _hits_rounds_sql(n_iter: int = 2) -> str:
    """Fixed-round integer HITS replay, generic over upstream CTEs
    `v(node)` and `e(src, dst)` — mirror of functions/graph.hits. Each
    round's auth/hub CTEs are referenced multiple times downstream, so
    every per-round CTE is AS MATERIALIZED (the CLAUDE.md BPE-replay
    invariant: un-materialized chains re-expand exponentially)."""
    sql = """,
        h0 AS MATERIALIZED (
          SELECT node, CAST(1000000 AS BIGINT) AS h FROM v)"""
    for it in range(1, n_iter + 1):
        sql += f""",
        ar{it} AS MATERIALIZED (
          SELECT e.dst, CAST(SUM(p.h) AS BIGINT) AS ar
          FROM e JOIN h{it - 1} p ON p.node = e.src GROUP BY 1
        ),
        a{it} AS MATERIALIZED (
          SELECT v.node,
                 CAST(COALESCE(c.ar, 0) * 1000000 //
                      (SELECT greatest(max(ar), 1) FROM ar{it})
                      AS BIGINT) AS a
          FROM v LEFT JOIN ar{it} c ON c.dst = v.node
        ),
        hr{it} AS MATERIALIZED (
          SELECT e.src, CAST(SUM(p.a) AS BIGINT) AS hr
          FROM e JOIN a{it} p ON p.node = e.dst GROUP BY 1
        ),
        h{it} AS MATERIALIZED (
          SELECT v.node,
                 CAST(COALESCE(c.hr, 0) * 1000000 //
                      (SELECT greatest(max(hr), 1) FROM hr{it})
                      AS BIGINT) AS h
          FROM v LEFT JOIN hr{it} c ON c.src = v.node
        )"""
    sql += f"""
        SELECT a.node, a.a AS auth_micro, h.h AS hub_micro
        FROM a{n_iter} a JOIN h{n_iter} h USING (node)
    """
    return sql


def _pagerank_oracle_sql(n_iter: int = 3) -> str:
    """DuckDB mirror of q_graph_pagerank (same integer rounds)."""
    return (
        """
        WITH cnt AS (SELECT COUNT(*) AS n FROM documents),
        v AS (SELECT doc_id AS node FROM documents),
        e AS (
          SELECT node AS src,
                 unnest([(node * 31 + 7) % (SELECT n FROM cnt),
                         (node * 17 + 3) % (SELECT n FROM cnt)]) AS dst
          FROM v
        )"""
        + _pagerank_rounds_sql(n_iter)
    )


def _domain_pagerank_oracle_sql(n_iter: int = 3) -> str:
    """DuckDB mirror of q_graph_domain_pagerank: the edge set replays the
    extract_links + synth_urls closed forms (src = the doc's own
    canonical host, dst = each link's canonical host; host id =
    site_number * 2 + (tld = org)), then the SAME integer rounds."""
    return (
        """
        WITH t AS (
          SELECT doc_id,
                 CAST('0x' || substr(md5(text || 'url'), 7, 2) AS INTEGER)
                   AS b3,
                 CAST('0x' || substr(md5(text || 'url'), 9, 2) AS INTEGER)
                   AS b4,
                 least(1 + doc_id % 3,
                       len(string_split(text, ' ')) // 2) AS k_eff
          FROM documents
        ),
        l AS (SELECT doc_id, b3, b4, unnest(range(0, k_eff)) AS j FROM t),
        e AS (
          SELECT (b3 % 4) * 2 + (b4 % 2) AS src,
                 ((doc_id + j) % 5) * 2 AS dst
          FROM l
        ),
        v AS (SELECT unnest(range(0, 10)) AS node)"""
        + _pagerank_rounds_sql(n_iter)
    )


# extract_links closed form, shared by the extract_links oracle and the
# web_anchor_text aggregation oracle (single source of truth — the
# _pagerank_rounds_sql pattern).
_LINKS_SQL = """
            WITH t AS (
              SELECT doc_id, string_split(text, ' ') AS w FROM documents
            ), k AS (
              SELECT doc_id, w,
                     least(1 + doc_id % 3, len(w) // 2) AS k_eff
              FROM t
            ), l AS (
              SELECT doc_id, w, unnest(range(0, k_eff)) AS j FROM k
            )
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   CAST(j AS INTEGER) AS link_idx,
                   concat('HTTP://WWW.Site', (doc_id + j) % 5, '.COM:80/p',
                          j, '/?utm_source=x&q=', j % 2) AS href,
                   concat('http://site', (doc_id + j) % 5, '.com/p', j,
                          '?q=', j % 2) AS href_canon,
                   w[CAST(2 * j + 2 AS INTEGER)] AS anchor_text
            FROM l
"""

_URL_CTES = """
            WITH h AS (
              SELECT doc_id, md5(text || 'url') AS hx FROM documents
            ), b AS (
              SELECT doc_id,
                     CAST('0x' || substr(hx, 1, 2) AS INTEGER) AS b0,
                     CAST('0x' || substr(hx, 3, 2) AS INTEGER) AS b1,
                     CAST('0x' || substr(hx, 5, 2) AS INTEGER) AS b2,
                     CAST('0x' || substr(hx, 7, 2) AS INTEGER) AS b3,
                     CAST('0x' || substr(hx, 9, 2) AS INTEGER) AS b4,
                     CAST('0x' || substr(hx, 11, 2) AS INTEGER) AS b5,
                     CAST('0x' || substr(hx, 13, 2) AS INTEGER) AS b6,
                     CAST('0x' || substr(hx, 15, 2) AS INTEGER) AS b7,
                     CAST('0x' || substr(hx, 17, 2) AS INTEGER) AS b8,
                     CAST('0x' || substr(hx, 19, 2) AS INTEGER) AS b9,
                     CAST('0x' || substr(hx, 21, 2) AS INTEGER) AS b10,
                     CAST('0x' || substr(hx, 23, 2) AS INTEGER) AS b11,
                     CAST('0x' || substr(hx, 25, 2) AS INTEGER) AS b12,
                     CAST('0x' || substr(hx, 27, 2) AS INTEGER) AS b13
              FROM h
            ), parts AS (
              SELECT doc_id,
                CASE WHEN b0 % 2 = 0 THEN 'http' ELSE 'https' END AS scheme,
                concat('site', b3 % 4, '.',
                       CASE WHEN b4 % 2 = 0 THEN 'com' ELSE 'org' END)
                  AS host_canon,
                concat(CASE WHEN b2 % 2 = 0 THEN 'www.' ELSE '' END,
                       CASE WHEN b1 % 2 = 0 THEN 'SITE' ELSE 'site' END,
                       b3 % 4, '.',
                       CASE WHEN b4 % 2 = 0 THEN 'com' ELSE 'org' END)
                  AS host_raw,
                CASE b5 % 3
                  WHEN 0 THEN CASE WHEN b0 % 2 = 0 THEN ':80' ELSE ':443' END
                  WHEN 1 THEN ':8080' ELSE '' END AS port_raw,
                CASE WHEN b5 % 3 = 1 THEN ':8080' ELSE '' END AS port_canon,
                concat('/p', b6 % 2,
                       CASE WHEN b7 % 2 = 0 THEN '/' ELSE '' END) AS path_raw,
                concat('/p', b6 % 2) AS path_canon,
                CASE b8 % 3
                  WHEN 0 THEN concat('?b=', b10 % 2, '&utm_campaign=c',
                                     b11 % 3, '&a=', b9 % 2)
                  WHEN 1 THEN concat('?a=', b9 % 2, '&b=', b10 % 2)
                  ELSE '' END AS query_raw,
                CASE WHEN b8 % 3 = 2 THEN ''
                     ELSE concat('?a=', b9 % 2, '&b=', b10 % 2) END
                  AS query_canon,
                CASE WHEN b12 % 2 = 0 THEN concat('#s', b13 % 4) ELSE '' END
                  AS frag_raw
              FROM b
            ), u AS (
              SELECT doc_id,
                concat(scheme, '://', host_raw, port_raw, path_raw,
                       query_raw, frag_raw) AS url,
                host_canon,
                concat(scheme, '://', host_canon, port_canon, path_canon,
                       query_canon) AS url_canon
              FROM parts
            )
"""


# robots: rules re-derived CLOSED-FORM from md5(host||'robots') (byte j at
# substr 2j+1; rule i uses bytes 2+3i..4+3i). cpath is always '/p'||(b6%2),
# so shape s=0/1 ('/p<d>' prefix and exact) matches iff d%4 equals the path
# digit, s=2 ('/p*') and s=3 ('/') always match. Longest-match winner =
# row_number over (l DESC, allow DESC, path DESC) — the lexicographic
# struct order Spark's array_max(struct(l, allow, path)) implements.
_ROBOTS_CTES = _URL_CTES + """
            , uu AS (
              SELECT u.doc_id, u.url, u.host_canon,
                     p.path_canon AS cpath
              FROM u JOIN parts p ON u.doc_id = p.doc_id
            ), hb AS (
              SELECT host, md5(host || 'robots') AS hr
              FROM (SELECT DISTINCT host_canon AS host FROM uu)
            ), rule_raw AS (
              SELECT host,
                CAST('0x' || substr(hr, 2*(2+3*i)+1, 2) AS INT) % 3 AS a3,
                CAST('0x' || substr(hr, 2*(3+3*i)+1, 2) AS INT) % 4 AS d,
                CAST('0x' || substr(hr, 2*(4+3*i)+1, 2) AS INT) % 4 AS s
              FROM hb, (SELECT unnest([0, 1, 2, 3]) AS i)
              WHERE i < 1 + CAST('0x' || substr(hr, 1, 2) AS INT) % 4
            ), rules AS (
              SELECT host,
                CASE s WHEN 0 THEN concat('/p', d)
                       WHEN 1 THEN concat('/p', d, '$')
                       WHEN 2 THEN '/p*' ELSE '/' END AS path,
                CASE WHEN a3 = 2 THEN 1 ELSE 0 END AS allow,
                CASE s WHEN 0 THEN 3 WHEN 1 THEN 4
                       WHEN 2 THEN 3 ELSE 1 END AS l,
                d, s
              FROM rule_raw
            ), m AS (
              SELECT uu.doc_id, r.path, r.allow,
                row_number() OVER (PARTITION BY uu.doc_id
                  ORDER BY r.l DESC, r.allow DESC, r.path DESC) AS rn
              FROM uu JOIN rules r ON uu.host_canon = r.host
              WHERE r.s IN (2, 3) OR concat('/p', r.d) = uu.cpath
            ), dec AS (
              SELECT uu.doc_id, uu.url, uu.host_canon, uu.cpath,
                     m.path AS matched_path,
                     CAST(coalesce(m.allow, 1) AS INT) AS allowed,
                     nullif(CAST('0x' || substr(hb.hr, 3, 2) AS INT) % 5, 0)
                       AS crawl_delay
              FROM uu
              LEFT JOIN (SELECT doc_id, path, allow FROM m WHERE rn = 1) m
                ON uu.doc_id = m.doc_id
              LEFT JOIN hb ON uu.host_canon = hb.host
            )
"""


@query("graph_domain_pagerank", crossings=("MapInArrow",), pins=(
    ("per-round contribution sums are map-side partial aggregation "
     "and the degree attach broadcasts (edge table never shuffles "
     "for it)",
     lambda p: "partial_sum" in p and "BroadcastHashJoin" in p),
    ("parse kernel behind the cache barrier (every per-round edge "
     "reference reads the materialized parse; ONE MapInArrow in "
     "the whole composed plan, not one per lineage embed)",
     lambda p: "InMemoryTableScan" in p),
), oracle=_domain_pagerank_oracle_sql())
def q_graph_domain_pagerank(spark, sf_dir):
    """The composed web-pipeline story end-to-end: synth_urls gives each
    doc its own page URL, extract_links runs the REAL parser over anchor
    HTML, both canonicalize through functions/url.py, hosts map to stable
    ids (site_number * 2 + tld), and the resulting domain edge list feeds
    the fixed-round integer PageRank — extraction -> canonical link graph
    -> iterative algorithm in one plan, every stage exact (the oracle
    replays the synth closed-form and then the SAME integer rounds via
    the shared _pagerank_rounds_sql chain)."""
    hid = (
        "cast(regexp_extract({h}, 'site([0-9]+)', 1) as bigint) * 2 "
        "+ if({h} like '%.org', 1, 0)"
    )
    src = canonicalize_urls(synth_urls(documents(spark, sf_dir))).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.expr(hid.format(h="host_canon")).alias("src"),
    )
    dst = q_extract_links(spark, sf_dir).select(
        "doc_id",
        F.expr(
            hid.format(h="regexp_extract(href_canon, '://([^/]*)', 1)")
        ).alias("dst"),
    )
    edges = src.join(dst, "doc_id").select("src", "dst")
    nodes = spark.range(10).select(F.col("id").alias("node"))
    return pagerank(nodes, edges)


@query("extract_links", crossings=("MapInArrow",), pins=(
    ("ONE Exchange total (the link_idx window); anchor/href/text "
     "assembly joins all broadcast",
     lambda p: nodes(p, "Exchange") == 1
     and nodes(p, "BroadcastHashJoin") >= 2),
    ("parse kernel behind a cache barrier (node AND attr consumers "
     "read the same materialized parse, not two kernel runs)",
     lambda p: "InMemoryTableScan" in p),
), oracle=_LINKS_SQL)
def q_extract_links(spark, sf_dir):
    """Link-graph extraction — THE web-pipeline operator between parsing
    and PageRank: each doc gets deterministic <a href> anchors (messy raw
    URLs: uppercase scheme/host, www., explicit default port, utm param,
    trailing slash), the REAL parser kernel builds node + attr tables,
    and (doc_id, link_idx, href, href_canon, anchor_text) is assembled
    relationally — anchors from the node table, hrefs from the attr
    table, anchor text from child Text nodes, canonical form via
    functions/url.canonicalize_urls. The oracle replays the synth
    closed-form, so the parser+attr-quirk+canonicalizer composition is
    pinned end-to-end."""
    w = "split(text, ' ')"
    k_eff = f"least(1 + pmod(doc_id, 3), size({w}) div 2)"
    anchors_html = (
        f"transform(sequence(0, {k_eff} - 1), j -> concat("
        "'<a href=\"HTTP://WWW.Site', pmod(doc_id + j, 5), '.COM:80/p', j, "
        f"'/?utm_source=x&q=', j % 2, '\">', element_at({w}, cast(2*j+2 as int)), "
        "'</a>'))"
    )
    df = documents(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.expr(
            f"concat('<div><p>', element_at({w}, 1), '</p>', "
            f"array_join(if({k_eff} > 0, {anchors_html}, array()), ''), '</div>')"
        ).alias("html"),
    )
    # persisted: the parse kernel feeds the node table AND the attr table;
    # without the barrier each consumer re-runs the Python crossing
    parsed = cache.persist(parse_nodes(df))
    nodes = exploded_nodes(parsed).where("status = 'ok'")
    anchors = nodes.where("tag = 'a'").select(
        "doc_id",
        F.col("node_id").alias("a_id"),
        (
            F.row_number()
            .over(Window.partitionBy("doc_id").orderBy("node_id"))
            .cast("int")
            - 1
        ).alias("link_idx"),
    )
    hrefs = (
        exploded_attrs(parsed)
        .where("name = 'href'")
        .select("doc_id", F.col("node_id").alias("a_id"), F.col("value").alias("href"))
    )
    texts = nodes.where("kind = 'Text'").select(
        "doc_id", F.col("pid").alias("a_id"), F.col("content").alias("anchor_text")
    )
    links = (
        anchors.join(hrefs, ["doc_id", "a_id"])
        .join(texts, ["doc_id", "a_id"])
        .select("doc_id", "link_idx", "href", "anchor_text")
    )
    return canonicalize_urls(links, "href").select(
        "doc_id",
        "link_idx",
        "href",
        F.col("url_canon").alias("href_canon"),
        "anchor_text",
    )


# modal anchor pinned with an explicit (cnt DESC, anchor ASC)
# row_number — the SQL spelling of min(struct(-cnt, anchor)).
@query("web_anchor_text", crossings=("MapInArrow",), pins=(
    ("two Exchanges, both map-side combined: (target, anchor) pair "
     "combine before the first shuffle (hot-anchor skew guard), "
     "then only the combined pair table shuffles per target",
     lambda p: nodes(p, "Exchange") == 2
     and "partial_count" in p),
    ("modal-anchor min(struct) plans as a partial+final "
     "SortAggregate pair (still map-side combined)",
     lambda p: nodes(p, "SortAggregate") == 2),
    ("parse kernel behind the cache barrier (the entry's cache "
     "scope holds the persist across the aggregation)",
     lambda p: "InMemoryTableScan" in p),
), oracle=f"""
            WITH pairs AS (
              SELECT href_canon, anchor_text, COUNT(*) AS cnt
              FROM ({_LINKS_SQL}) GROUP BY 1, 2
            ), tops AS (
              SELECT href_canon, anchor_text, cnt,
                     row_number() OVER (PARTITION BY href_canon
                       ORDER BY cnt DESC, anchor_text) AS rn
              FROM pairs
            )
            SELECT p.href_canon,
                   CAST(SUM(p.cnt) AS BIGINT) AS in_links,
                   CAST(COUNT(*) AS BIGINT) AS n_anchors,
                   t.anchor_text AS top_anchor,
                   CAST(t.cnt AS BIGINT) AS top_anchor_links
            FROM pairs p
            JOIN (SELECT * FROM tops WHERE rn = 1) t
              ON p.href_canon = t.href_canon
            GROUP BY 1, 4, 5
        """)
def q_web_anchor_text(spark, sf_dir):
    """Anchor-text aggregation per canonical target URL
    (functions/url.anchor_stats) over the REAL-parser link table from
    q_extract_links — the link-derived target-page representation (modal
    anchor + anchor vocabulary + in-link count) that search and pretraining
    pipelines attach to every URL. Two map-side-combined Exchanges; the
    oracle replays the extract_links closed form and re-derives the modal
    anchor with an explicit (cnt DESC, anchor ASC) row_number so the
    min(struct(-cnt, anchor)) tie-break is pinned exactly."""
    return anchor_stats(q_extract_links(spark, sf_dir))


# snapshot-B lanes replayed closed-form (doc_id%17: 3 gone,
# 1/5 edited, 7 spawns doc_id+1e9); md5 equality == text equality.
@query("web_crawl_delta", pins=(
    ("three Exchanges: the two full-outer SMJ sides plus the tiny "
     "(source, status) rollup — nothing else shuffles",
     lambda p: nodes(p, "Exchange") == 3
     and "SortMergeJoin" in p and "FullOuter" in p),
    ("text never crosses the shuffle: both sides reduce to the "
     "md5/length digest projection scan-side (h_a/h_b/len_a/len_b "
     "are the join payload)",
     lambda p: "md5" in p and "h_a" in p and "h_b" in p
     and "len_a" in p and "len_b" in p),
    ("scan pruned to (doc_id, text, source)",
     lambda p: "ReadSchema: struct<doc_id:bigint,text:string,"
     "source:string>" in p),
    ("rollup is map-side combined",
     lambda p: "partial_count" in p or "partial_sum" in p),
), oracle="""
            WITH a AS (
              SELECT doc_id, source, md5(text) AS h, len(text) AS l
              FROM documents
            ), b0 AS (
              SELECT doc_id, source,
                     CASE WHEN doc_id % 17 IN (1, 5) THEN text || ' rev'
                          ELSE text END AS text
              FROM documents WHERE doc_id % 17 != 3
              UNION ALL
              SELECT doc_id + 1000000000, source, 'fresh ' || text
              FROM documents WHERE doc_id % 17 = 7
            ), b AS (
              SELECT doc_id, source, md5(text) AS h, len(text) AS l FROM b0
            ), j AS (
              SELECT coalesce(b.source, a.source) AS source,
                     CASE WHEN b.doc_id IS NULL THEN 'gone'
                          WHEN a.doc_id IS NULL THEN 'new'
                          WHEN a.h = b.h THEN 'unchanged'
                          ELSE 'changed' END AS status,
                     coalesce(b.l, a.l) AS l
              FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
            )
            SELECT source, status,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(l) AS BIGINT) AS n_chars
            FROM j GROUP BY 1, 2
        """)
def q_web_crawl_delta(spark, sf_dir):
    """Incremental-recrawl snapshot delta (functions/crawl.crawl_delta):
    documents as snapshot A, a deterministic synth_snapshot2 as snapshot B
    (doc_id%17 lanes: ==3 gone, in(1,5) edited, ==7 spawns a new page),
    full-outer join on doc_id over ~50-byte scan-side digests (text never
    shuffles), rolled up to per-(source, status) doc and char budgets —
    the operator that decides which documents re-enter the extraction
    kernel each day. Oracle replays the synth lanes and the join in SQL."""
    docs = documents(spark, sf_dir).select("doc_id", "source", "text")
    return crawl_delta(docs, synth_snapshot2(docs))


@query("url_canonical_dedup", pins=(
    ("ONE Exchange total: group size and representative attach as "
     "window aggregates over the same url_canon partitioning, "
     "never a groupBy + join-back",
     lambda p: nodes(p, "Exchange") == 1),
    ("scan pruned to doc_id,text",
     lambda p: "ReadSchema: struct<doc_id:bigint,text:string>" in p),
), oracle=_URL_CTES + """
            SELECT doc_id, url, host_canon, url_canon,
                   COUNT(*) OVER (PARTITION BY url_canon) AS n_same,
                   MIN(doc_id) OVER (PARTITION BY url_canon) AS rep_doc_id
            FROM u
        """)
def q_url_canonical_dedup(spark, sf_dir):
    """URL canonicalization + canonical-key dedup (functions/url.py): the
    first dedup pass of a web corpus. Synthetic URLs from the fresh
    md5(text||'url') stream plant real canonical collisions (case, www.,
    default ports, utm params, param order, trailing slash, fragments all
    vary per doc); the GENERIC regexp canonicalizer collapses them and
    ONE window Exchange attaches group size + min-doc_id representative.
    The oracle derives the canonical form CLOSED-FORM from the same md5
    bytes — parser pinned against constructor, never parse-vs-parse."""
    return canonical_dedup(synth_urls(documents(spark, sf_dir)))


@query("url_domain_stats", oracle=_URL_CTES + """
            SELECT host_canon,
                   COUNT(*) AS n_urls,
                   COUNT(DISTINCT url_canon) AS n_pages,
                   COUNT(*) - COUNT(DISTINCT url_canon) AS n_dup_crawls
            FROM u GROUP BY host_canon
        """)
def q_url_domain_stats(spark, sf_dir):
    """Per-domain crawl profile over the canonicalized URLs: page count,
    distinct canonical pages, and the duplicate-crawl excess per
    host_canon — the groupBy(domain) shape every crawl scheduler runs.
    Map-side combinable count + distinct-agg on the canonical key."""
    return (
        canonicalize_urls(synth_urls(documents(spark, sf_dir)))
        .groupBy("host_canon")
        .agg(
            F.expr("count(*)").alias("n_urls"),
            F.expr("count(distinct url_canon)").alias("n_pages"),
            F.expr("count(*) - count(distinct url_canon)").alias("n_dup_crawls"),
        )
    )


# robots: rules re-derived CLOSED-FORM from md5(host||'robots')
# (see _ROBOTS_CTES).
@query("web_robots_decisions", pins=(
    ("URL corpus never shuffles: the ONLY Exchange is the tiny "
     "host distinct (8 rows) feeding the rule synth; the per-host "
     "rule arrays broadcast and the RFC 9309 longest-match is a "
     "row-local filter/array_max inside the scan stage",
     lambda p: nodes(p, "Exchange") == 1
     and "BroadcastExchange" in p
     and "BroadcastHashJoin LeftOuter BuildRight" in p),
    ("scan pruned to doc_id,text",
     lambda p: "ReadSchema: struct<doc_id:bigint,text:string>" in p),
), oracle=_ROBOTS_CTES + """
            SELECT doc_id, url, host_canon, cpath, matched_path, allowed,
                   crawl_delay
            FROM dec
        """)
def q_web_robots(spark, sf_dir):
    """Robots-exclusion audit (functions/robots.py): RFC 9309 longest-match
    allow/disallow per URL — the crawl-governance pass a compliance audit
    re-runs over the corpus ("was this URL allowed when fetched?"). Each
    canonical host gets a deterministic robots.txt from the fresh
    md5(host||'robots') stream (1-4 rules over four path shapes: prefix,
    $-anchored exact, * wildcard, root); the GENERIC path-pattern -> regex
    translator + row-local filter/array_max evaluate the decision against
    the BROADCAST per-host rule arrays — the URL corpus never shuffles.
    The oracle re-derives rules and the longest-match winner CLOSED-FORM
    from the same md5 bytes (constructor pins parser, like url.py)."""
    urls = synth_urls(documents(spark, sf_dir))
    hosts = canonicalize_urls(urls, "url").select("host_canon").distinct()
    return robots_decisions(urls, synth_robots(hosts, "host_canon"))


@query("web_crawl_schedule", pins=(
    ("TWO Exchanges: the tiny host distinct + ONE URL-side shuffle "
     "(the per-host FIFO window); the robots decision stays "
     "broadcast-row-local and the allowed=1 filter sits BELOW the "
     "window Exchange, shrinking the only wide shuffle",
     lambda p: nodes(p, "Exchange") == 2
     and "BroadcastExchange" in p
     and re.search(r"Window[\s\S]*Exchange[\s\S]*Filter[\s\S]*"
                   r"BroadcastHashJoin", p) is not None),
), oracle=_ROBOTS_CTES + """
            SELECT doc_id, url, host_canon,
                   CAST(row_number() OVER w AS INT) AS fetch_seq,
                   CAST((row_number() OVER w - 1)
                        * coalesce(crawl_delay, 1) AS BIGINT) AS eta_sec
            FROM dec WHERE allowed = 1
            WINDOW w AS (PARTITION BY host_canon ORDER BY doc_id)
        """)
def q_web_crawl_schedule(spark, sf_dir):
    """Politeness-scheduled crawl frontier composed from the robots pass:
    the ALLOWED URLs, sequenced per host FIFO (by doc_id) with the host's
    crawl_delay as inter-fetch spacing -> eta_sec, the earliest time each
    fetch may start under RFC 9309 politeness (delay defaults to 1 s when
    the robots.txt sets none). The schedule is the per-host work queue a
    distributed fetcher shards by host — exactly ONE URL-side Exchange
    (the host window; the robots decision itself is broadcast-row-local),
    so frontier construction at crawl scale is a single shuffle."""
    urls = synth_urls(documents(spark, sf_dir))
    hosts = canonicalize_urls(urls, "url").select("host_canon").distinct()
    dec = robots_decisions(urls, synth_robots(hosts, "host_canon"))
    w = Window.partitionBy("host_canon").orderBy("doc_id")
    return (
        dec.where("allowed = 1")
        .withColumn("fetch_seq", F.row_number().over(w).cast("int"))
        .withColumn(
            "eta_sec",
            F.expr(
                "cast((fetch_seq - 1) * coalesce(crawl_delay, 1) as bigint)"
            ),
        )
        .select("doc_id", "url", "host_canon", "fetch_seq", "eta_sec")
    )


# sitemap entries re-derived CLOSED-FORM from md5(host||'sitemap')
# (entry i uses bytes 1+3i..3+3i); the Spark side recovers them by
# PARSING the synthesized <urlset> XML with the real tree kernel,
# so a value mismatch here means the parser mangled the markup.
# Robots winner logic shared with _ROBOTS_CTES' `rules`.
@query("web_sitemap_frontier", crossings=("MapInArrow",), pins=(
    ("the only two Exchanges are the tiny host-distinct "
     "aggregations (one per branch: sitemap synth + robots synth), "
     "each map-side partial — the URL corpus never shuffles",
     lambda p: nodes(p, "Exchange") == 2
     and len(re.findall(
         r"HashAggregate[\s\S]{0,400}?Exchange[\s\S]{0,400}?"
         r"HashAggregate", p)) >= 2),
    ("sitemap XML goes through the REAL parse kernel (MapInArrow), "
     "and the robots rule arrays attach by broadcast",
     lambda p: "BroadcastHashJoin LeftOuter BuildRight" in p),
    ("the posexplode Generate is the output stage, above the "
     "kernel, not a shuffled intermediate",
     lambda p: re.search(r"Generate[\s\S]*MapInArrow", p)
     is not None),
), oracle=_ROBOTS_CTES + """
            , hs AS (SELECT DISTINCT host_canon AS host FROM u)
            , smb AS (SELECT host, md5(host || 'sitemap') AS ms FROM hs)
            , ent AS (
              SELECT host, CAST(i + 1 AS INT) AS seq,
                CAST('0x' || substr(ms, 2*(1+3*i)+1, 2) AS INT) % 4 AS pd,
                1 + CAST('0x' || substr(ms, 2*(2+3*i)+1, 2) AS INT) % 28
                  AS day,
                CAST('0x' || substr(ms, 2*(3+3*i)+1, 2) AS INT) % 10 AS pr
              FROM smb, (SELECT unnest([0, 1, 2, 3]) AS i)
              WHERE i < 1 + CAST('0x' || substr(ms, 1, 2) AS INT) % 4
            ), sm_m AS (
              SELECT e.host, e.seq, r.path, r.allow,
                row_number() OVER (PARTITION BY e.host, e.seq
                  ORDER BY r.l DESC, r.allow DESC, r.path DESC) AS rn
              FROM ent e JOIN rules r ON e.host = r.host
              WHERE r.s IN (2, 3) OR r.d = e.pd
            )
            SELECT e.host, e.seq,
              concat('https://', e.host, '/p', e.pd) AS loc,
              concat('2026-01-', lpad(CAST(e.day AS VARCHAR), 2, '0'))
                AS lastmod,
              CAST(e.pr * 100 AS INT) AS priority_permille,
              m.path AS matched_path,
              CAST(coalesce(m.allow, 1) AS INT) AS allowed
            FROM ent e
            LEFT JOIN (SELECT host, seq, path, allow
                       FROM sm_m WHERE rn = 1) m
              ON e.host = m.host AND e.seq = m.seq
        """)
def q_web_sitemap_frontier(spark, sf_dir):
    """Sitemap-discovery frontier (functions/robots.py sitemap half): a
    deterministic <urlset> XML document per canonical host (fresh
    md5(host||'sitemap') stream, 1-4 <url> entries over the SAME /p<d>
    path space the robots rules target), parsed back with the REAL tree
    kernel — not a regex — then each recovered (loc, lastmod, priority)
    entry is annotated with the host's RFC 9309 longest-match decision
    via the broadcast rule arrays. Sitemap discovery + robots governance
    are the two halves of crawl-frontier construction; this query pins
    their composition AND the parser's behavior on non-HTML markup. The
    oracle re-derives entries and winners closed-form from the same md5
    bytes (constructor pins parser)."""
    urls = synth_urls(documents(spark, sf_dir))
    hosts = canonicalize_urls(urls, "url").select("host_canon").distinct()
    ent = sitemap_entries(synth_sitemaps(hosts, "host_canon"))
    return sitemap_frontier(ent, synth_robots(hosts, "host_canon"))


@query("graph_pagerank", pins=(
    ("out-degree table joins broadcast (edge table never shuffles "
     "for the degree attach)", lambda p: "BroadcastHashJoin" in p),
    ("per-round contribution sums are map-side partial aggregation",
     lambda p: "partial_sum" in p),
), oracle=_pagerank_oracle_sql())
def q_graph_pagerank(spark, sf_dir):
    """Fixed-round integer PageRank (functions/graph.py) over a
    deterministic 2-out synthetic graph on the documents ids (doc i ->
    (31i+7) mod N and (17i+3) mod N). Integer micro-units + floored
    divisions make every round associative-exact, so the oracle replays
    the iterations EXACTLY — same trick as kmeans_embeddings."""
    docs = documents(spark, sf_dir).select(F.col("doc_id").alias("node"))
    n = docs.count()  # control-plane scalar (bounded, like checkpoint IO)
    edges = docs.selectExpr(
        "node as src",
        f"explode(array((node * 31 + 7) % {n}, (node * 17 + 3) % {n})) as dst",
    )
    return pagerank(docs, edges)


# same synthetic 2-out edges as graph_pagerank, HITS rounds
@query("graph_hits", pins=(
    ("per-round contribution sums are map-side partial aggregation",
     lambda p: "partial_sum" in p),
    ("L-inf norm scalars attach as broadcast one-row cross joins, "
     "never a single-partition window",
     lambda p: "BroadcastNestedLoopJoin" in p
     and "SinglePartition" not in p.split("AdaptiveSparkPlan")[0]),
), oracle="""
        WITH cnt AS (SELECT COUNT(*) AS n FROM documents),
        v AS (SELECT doc_id AS node FROM documents),
        e AS (
          SELECT node AS src,
                 unnest([(node * 31 + 7) % (SELECT n FROM cnt),
                         (node * 17 + 3) % (SELECT n FROM cnt)]) AS dst
          FROM v
        )"""
    + _hits_rounds_sql())
def q_graph_hits(spark, sf_dir):
    """Fixed-round integer HITS (functions/graph.hits) over the same
    deterministic 2-out graph as q_graph_pagerank — hubs vs authorities as
    the crawl-prioritization twin of PageRank. L-infinity (max) integer
    normalization instead of L2 keeps every round associative-exact, so
    the oracle replays the iterations bit-for-bit (_hits_rounds_sql);
    per-round CTEs are AS MATERIALIZED per the CLAUDE.md re-expansion
    invariant (each round references the previous one three times)."""
    docs = documents(spark, sf_dir).select(F.col("doc_id").alias("node"))
    n = docs.count()  # control-plane scalar (bounded, like checkpoint IO)
    edges = docs.selectExpr(
        "node as src",
        f"explode(array((node * 31 + 7) % {n}, (node * 17 + 3) % {n})) as dst",
    )
    return hits(docs, edges)
