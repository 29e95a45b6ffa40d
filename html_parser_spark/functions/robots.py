"""Robots Exclusion Protocol (RFC 9309) rule evaluation — the crawl-
governance step of a web corpus pipeline: before a page's content enters
the corpus, the crawler's robots.txt decision for its URL must be
reproducible (compliance audits re-ask "was this URL allowed when
fetched?" at corpus scale).

Semantics implemented (the RFC 9309 core):
  * a rule matches when its path pattern prefix-matches the URL path;
    `*` matches any character run, a trailing `$` anchors the match to
    the whole path,
  * among matching allow/disallow rules the MOST SPECIFIC wins — longest
    rule string in octets (the RFC's measure, so `*`/`$` count),
  * specificity ties resolve to ALLOW (least-restrictive, per RFC),
  * no matching rule means allowed.
Single `*` user-agent group per host (the UA dimension is orthogonal to
the dataflow and would just add a group-selection join).

Scale shape: rules live as ONE array row per host — a robots.txt is a
few KB, hosts are ~1e7-1e8 even at crawl scale vs 1e12 URLs, so the
rules table broadcasts and the decision is a ROW-LOCAL filter +
array_max over the rule array inside the scan stage: the URL corpus
never shuffles. Pattern matching runs the generic regex translation
(escape, `*` -> `.*`, anchor) — the gate oracle pins it CLOSED-FORM from
the synthesizer's known rule shapes (the constructor-pins-parser pattern
of functions/url.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# one regexp_replace escapes every regex metacharacter in a literal robots
# path span (the synth space is [a-z0-9/] but the translator is generic —
# real robots paths carry dots, dashes, '~', '%'-escapes). '*' stays out of
# the class: it is the REP wildcard, translated to '.*' afterwards.
# (SQL-literal backslash doubling: the Java regex is ([.^$+?()\[\]{}|\\])
# and the replacement is \$1 — "prepend one backslash to the match".)
_META_CLASS = "'([.^$+?()\\\\[\\\\]{}|\\\\\\\\])'"
_META_REPL = "'\\\\\\\\$1'"


def _rx_expr(path: str) -> str:
    """SQL expr: the rule path string -> an anchored-prefix regex
    ('^' + escaped literal, '*' -> '.*', trailing '$' kept as the end
    anchor). The emitted patterns use only '^', '.*', '$' and escaped
    literals — a dialect subset identical in Java regex and RE2."""
    body = (
        f"if(endswith({path}, '$'), "
        f"substring({path}, 1, length({path}) - 1), {path})"
    )
    esc = f"regexp_replace({body}, {_META_CLASS}, {_META_REPL})"
    esc = f"replace({esc}, '*', '.*')"
    return f"concat('^', {esc}, if(endswith({path}, '$'), '$', ''))"


def synth_robots(hosts: DataFrame, host_col: str = "host") -> DataFrame:
    """(host, crawl_delay int?, rules array<struct<path, allow int, rx,
    l int>>): a deterministic robots.txt per host from the fresh stream
    r = md5(host||'robots'):
      crawl_delay = nullif(r1 % 5, 0); n_rules = 1 + r0 % 4;
      rule i (bytes r[2+3i], r[3+3i], r[4+3i]):
        allow_i = 1 iff r[2+3i] % 3 = 2 (else disallow);
        d_i = r[3+3i] % 4; shape s_i = r[4+3i] % 4:
          0 -> '/p<d>' (prefix)        l=3
          1 -> '/p<d>$' (exact)        l=4
          2 -> '/p*' (star wildcard)   l=3
          3 -> '/' (root, matches all) l=1
    Every field has these closed forms for the oracle; rx/l are derived
    from the path string by the GENERIC translator so the synthesizer
    pins the parser."""
    b = [
        f"cast(conv(substr(hr, {2 * j + 1}, 2), 16, 10) as int)"
        for j in range(14)
    ]
    rules = []
    for i in range(4):
        a, d, s = b[2 + 3 * i], b[3 + 3 * i], b[4 + 3 * i]
        path = (
            f"case {s} % 4 "
            f"when 0 then concat('/p', {d} % 4) "
            f"when 1 then concat('/p', {d} % 4, '$') "
            "when 2 then '/p*' else '/' end"
        )
        rules.append(
            f"struct({path} as path, "
            f"if({a} % 3 = 2, 1, 0) as allow, "
            + _rx_expr(path)
            + " as rx, length(" + path + ") as l)"
        )
    return hosts.withColumn(
        "hr", F.expr(f"md5(concat({host_col}, 'robots'))")
    ).select(
        F.col(host_col).alias("host"),
        F.expr(f"nullif({b[1]} % 5, 0)").alias("crawl_delay"),
        F.expr(
            f"slice(array({', '.join(rules)}), 1, 1 + {b[0]} % 4)"
        ).alias("rules"),
    )


def robots_decisions(urls: DataFrame, robots: DataFrame) -> DataFrame:
    """Per URL: (doc_id, url, host_canon, cpath, matched_path,
    allowed int, crawl_delay int?). The decision joins the BROADCAST
    per-host rule arrays and evaluates RFC 9309 longest-match row-locally:
    filter the rules whose pattern matches the canonical path, take
    array_max over struct(l, allow, path) — lexicographic struct order IS
    (longest, then allow-wins, then a deterministic path tie-break) — and
    default to allowed when nothing matches. Zero URL-side shuffles."""
    from .url import canonicalize_urls

    path0 = "regexp_extract(url, '^[a-zA-Z]+://[^/?#]*([^?#]*)', 1)"
    cpath = (
        f"if({path0} in ('', '/'), '/', "
        f"if(endswith({path0}, '/'), substring({path0}, 1, "
        f"length({path0}) - 1), {path0}))"
    )
    with_host = canonicalize_urls(urls).withColumn(
        "cpath", F.expr(cpath)
    )
    joined = with_host.join(
        F.broadcast(robots), with_host.host_canon == robots.host, "left"
    )
    best = (
        "array_max(transform("
        "filter(coalesce(rules, array()), r -> cpath rlike r.rx), "
        "m -> struct(m.l as l, m.allow as allow, m.path as path)))"
    )
    return joined.select(
        "doc_id",
        "url",
        "host_canon",
        "cpath",
        F.expr(f"{best}.path").alias("matched_path"),
        F.expr(f"coalesce({best}.allow, 1)").cast("int").alias("allowed"),
        "crawl_delay",
    )


def synth_sitemaps(hosts: DataFrame, host_col: str = "host") -> DataFrame:
    """(host, xml): a deterministic sitemap XML document per host from the
    fresh stream m = md5(host||'sitemap') (bytes m0..m12 — CLAUDE.md
    fixture rule: every new media/web fixture derives its own stream):

      n_urls = 1 + m0 % 4; entry i (bytes m[1+3i], m[2+3i], m[3+3i]):
        loc      = 'https://<host>/p' || (m[1+3i] % 4)   -- the SAME /p<d>
                   path space the robots rules target, so the downstream
                   allow/deny decision is non-trivial
        lastmod  = '2026-01-' || lpad(1 + m[2+3i] % 28, 2, '0')
        priority = '0.' || (m[3+3i] % 10)

    emitted as real <urlset>/<url>/<loc>/<lastmod>/<priority> markup so
    the REAL parse kernel (not a regex) recovers the entries. Every field
    has a closed form the gate oracle re-derives from the same bytes."""
    b = [
        f"cast(conv(substr(ms, {2 * j + 1}, 2), 16, 10) as int)"
        for j in range(13)
    ]
    entries = []
    for i in range(4):
        pd, day, pr = b[1 + 3 * i], b[2 + 3 * i], b[3 + 3 * i]
        entries.append(
            f"concat('<url><loc>https://', {host_col}, '/p', {pd} % 4, "
            f"'</loc><lastmod>2026-01-', lpad(1 + {day} % 28, 2, '0'), "
            f"'</lastmod><priority>0.', {pr} % 10, '</priority></url>')"
        )
    return hosts.withColumn(
        "ms", F.expr(f"md5(concat({host_col}, 'sitemap'))")
    ).select(
        F.col(host_col).alias("host"),
        F.expr(
            f"concat('<urlset>', array_join(slice(array("
            f"{', '.join(entries)}), 1, 1 + {b[0]} % 4), ''), '</urlset>')"
        ).alias("xml"),
    )


def sitemap_entries(sitemaps: DataFrame) -> DataFrame:
    """Parse sitemap XML with the REAL tree kernel and recover the entry
    list: (host, seq int, loc, lastmod, priority_permille int).

    The kernel returns the node array per sitemap; reconstruction is
    ROW-LOCAL over that array: project the text-node contents in document
    order (loc_1, lastmod_1, priority_1, loc_2, ...), split the stride-3
    interleave with index-lambda `filter`s over the MATERIALIZED column
    (never indexing a lambda-built array — the per-element re-eval trap),
    zip the three slices, and posexplode. The explode is the output, not
    an intermediate; no shuffle anywhere in this stage."""
    from ..operators.parse import parse_nodes

    parsed = parse_nodes(sitemaps, html_col="xml", id_col="host")
    texts = parsed.where("status = 'ok'").select(
        F.col("doc_id").alias("host"),
        F.expr(
            "transform(filter(nodes, n -> n.kind = 'Text'), n -> n.content)"
        ).alias("texts"),
    )
    split3 = texts.select(
        "host",
        F.expr("filter(texts, (x, i) -> i % 3 = 0)").alias("locs"),
        F.expr("filter(texts, (x, i) -> i % 3 = 1)").alias("mods"),
        F.expr("filter(texts, (x, i) -> i % 3 = 2)").alias("prs"),
    )
    return split3.select(
        "host",
        F.expr("posexplode(arrays_zip(locs, mods, prs))").alias(
            "pos", "e"
        ),
    ).select(
        "host",
        F.expr("cast(pos + 1 as int)").alias("seq"),
        F.col("e.locs").alias("loc"),
        F.col("e.mods").alias("lastmod"),
        F.expr("cast(substring(e.prs, 3, 1) as int) * 100").alias(
            "priority_permille"
        ),
    )


def sitemap_frontier(entries: DataFrame, robots: DataFrame) -> DataFrame:
    """Sitemap-discovered crawl frontier: each parsed sitemap entry
    annotated with the host's RFC 9309 robots decision for its loc path —
    the seed list a crawler actually enqueues (sitemap discovery and
    robots governance are the two halves of frontier construction).

    Same scale shape as robots_decisions: the per-host rule arrays
    BROADCAST and the longest-match is a row-local filter + array_max;
    the entry stream never shuffles."""
    joined = entries.withColumn(
        "cpath",
        F.expr("regexp_extract(loc, '^[a-z]+://[^/]*([^?#]*)', 1)"),
    ).join(F.broadcast(robots), on="host", how="left")
    best = (
        "array_max(transform("
        "filter(coalesce(rules, array()), r -> cpath rlike r.rx), "
        "m -> struct(m.l as l, m.allow as allow, m.path as path)))"
    )
    return joined.select(
        "host",
        "seq",
        "loc",
        "lastmod",
        "priority_permille",
        F.expr(f"{best}.path").alias("matched_path"),
        F.expr(f"coalesce({best}.allow, 1)").cast("int").alias("allowed"),
    )
