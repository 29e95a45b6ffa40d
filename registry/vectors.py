"""Embedding queries: brute-force cosine top-k, hyperplane-LSH and IVF
ANN, quantized similarity, fixed-round k-means and SemDeDup. Cosines are
deterministic left folds (bit-identical doubles in Spark and DuckDB) and
k-means runs on integer-valued doubles, so no oracle needs a tolerance."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from html_parser_spark.functions import dedup as DD
from html_parser_spark.functions import similarity as SIM
from html_parser_spark.functions.clustering import (
    K_DEFAULT,
    SCALE,
    kmeans_assign,
    semantic_dedup,
)

from registry import embeddings, query


_DOT_D = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform(range(1, len({a}) + 1), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))), (acc, v) -> acc + v)"
)
_NORM2_D = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), "
    "(acc, v) -> acc + v)"
)


def _cos_d(a: str, b: str) -> str:
    return (
        f"{_DOT_D.format(a=a, b=b)} / "
        f"(sqrt({_NORM2_D.format(a=a)}) * sqrt({_NORM2_D.format(a=b)}))"
    )


def _plane_lit_d(plane) -> str:
    return "([" + ", ".join(repr(v) for v in plane) + "]::DOUBLE[])"


def _lsh_bucket_d(col: str) -> str:
    terms = []
    for j, plane in enumerate(SIM.hyperplanes()):
        dot = _DOT_D.format(a=col, b=_plane_lit_d(plane))
        terms.append(
            f"(CASE WHEN {dot} > CAST(0.0 AS DOUBLE) "
            f"THEN CAST({1 << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        )
    return " + ".join(terms)


def _sign_bucket_d(col: str, bits: int = 16) -> str:
    terms = [
        f"(CASE WHEN CAST({col}[{d + 1}] AS DOUBLE) > 0.0 "
        f"THEN CAST({1 << d} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for d in range(bits)
    ]
    return " + ".join(terms)


def kmeans_chain_sql(
    k: int = K_DEFAULT,
    n_iter: int = 2,
    dim: int = 64,
    source: str = "embeddings",
    final_name: str = "asg",
) -> str:
    """DuckDB mirror of kmeans_assign as a composable WITH-chain ending in
    CTE `final_name` (vec_id, cluster INTEGER, dist DOUBLE). The final CTE
    is MATERIALIZED (the CLAUDE.md re-expansion invariant: a consumer that
    references it twice — e.g. semantic_dedup's pair self-join — must not
    replay the whole iteration chain per reference)."""
    sq = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range(1, {dim + 1}), "
        "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))), (acc, v) -> acc + v)"
    )
    sums = ", ".join(f"SUM(codes[{d + 1}]) AS s{d}" for d in range(dim))
    means = ", ".join(f"m.s{d} / CAST(m.n AS DOUBLE)" for d in range(dim))
    sql = f"""
        WITH v AS (
          SELECT vec_id,
                 list_transform(embedding,
                     x -> round(CAST(x AS DOUBLE) * {SCALE}e0)) AS codes
          FROM {source}
        ), c0 AS (
          SELECT CAST(vec_id AS INTEGER) AS cid, codes AS cent
          FROM v WHERE vec_id < {k}
        )"""
    prev = "c0"
    for it in range(n_iter):
        d = sq.format(a="v.codes", b="c.cent")
        sql += f""", a{it} AS (
          SELECT * FROM (
            SELECT v.vec_id, v.codes, c.cid, {d} AS dist,
                   row_number() OVER (PARTITION BY v.vec_id
                                      ORDER BY {d}, c.cid) AS rk
            FROM v, {prev} c
          ) WHERE rk = 1
        ), m{it} AS (
          SELECT cid, COUNT(*) AS n, {sums} FROM a{it} GROUP BY cid
        ), c{it + 1} AS (
          SELECT s.cid,
                 CASE WHEN m.cid IS NULL THEN s.cent
                      ELSE [{means}] END AS cent
          FROM {prev} s LEFT JOIN m{it} m USING (cid)
        )"""
        prev = f"c{it + 1}"
    d = sq.format(a="v.codes", b="c.cent")
    sql += f""", {final_name} AS MATERIALIZED (
        SELECT vec_id, CAST(cid AS INTEGER) AS cluster, dist FROM (
          SELECT v.vec_id, c.cid, {d} AS dist,
                 row_number() OVER (PARTITION BY v.vec_id
                                    ORDER BY {d}, c.cid) AS rk
          FROM v, {prev} c
        ) WHERE rk = 1
        )"""
    return sql


def kmeans_oracle_sql(k: int = K_DEFAULT, n_iter: int = 2, dim: int = 64) -> str:
    """DuckDB mirror of kmeans_assign (same ops in the same order)."""
    return (
        kmeans_chain_sql(k, n_iter, dim)
        + "\n        SELECT vec_id, cluster, dist FROM asg\n    "
    )


def semantic_dedup_oracle_sql(
    k: int = K_DEFAULT,
    n_iter: int = 2,
    dim: int = 64,
    min_cos: str = "0.999e0",
    source: str = "embeddings",
    lead_ctes: str = "",
) -> str:
    """DuckDB mirror of semantic_dedup. `min_cos` is a string in
    e-notation (the CLAUDE.md DECIMAL-literal invariant). `lead_ctes`
    lets the caller prepend e.g. a planted-duplicate corpus CTE;
    `source` must then name that CTE."""
    cos = (
        "(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range(1, {dim + 1}), "
        "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))), "
        "(acc, v) -> acc + v))"
    )
    norm2 = (
        "(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range(1, {dim + 1}), "
        "i -> CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE))), "
        "(acc, v) -> acc + v))"
    )
    cos_ab = (
        cos.format(a="a.embedding", b="b.embedding")
        + " / (sqrt(" + norm2.format(a="a.embedding") + ") * sqrt("
        + norm2.format(a="b.embedding") + "))"
    )
    chain = kmeans_chain_sql(k, n_iter, dim, source=source)
    if lead_ctes:
        chain = chain.replace("WITH v AS (", f"WITH {lead_ctes} v AS (", 1)
    return (
        chain
        + f""", base AS MATERIALIZED (
          SELECT g.vec_id, g.cluster, g.dist, e.embedding
          FROM asg g JOIN {source} e USING (vec_id)
        ), prs AS MATERIALIZED (
          SELECT a.vec_id AS va, b.vec_id AS vb, a.dist AS da, b.dist AS db
          FROM base a JOIN base b
            ON a.cluster = b.cluster AND a.vec_id < b.vec_id
          WHERE {cos_ab} >= {min_cos}
        ), st AS (
          SELECT vec_id, CAST(COUNT(*) AS INTEGER) AS n_dups,
                 MAX(lost) AS lost
          FROM (
            SELECT va AS vec_id,
                   CASE WHEN da < db OR (da = db AND va > vb)
                        THEN 1 ELSE 0 END AS lost
            FROM prs
            UNION ALL
            SELECT vb,
                   CASE WHEN db < da OR (da = db AND vb > va)
                        THEN 1 ELSE 0 END
            FROM prs
          ) GROUP BY 1
        )
        SELECT b.vec_id, b.cluster, b.dist,
               COALESCE(st.n_dups, 0) AS n_dups,
               CAST(1 - COALESCE(st.lost, 0) AS INTEGER) AS keep
        FROM base b LEFT JOIN st USING (vec_id)
    """
    )


@query("dedup_embedding_cosine", oracle=f"""
            WITH ecorpus AS (
              SELECT vec_id, embedding, label FROM embeddings
              UNION ALL
              SELECT vec_id + {DD.EMB_OFFSET}, embedding, label
              FROM embeddings WHERE vec_id % 4 = 0
            ),
            bucketed AS (
              SELECT vec_id, embedding, {_sign_bucket_d('embedding')} AS bucket
              FROM ecorpus
            )
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   {_cos_d('a.embedding', 'b.embedding')} AS cos
            FROM bucketed a JOIN bucketed b
              ON a.bucket = b.bucket AND a.vec_id < b.vec_id
            WHERE {_cos_d('a.embedding', 'b.embedding')} >= 0.999
        """)
def q_dedup_embedding(spark, sf_dir):
    return DD.embedding_dups(DD.plant_embedding_dups(embeddings(spark, sf_dir)))


@query("dedup_semantic", pins=(
    ("cluster-BLOCKED pair join: an equi-join keyed on cluster id, "
     "never a cartesian over the corpus (quadratic only within a "
     "cluster — the SemDeDup contract; k is the scale knob)",
     lambda p: "CartesianProduct" not in p
     and "SortMergeJoin" in p),
    ("assignment+embedding base is cached once and read by the "
     "self-join's both sides plus the final keep projection",
     lambda p: "InMemoryTableScan" in p),
    ("kmeans inside keeps its row-local shape: centroids broadcast, "
     "corpus never shuffles for the distance step",
     lambda p: re.search(r"BroadcastNestedLoopJoin \w+ BuildRight", p)
     is not None),
), oracle=semantic_dedup_oracle_sql(
        source="ecorpus",
        lead_ctes=f"""ecorpus AS (
              SELECT vec_id, embedding FROM embeddings
              UNION ALL
              SELECT vec_id + {DD.EMB_OFFSET}, embedding
              FROM embeddings WHERE vec_id % 4 = 0
            ),""",
    ))
def q_dedup_semantic(spark, sf_dir):
    """SemDeDup end-to-end (Abbas et al. 2023): k-means-blocked cosine
    dedup over the planted-duplicate embedding corpus — cluster with the
    bit-exact quantized kmeans, compare pairs only within a cluster, keep
    each duplicate pair's farther-from-centroid member. The oracle replays
    clustering AND the keep rule (the kmeans chain is MATERIALIZED so the
    pair self-join doesn't re-expand it — the CLAUDE.md CTE invariant)."""
    return semantic_dedup(DD.plant_embedding_dups(embeddings(spark, sf_dir)))


@query("similarity_topk", pins=(
    ("query side broadcast (corpus never shuffled for the join)",
     lambda p: "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p),
    ("pushed filter on vec_id for the query side",
     lambda p: "PushedFilters: [IsNotNull(vec_id), LessThan(vec_id," in p),
), oracle=f"""
            WITH q AS (
              SELECT vec_id AS query_id, embedding AS q_emb
              FROM embeddings WHERE vec_id < 10
            ),
            p AS (
              SELECT q.query_id, e.vec_id AS neighbor_id,
                     {_cos_d('q.q_emb', 'e.embedding')} AS cos
              FROM embeddings e, q WHERE e.vec_id <> q.query_id
            ),
            r AS (
              SELECT query_id, neighbor_id, cos,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY cos DESC, neighbor_id) AS rk
              FROM p
            )
            SELECT query_id, neighbor_id, CAST(rk AS INTEGER) AS rank, cos
            FROM r WHERE rk <= 5
        """)
def q_similarity_topk(spark, sf_dir):
    return SIM.brute_force_topk(embeddings(spark, sf_dir))


@query("similarity_lsh_topk", oracle=f"""
            WITH bucketed AS (
              SELECT vec_id, embedding, {_lsh_bucket_d('embedding')} AS bucket
              FROM embeddings
            ),
            q AS (
              SELECT vec_id AS query_id, embedding AS q_emb, bucket AS q_bucket
              FROM bucketed WHERE vec_id < 10
            ),
            p AS (
              SELECT q.query_id, e.vec_id AS neighbor_id,
                     {_cos_d('q.q_emb', 'e.embedding')} AS cos
              FROM bucketed e, q
              WHERE e.bucket = q.q_bucket AND e.vec_id <> q.query_id
            ),
            r AS (
              SELECT query_id, neighbor_id, cos,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY cos DESC, neighbor_id) AS rk
              FROM p
            )
            SELECT query_id, neighbor_id, CAST(rk AS INTEGER) AS rank, cos
            FROM r WHERE rk <= 5
        """)
def q_similarity_lsh(spark, sf_dir):
    return SIM.hyperplane_lsh_topk(embeddings(spark, sf_dir))


@query("embedding_quantize", oracle="""
            WITH m AS (
              SELECT vec_id,
                     list_max(list_transform(embedding,
                              x -> abs(CAST(x AS DOUBLE)))) AS mx
              FROM embeddings
            ),
            c AS (
              SELECT e.vec_id, m.mx,
                     CASE WHEN m.mx = 0.0e0
                          THEN list_transform(e.embedding, x -> CAST(0 AS BIGINT))
                          ELSE list_transform(e.embedding,
                               x -> CAST(floor(CAST(x AS DOUBLE) * 127.0e0 / m.mx
                                          + 0.5e0) AS BIGINT))
                     END AS codes
              FROM embeddings e JOIN m USING (vec_id)
            )
            SELECT vec_id, mx / 127.0e0 AS scale,
                   list_reduce(list_prepend(CAST(0 AS BIGINT), codes),
                       (acc, cd) -> (acc * 31 + cd + 1000000007) % 1000000007)
                     AS code_hash,
                   CAST(len(list_filter(codes, cd -> abs(cd) = 127))
                        AS INTEGER) AS n_sat
            FROM c
        """)
def q_embedding_quantize(spark, sf_dir):
    """int8 scalar quantization of the embedding corpus: per-vector scale
    plus a base-31 mod-p fold hash that pins EVERY code element (arrays
    themselves stay out of the compare surface)."""
    q = SIM.quantize_int8(embeddings(spark, sf_dir))
    return q.select(
        "vec_id",
        "scale",
        "code_hash",
        F.expr("cast(size(filter(codes, c -> abs(c) = 127L)) as int)").alias(
            "n_sat"
        ),
    )


@query("similarity_quantized_topk", pins=(
    ("quantized query side broadcast (corpus codes scanned once, "
     "never shuffled for the join)",
     lambda p: "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p),
), oracle="""
            WITH m AS (
              SELECT vec_id,
                     list_max(list_transform(embedding,
                              x -> abs(CAST(x AS DOUBLE)))) AS mx
              FROM embeddings
            ),
            c AS (
              SELECT e.vec_id,
                     CASE WHEN m.mx = 0.0e0
                          THEN list_transform(e.embedding, x -> CAST(0 AS BIGINT))
                          ELSE list_transform(e.embedding,
                               x -> CAST(floor(CAST(x AS DOUBLE) * 127.0e0 / m.mx
                                          + 0.5e0) AS BIGINT))
                     END AS codes
              FROM embeddings e JOIN m USING (vec_id)
            ),
            q AS (
              SELECT vec_id AS query_id, codes AS q_codes FROM c
              WHERE vec_id < 10
            ),
            p AS (
              SELECT q.query_id, c.vec_id AS neighbor_id,
                     CAST(list_dot_product(q.q_codes, c.codes) AS DOUBLE)
                     / (sqrt(CAST(list_dot_product(q.q_codes, q.q_codes)
                                  AS DOUBLE))
                        * sqrt(CAST(list_dot_product(c.codes, c.codes)
                                    AS DOUBLE))) AS qcos
              FROM c, q WHERE c.vec_id <> q.query_id
            ),
            r AS (
              SELECT query_id, neighbor_id, qcos,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY qcos DESC, neighbor_id) AS rk
              FROM p
            )
            SELECT query_id, neighbor_id, CAST(rk AS INTEGER) AS rank, qcos
            FROM r WHERE rk <= 5
        """)
def q_similarity_quantized(spark, sf_dir):
    return SIM.quantized_topk(embeddings(spark, sf_dir))


@query("kmeans_embeddings", pins=(
    ("centroids broadcast to the assignment step (corpus never "
     "shuffles for the distance join; BNLJ build side is k rows)",
     lambda p: re.search(r"BroadcastNestedLoopJoin \w+ BuildRight", p)
     is not None),
    ("per-dim centroid sums are map-side partial aggregation",
     lambda p: "partial_sum" in p),
), oracle=kmeans_oracle_sql())
def q_kmeans_embeddings(spark, sf_dir):
    """Fixed-round Lloyd k-means over the embedding corpus
    (functions/clustering.py): the ITERATIVE-algorithm shape with a FULL
    bit-exact SQL oracle (quantized integer-valued doubles + left-fold
    distances + (dist, cid) tie-breaks — see module docstring). k=8
    broadcast centroids, map-side per-dim-sum updates, 2 rounds."""
    return kmeans_assign(embeddings(spark, sf_dir))


@query("similarity_ivf_topk", oracle=f"""
            WITH cents AS (
              SELECT vec_id AS cent_id, embedding AS cent_emb
              FROM embeddings WHERE vec_id < {SIM.N_IVF_CELLS}
            ),
            scored AS (
              SELECT e.vec_id, e.embedding, c.cent_id,
                     {_cos_d('e.embedding', 'c.cent_emb')} AS cent_cos
              FROM embeddings e, cents c
            ),
            assigned AS (
              SELECT vec_id, embedding, cent_id AS cell FROM (
                SELECT *, row_number() OVER (PARTITION BY vec_id
                          ORDER BY cent_cos DESC, cent_id) AS rn
                FROM scored
              ) WHERE rn = 1
            ),
            q AS (
              SELECT vec_id AS query_id, embedding AS q_emb, cell AS q_cell
              FROM assigned WHERE vec_id < 10
            ),
            p AS (
              SELECT q.query_id, e.vec_id AS neighbor_id,
                     {_cos_d('q.q_emb', 'e.embedding')} AS cos
              FROM assigned e, q
              WHERE e.cell = q.q_cell AND e.vec_id <> q.query_id
            ),
            r AS (
              SELECT query_id, neighbor_id, cos,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY cos DESC, neighbor_id) AS rk
              FROM p
            )
            SELECT query_id, neighbor_id, CAST(rk AS INTEGER) AS rank, cos
            FROM r WHERE rk <= 5
        """)
def q_similarity_ivf(spark, sf_dir):
    return SIM.ivf_topk(embeddings(spark, sf_dir))
