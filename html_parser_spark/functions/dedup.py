"""Deduplication operators for training-data pipelines — exact, MinHash+LSH,
SimHash, n-gram Jaccard, and embedding-cosine near-dup. All JVM-side
(built-in functions only, no Python UDFs), engine-portable (md5/integer
arithmetic), and shuffle-conscious:

  - exact:     one hash-groupBy on md5(text) (map-side combinable).
  - jaccard:   shingle-explode -> equi-join on (block, shingle). Blocked on a
               low-cardinality column (source) so the join never goes
               quadratic in the corpus; at 100 TB you run minhash_lsh first
               and feed ONLY candidate pairs here.
  - minhash:   k linear-permutation min-hashes over the hashed shingles;
               banded LSH buckets -> candidate pairs via ONE bucket
               groupBy + in-bucket expansion, semi-join-shrunk
               verification (the scale path: shuffle is O(docs*k),
               candidates O(near-dups)); fuzzy_join is its cross-table
               face on the same core.
  - simhash:   32-bit sign-aggregated word-hash fingerprint computed in ONE
               per-doc fold (shuffle-free narrow projection); hamming-close
               docs collide on the integer.
  - embedding: sign-bit bucketing (16 leading dims) -> in-bucket cosine
               verification (identical/near-identical vectors share buckets).

`plant_dups` derives a corpus with deterministic exact + near duplicates from
the driver's `documents` table so dedup outputs are non-empty and
SQL-oracle-checkable at any sf.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import cache
from .similarity import _DOT, _NORM2
from .text import WORD_HASH


EXACT_OFFSET = 1_000_000  # doc_id offset for planted exact copies
NEAR_OFFSET = 2_000_000  # doc_id offset for planted near copies (last word dropped)
MINHASH_K = 8
LSH_ROWS_PER_BAND = 2  # 4 bands of 2 rows
JACCARD_THRESHOLD_PERMILLE = 600
LSH_MAX_BUCKET = 10_000  # larger buckets are boilerplate, dropped


def plant_dups(docs: DataFrame) -> DataFrame:
    """documents -> corpus with planted duplicates:
    every 5th doc gets an exact copy (doc_id + 1e6); every 7th a near copy
    with the last word dropped (doc_id + 2e6). Deterministic, SQL-mirrorable.
    """
    base = docs.select("doc_id", "text", "source")
    exact = (
        docs.where(F.expr("doc_id % 5 = 0"))
        .select((F.col("doc_id") + EXACT_OFFSET).alias("doc_id"), "text", "source")
    )
    near = (
        docs.where(F.expr("doc_id % 7 = 0"))
        .select(
            (F.col("doc_id") + NEAR_OFFSET).alias("doc_id"),
            F.expr(
                "array_join(slice(split(text, ' '), 1, size(split(text, ' ')) - 1), ' ')"
            ).alias("text"),
            "source",
        )
    )
    return base.unionAll(exact).unionAll(near)


def exact_groups(corpus: DataFrame) -> DataFrame:
    """Exact dedup: (text_md5, rep_doc_id, n_copies) for duplicate groups.
    rep = min doc_id (the canonical survivor)."""
    return (
        corpus.groupBy(F.md5("text").alias("text_md5"))
        .agg(F.min("doc_id").alias("rep_doc_id"), F.count("*").alias("n_copies"))
        .where(F.col("n_copies") > 1)
    )


CHUNK_WORDS = 5  # oracle SQL is written for this value


def chunk_dedup(corpus: DataFrame) -> DataFrame:
    """Sub-document (line-level) corpus dedup, the C4/RefinedWeb move:
    drop every repetition of a text span that occurs anywhere earlier in
    the corpus and reassemble the surviving document text. This corpus has
    no newlines, so a 'line' is a word-aligned run of ``CHUNK_WORDS``
    consecutive words (last chunk ragged) — chunked by ONE greedy regex
    pass (`[a-z]+( [a-z]+){k}`) that both engines (Java regex / RE2)
    tokenize identically; no lambda touches a split array (the
    per-element re-evaluation trap).

    Keeps the globally FIRST occurrence of each distinct chunk — order
    (doc_id, chunk_idx) ascending — and returns per doc:
    (doc_id, n_chunks, n_kept, text_dedup), where a fully-duplicate doc
    keeps its row with n_kept = 0 and text_dedup = ''.

    Scale shape: ONE wide exchange — a window over chunk text ranks
    occurrences and row_number()=1 marks keepers, moving each occurrence
    exactly once (a groupBy-winners + join-back would shuffle the
    occurrence table twice) — then the per-doc reassembly groupBy.
    Nothing is pairwise; chunk groups are tiny so the per-key sort is
    O(copies log copies)."""
    from pyspark.sql import Window

    pat = "[a-z]+( [a-z]+){0,%d}" % (CHUNK_WORDS - 1)
    chunks = corpus.select(
        "doc_id",
        F.expr(f"posexplode(regexp_extract_all(text, '{pat}', 0))").alias(
            "chunk_idx", "chunk"
        ),
    )
    w = Window.partitionBy("chunk").orderBy("doc_id", "chunk_idx")
    ranked = chunks.withColumn(
        "kept", (F.row_number().over(w) == 1).cast("int")
    )
    return ranked.groupBy("doc_id").agg(
        F.count("*").alias("n_chunks"),
        F.sum("kept").alias("n_kept"),
        F.expr(
            "array_join(transform(array_sort(collect_list("
            "case when kept = 1 then struct(chunk_idx, chunk) end)), "
            "s -> s.chunk), ' ')"
        ).alias("text_dedup"),
    )


def shingle_array_expr() -> str:
    """SQL expression: the distinct HASHED word 3-gram shingle set of `text`
    as an array<bigint> — the narrow-projection building block shared by the
    exploded `shingles` table and the projection-only LSH path.

    Shingles are hashed to 60-bit ints (first 15 md5 hex chars) before the
    set operations — the standard web-scale trick: the Jaccard join/shuffle
    keys become fixed-width bigints instead of variable strings (~3x faster
    shuffle + compare at 100 TB), at a vanishing collision rate (~1e-9 for
    1e5-shingle docs). The SQL oracle applies the identical hash, so results
    stay exactly comparable."""
    # zip_with over shifted slices, NOT transform(sequence, i -> w[i]):
    # indexing the split inside a lambda re-evaluates the split PER ELEMENT
    # (O(words^2) per doc — measured 10x slower); zip_with arguments are
    # evaluated once per row. Out-of-range zip positions pad null, concat
    # propagates null, filter drops them -> exactly size-2 trigrams.
    w = "split(text, ' ')"
    bigrams = (
        f"zip_with({w}, slice({w}, 2, greatest(size({w}) - 1, 0)), "
        "(x, y) -> concat(x, ' ', y))"
    )
    trigrams = (
        f"filter(zip_with({bigrams}, slice({w}, 3, greatest(size({w}) - 2, 0)), "
        "(xy, z) -> concat(xy, ' ', z)), s -> s is not null)"
    )
    return (
        f"array_distinct(transform({trigrams}, "
        "g -> cast(conv(substr(md5(g),1,15),16,10) as bigint)))"
    )


def shingles(corpus: DataFrame) -> DataFrame:
    """(doc_id, source, g): distinct hashed shingles, one row per shingle —
    the exploded form used by the join-based Jaccard reference path."""
    return corpus.select(
        "doc_id", "source", F.explode(F.expr(shingle_array_expr())).alias("g")
    )


def _doc_sizes(sh: DataFrame) -> DataFrame:
    return sh.groupBy("doc_id").agg(F.count("*").alias("sz"))


def jaccard_pairs(
    corpus: DataFrame, threshold_permille: int = JACCARD_THRESHOLD_PERMILLE
) -> DataFrame:
    """N-gram Jaccard near-dup pairs, blocked on `source`:
    (doc_a, doc_b, inter, union_sz, jacc_permille), jacc >= threshold.
    Integer-exact: jacc_permille = div(1000*inter, |A|+|B|-inter).

    Blocking bounds the all-pairs join but MISSES cross-block duplicates —
    use minhash_lsh_pairs (global, candidate-bounded) as the primary dedup
    path; this operator is the exact-within-block reference.

    The shingle set feeds three consumers (two join sides + sizes), so it is
    persisted through `cache.persist` and released when the caller's cache
    scope closes."""
    sh = cache.persist(shingles(corpus))
    sizes = _doc_sizes(sh)
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "inter",
            F.expr("sz_a + sz_b - inter").alias("union_sz"),
            F.expr("div(1000 * inter, sz_a + sz_b - inter)").alias("jacc_permille"),
        )
        .where(F.col("jacc_permille") >= threshold_permille)
    )


MINHASH_P = 2147483647  # 2^31-1: a*(g%P)+b < 2^62, no int64 overflow


def minhash_params(k: int = MINHASH_K) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) for the linear-permutation MinHash family
    h_i(g) = (a_i * (g mod P) + b_i) mod P — derived from md5 so Spark and
    the SQL oracle embed identical literals."""
    import hashlib

    params = []
    for i in range(k):
        a = int(hashlib.md5(f"a{i}".encode()).hexdigest()[:8], 16) % (MINHASH_P - 1) + 1
        b = int(hashlib.md5(f"b{i}".encode()).hexdigest()[:8], 16) % MINHASH_P
        params.append((a, b))
    return params


def band_key_exprs(
    garr: str, k: int = MINHASH_K, rows_per_band: int = LSH_ROWS_PER_BAND
) -> list[str]:
    """The LSH band keys of a shingle-array SQL expression, one SQL
    expression per band: key = md5 of the band's min-hashes joined in order,
    where min-hash i is array_min of the permutation h_i over the array — a
    narrow projection (no explode, no groupBy), and each min-hash is
    computed in exactly one band. The batch paths pass their cached `garr`
    column; the streaming path (streaming/stateful.band_rows) passes its
    projected `garr` column, so both bucket identically."""
    mh = [
        f"array_min(transform({garr}, g -> "
        f"pmod({a}L * pmod(g, {MINHASH_P}L) + {b}L, {MINHASH_P}L)))"
        for a, b in minhash_params(k)
    ]
    r = rows_per_band
    return [
        f"md5(concat_ws('|', {', '.join(mh[i:i + r])}))"
        for i in range(0, k // r * r, r)
    ]


def _shingle_arrays(df: DataFrame, *keep: str) -> DataFrame:
    """(*keep, garr) for every doc with at least one shingle. Persisted: the
    array table feeds the band path AND the verify path, and without the
    cache barrier Catalyst inlines the shingle expression into every
    consumer branch (x3 again under plant_dups-style unions — measured 18
    md5 passes); the filter sits ABOVE the cache so predicate pushdown
    cannot substitute the alias either. Docs with <3 words have no shingles
    (the exploded form drops them implicitly; here the filter also keeps
    them from colliding into one degenerate bucket)."""
    garr = cache.persist(
        df.select(*keep, F.expr(shingle_array_expr()).alias("garr"))
    )
    return garr.where(F.expr("size(garr) > 0"))


def _lsh_candidates(
    garr: DataFrame,
    ids: Column,
    pair_expr: str,
    max_bucket: int,
    observation=None,
) -> DataFrame:
    """Distinct candidate pairs from ONE groupBy on (band, key): each
    bucket's members aggregate to `ids`, and `pair_expr` expands them to
    struct pairs in-bucket — no bands self-join (which would shuffle the
    band table twice and build a join hash table for data that is 99%
    singleton buckets). Buckets over `max_bucket` members are dropped
    (boilerplate docs sharing a signature would expand quadratically) and
    counted by `observation` when one is given. Persisted: the pairs feed
    the candidate-array shrink and the verify join."""
    keys = band_key_exprs("garr")
    cells = ", ".join(f"{band}, {key}" for band, key in enumerate(keys))
    buckets = (
        garr.select("*", F.expr(f"stack({len(keys)}, {cells}) as (band, key)"))
        .groupBy("band", "key")
        .agg(ids.alias("ids"))
    )
    if observation is not None:
        dropped = f"size(ids) > {max_bucket}"
        buckets = buckets.observe(
            observation,
            F.expr(f"coalesce(sum(case when {dropped} then 1 else 0 end), 0)")
            .alias("dropped_buckets"),
            F.expr(f"coalesce(sum(case when {dropped} then size(ids) else 0 end), 0)")
            .alias("dropped_doc_slots"),
        )
    return cache.persist(
        buckets.where(F.expr(f"size(ids) > 1 and size(ids) <= {max_bucket}"))
        .select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.*")
        .distinct()
    )


def _verify_candidates(
    candidates: DataFrame,
    a_col: str,
    b_col: str,
    a_arr: DataFrame,
    b_arr: DataFrame,
    threshold_permille: int,
) -> DataFrame:
    """Exact Jaccard over the candidate pairs only (the whole point of LSH):
    (a_col, b_col, inter, union_sz, jacc_permille), jacc >= threshold.
    Each side's array table shrinks to its candidate docs (a semi-join
    narrow over the corpus scan; one shrink when both sides are the same
    table), and the cached candidate arrays attach to the pairs by doc_id.
    No join hints: AQE picks broadcast or shuffle per join from the stage
    sizes against the session's autoBroadcastJoinThreshold.
    Sizes and intersections are bigint: size() is int32, but the output
    contract (shared with jaccard_pairs' count(*) form and the SQL oracle)
    is bigint — the driver hashes TYPED frames."""

    def ids(col: str) -> DataFrame:
        return candidates.select(F.col(col).alias("doc_id"))

    def shrink(arr: DataFrame, keep: DataFrame) -> DataFrame:
        # persisted: without the cache barrier each attach join re-runs the
        # whole semi-join subplan (AQE does not reuse those exchanges —
        # observed 4 BroadcastExchanges, 2 full array-table passes)
        return cache.persist(
            arr.join(keep, "doc_id", "left_semi").withColumn(
                "sz", F.expr("cast(size(garr) as bigint)")
            )
        )

    if a_arr is b_arr:
        # no distinct: a semi-join build side tolerates duplicate keys
        ca = cb = shrink(a_arr, ids(a_col).union(ids(b_col)))
    else:
        ca, cb = shrink(a_arr, ids(a_col)), shrink(b_arr, ids(b_col))
    ca, cb = ca.alias("ca"), cb.alias("cb")
    return (
        candidates.join(ca, F.col(a_col) == F.col("ca.doc_id"))
        .join(cb, F.col(b_col) == F.col("cb.doc_id"))
        .select(
            a_col,
            b_col,
            F.expr("cast(size(array_intersect(ca.garr, cb.garr)) as bigint)").alias(
                "inter"
            ),
            F.col("ca.sz").alias("sz_a"),
            F.col("cb.sz").alias("sz_b"),
        )
        .select(
            a_col,
            b_col,
            "inter",
            F.expr("sz_a + sz_b - inter").alias("union_sz"),
            F.expr("div(1000 * inter, sz_a + sz_b - inter)").alias("jacc_permille"),
        )
        .where(F.col("jacc_permille") >= threshold_permille)
    )


def minhash_lsh_pairs(
    corpus: DataFrame,
    threshold_permille: int = JACCARD_THRESHOLD_PERMILLE,
    max_bucket: int = LSH_MAX_BUCKET,
    observation=None,
) -> DataFrame:
    """MinHash+LSH near-dup detection (the 100 TB scale path): banded bucket
    grouping proposes candidates, exact Jaccard verifies — restricted to the
    candidates, never all pairs. Output shape equals jaccard_pairs.

    Unlike jaccard_pairs this is GLOBAL (no source blocking): LSH's cost is
    already bounded by the banding, and blocking misses genuine cross-block
    duplicates (the driver's documents table contains planted near-dups
    across sources — verified: LSH finds them, blocked Jaccard cannot).

    Scale shape (the parts that matter at 10^12 docs) — TWO shuffles total
    when the verify joins broadcast:
      - signatures and doc sizes are NARROW PROJECTIONS over the per-doc
        shingle array (array_min over a transform), not an explode + groupBy:
        a doc's shingles never leave its row;
      - candidates come from ONE groupBy on (band, key) + an in-bucket pair
        expansion; the only other shuffle is the pair distinct;
      - max_bucket drops degenerate buckets (>max_bucket docs in one bucket
        means the pairs are near-identical junk better handled by exact
        dedup). Pass an `observation` (pyspark.sql.Observation) to COUNT
        the loss: it records `dropped_buckets` and `dropped_doc_slots`
        (bucket-membership slots, a doc dropped from several bands counts
        once per band) when the candidate set materializes — no silent
        coverage loss at scale;
      - verification is array_intersect over the candidate docs' shingle
        arrays: the corpus-wide shingle set is never shuffled and never
        joined wide. Cost O(candidate docs x shingles). AQE picks each
        verify join's strategy from the cached stage sizes.
    The three intermediates (shingle arrays, candidates, candidate arrays)
    persist through `cache.persist` and are released when the caller's
    cache scope closes; with no scope open they are recomputed per consumer
    branch. Building the plan runs no job.
    Mega-doc caveat: the per-doc array form assumes a bounded document size
    (the extraction pipeline upstream enforces this); for pathological
    single-doc shingle sets beyond executor row limits, the exploded
    jaccard_pairs path degrades more gracefully."""
    garr = _shingle_arrays(corpus, "doc_id")
    # ids arrive sorted, so each pair is emitted once as (smaller, larger)
    pair_expr = (
        "flatten(transform(ids, (a, i) -> "
        "transform(slice(ids, i + 2, greatest(size(ids) - i - 1, 0)), "
        "b -> struct(a as doc_a, b as doc_b))))"
    )
    candidates = _lsh_candidates(
        garr,
        F.array_sort(F.collect_list("doc_id")),
        pair_expr,
        max_bucket,
        observation,
    )
    return _verify_candidates(
        candidates, "doc_a", "doc_b", garr, garr, threshold_permille
    )


def decontaminate(
    docs: DataFrame, benchmark: DataFrame, threshold: int = 5
) -> DataFrame:
    """Benchmark decontamination — the standard pretraining-data step of
    flagging training documents that overlap an evaluation set:
    (doc_id, n_overlap, is_contaminated) where n_overlap = |distinct
    3-gram shingles shared with ANY benchmark doc| and is_contaminated =
    1 iff n_overlap >= threshold. Benchmark members themselves flag (they
    share all their own shingles) — the correct semantics for an eval set
    drawn from the corpus.

    Scale shape (10^12 training docs x a ~10^5-doc benchmark): the
    benchmark shingle set is the SMALL side, so it broadcasts; the
    per-doc overlap is one hash probe per shingle (broadcast hash join)
    followed by a map-side-combinable groupBy — the corpus is never
    shuffled wide, and docs with zero overlap rejoin via a left join
    whose right side is only the contaminated/overlapping docs (AQE
    broadcasts it when small)."""
    bench_g = shingles(benchmark).select("g").distinct()
    hits = (
        shingles(docs)
        .select("doc_id", "g")
        .join(F.broadcast(bench_g), "g")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlap"))
    )
    return (
        docs.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.expr("coalesce(n_overlap, 0L)").alias("n_overlap"),
            F.expr(
                f"cast(coalesce(n_overlap, 0L) >= {threshold} as int)"
            ).alias("is_contaminated"),
        )
    )


def simhash_expr(text_col: str = "text") -> str:
    """The 32-bit SimHash of a text column as ONE SQL expression (usable in
    any projection, including streaming key_exprs): bit_j = 1 iff sum over
    distinct words of (+1 if bit j of h(w) else -1) > 0."""
    h = WORD_HASH.format(w="w")
    hashes = f"transform(array_distinct(split({text_col}, ' ')), w -> {h})"
    step = (
        "(acc, hv) -> zip_with(acc, sequence(0, 31), "
        "(a, j) -> a + case when (shiftright(hv, j) & 1) = 1 then 1 else -1 end)"
    )
    finish = (
        "acc -> aggregate(zip_with(acc, sequence(0, 31), "
        "(s, j) -> case when s > 0 then shiftleft(1L, j) else 0L end), "
        "0L, (x, y) -> x + y)"
    )
    return f"aggregate({hashes}, array_repeat(0, 32), {step}, {finish})"


def simhash(corpus: DataFrame) -> DataFrame:
    """(doc_id, simhash): 32-bit SimHash over the distinct-word set.

    Shuffle-free shape: ALL 32 bit-sums accumulate in ONE per-doc fold (a
    32-element int-array accumulator over the hashed distinct words), then
    bits pack in the fold's finish lambda — a narrow whole-row projection
    like `fingerprint`, no explode, no groupBy, no Exchange. (The previous
    formulation exploded docs x words x 32 rows through two wide shuffles —
    correct, but the wrong shape for a 100 TB corpus.) Each word is hashed
    once (transform before the fold); sequence(0,31) inside the step lambda
    is a constant 32-element build per step, not the per-element
    re-evaluation trap (that trap is indexing an expression-built ARRAY
    inside a lambda, e.g. split(text)[i])."""
    return corpus.select("doc_id", F.expr(simhash_expr("text")).alias("simhash"))


EMB_OFFSET = 100_000


def plant_embedding_dups(embs: DataFrame) -> DataFrame:
    """embeddings -> corpus with planted identical copies every 4th vec."""
    return embs.select("vec_id", "embedding", "label").unionAll(
        embs.where(F.expr("vec_id % 4 = 0")).select(
            (F.col("vec_id") + EMB_OFFSET).alias("vec_id"), "embedding", "label"
        )
    )


def sign_bucket_expr(col: str) -> str:
    """Integer bucket from the sign pattern of the first 16 dims."""
    return (
        "aggregate(sequence(0, 15), 0L, "
        f"(acc, d) -> acc + case when cast({col}[d] as double) > 0.0 "
        f"then shiftleft(1L, d) else 0L end)"
    )


def embedding_dups(corpus: DataFrame) -> DataFrame:
    """Embedding-cosine near-dup pairs via sign-bit bucketing:
    (vec_a, vec_b, cos >= 0.999). Buckets on the 16 leading sign bits
    (identical vectors always collide), verifies cosine inside buckets —
    linear shuffle, no quadratic cross join. Cosine is a deterministic left-fold (bit-equal
    across engines)."""
    bucketed = corpus.withColumn("bucket", F.expr(sign_bucket_expr("embedding")))
    a, b = bucketed.alias("a"), bucketed.alias("b")
    dot = _DOT.format(a="a.embedding", b="b.embedding")
    na2 = _NORM2.format(a="a.embedding")
    nb2 = _NORM2.format(a="b.embedding")
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.expr(f"{dot} / (sqrt({na2}) * sqrt({nb2}))").alias("cos"),
        )
        .where(F.col("cos") >= 0.999)
    )


# ---------------------------------------------------------------------------
# Duplicate-cluster resolution: pairs -> connected components
# ---------------------------------------------------------------------------

CC_MAX_ROUNDS = 40


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star step (Kiveris et al., "Connected Components in MapReduce
    and Beyond", SoCC'14): for every node u, connect each STRICTLY LARGER
    neighbor to the minimum of u's closed neighborhood. One groupBy + one
    equi-join, both keyed on u — the join reuses the aggregation's hash
    partitioning, so the step costs one shuffle of the (symmetrized) edge
    set plus a co-partitioned join. High-degree hubs are the case this
    step exists for: all their neighbors re-attach directly to the
    neighborhood min, halving tree heights without ever collecting a
    neighbor list on one task."""
    sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = (
        sym.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select("u", F.least("mn", "u").alias("m"))
    )
    return (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star step: orient every edge large->small, then connect each
    smaller neighbor (and u itself) to the minimum smaller neighbor. Same
    two-shuffle shape as _large_star."""
    dird = (
        edges.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    mins = dird.groupBy("u").agg(F.min("v").alias("m"))
    return (
        dird.join(mins, "u")
        .where(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .union(mins.select(F.col("u"), F.col("m").alias("v")))
        .distinct()
    )


def connected_components(pairs: DataFrame, max_rounds: int = CC_MAX_ROUNDS) -> DataFrame:
    """Duplicate-CLUSTER resolution — the transitive-closure step between
    "near-dup pairs" and "drop list". Near-dup detection emits pairs
    (A~B, B~C); keeping one survivor per group needs the connected
    component {A,B,C}. Output: (doc_id, rep_doc_id, cluster_size) for
    every node that appears in at least one pair, where rep_doc_id is the
    component-wide MIN doc_id (the canonical survivor) — so the drop list
    is simply `doc_id != rep_doc_id`.

    Algorithm: alternating large-star / small-star (Kiveris et al.,
    SoCC'14) — the shape that survives 10^12 edges. Each round is two
    star ops (each one groupBy + one co-partitioned join over the edge
    set); the edge count never exceeds the input's symmetrized size, and
    the round count is O(log n) REGARDLESS of component diameter (plain
    min-label propagation is O(diameter) — a 10^6-doc boilerplate chain
    would need 10^6 rounds; this needs ~20). Hub skew is handled by
    construction: large-star re-attaches a hub's neighbors directly to
    the min, never collecting a neighbor list.

    Driver loop mechanics (all bounded control-plane work): each round
    `cache.checkpoint`s the new edge set — MANDATORY, not an optimization:
    one star round references its input ~4 times (union+swap, join back),
    so without truncation the logical plan grows ~16x per round and
    Catalyst analysis OOMs by round 4 (observed). Checkpointing resets
    the plan to a scan, keeping analysis O(1) per round. The previous
    round's edge set is released once the new one is materialised, so the
    caller's cache scope (which it must hold) keeps one edge set: the
    returned labels' input. Convergence = the (count, bit_xor(xxhash64))
    signature repeating — exact on count, collision-free on the checksum
    to ~2^-64 per round (xor is safe: the edge set is distinct so no pair
    self-cancels, and unlike sum it cannot overflow under ANSI
    arithmetic).

    No reference analogue (the reference dedups nothing); public
    algorithm, built from scratch on the DataFrame API."""
    edges = cache.checkpoint(
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .where(F.col("u").isNotNull() & F.col("v").isNotNull())
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    sig = None
    for _ in range(max_rounds):
        prev, edges = edges, cache.checkpoint(_small_star(_large_star(edges)))
        cache.release(prev)
        cnt, chk = edges.agg(
            F.count("*").alias("c"), F.expr("bit_xor(xxhash64(u, v))").alias("h")
        ).first()
        if (cnt, chk) == sig:
            break
        sig = (cnt, chk)
    else:
        raise RuntimeError(f"connected_components: no fixpoint in {max_rounds} rounds")
    # converged star forest: every edge is (member u -> component-min v)
    members = edges.select(
        F.col("u").alias("doc_id"), F.col("v").alias("rep_doc_id")
    )
    roots = (
        edges.select(F.col("v").alias("doc_id"))
        .distinct()
        .withColumn("rep_doc_id", F.col("doc_id"))
    )
    labels = members.union(roots)
    sizes = labels.groupBy("rep_doc_id").agg(F.count("*").alias("cluster_size"))
    return labels.join(sizes, "rep_doc_id").select(
        "doc_id", "rep_doc_id", "cluster_size"
    )


def fuzzy_join(left: DataFrame, right: DataFrame) -> DataFrame:
    """Near-duplicate JOIN between two corpora by text similarity — the
    cross-TABLE face of minhash_lsh_pairs (same banded machinery, same
    two-shuffle scale shape) for "which rows of B match rows of A"
    questions: benchmark contamination against a training corpus, vendor
    catalog reconciliation, incremental-ingest dedup against the lake.

    Both inputs are (doc_id, text). Output: (left_id, right_id, inter,
    union_sz, jacc_permille) for cross-corpus pairs at/above threshold —
    pairs WITHIN one corpus are never proposed (the bucket expansion is
    left-ids x right-ids, not all-pairs), so a table joined against a
    small reference set does candidate work proportional to the matches,
    not to its own near-dup structure.

    Signatures, buckets and verification are minhash_lsh_pairs' own core;
    only the in-bucket expansion and the `side` column differ. AQE picks
    each verify join's strategy, so a candidate set too large to broadcast
    verifies by shuffle. The shingle arrays, the candidates and both sides'
    candidate arrays persist through `cache.persist` and are released when
    the caller's cache scope closes."""
    u = left.selectExpr("0 as side", "doc_id", "text").unionByName(
        right.selectExpr("1 as side", "doc_id", "text")
    )
    garr = _shingle_arrays(u, "side", "doc_id")
    # expansion is the CROSS product of the bucket's left ids x right ids only
    pair_expr = (
        "flatten(transform(filter(ids, x -> x.side = 0), a -> "
        "transform(filter(ids, x -> x.side = 1), "
        "b -> struct(a.doc_id as left_id, b.doc_id as right_id))))"
    )
    candidates = _lsh_candidates(
        garr,
        F.collect_list(F.struct("side", "doc_id")),
        pair_expr,
        LSH_MAX_BUCKET,
    )
    return _verify_candidates(
        candidates,
        "left_id",
        "right_id",
        garr.where("side = 0"),
        garr.where("side = 1"),
        JACCARD_THRESHOLD_PERMILLE,
    )


# ---------------------------------------------------------------------------
# Cross-document repeated-span mining (sub-document exact-substring dedup)
# ---------------------------------------------------------------------------

REP_SPAN_N = 10  # words per n-gram; oracle SQL is written for this value


def ngram_string_array_expr() -> str:
    """SQL expression: the word REP_SPAN_N-gram STRINGS of `text`, position-
    aligned — element ``i`` is ``words[i..i+9]`` joined by single spaces,
    so the array index IS the word offset of the gram (the property the
    span-merge step needs).

    Built as a doubling cascade of ``zip_with`` over shifted ``slice``s
    (windows of 1, 2, 4, 8 words, then 8+2), NEVER ``transform(sequence,
    i -> words[i])`` — indexing an expression-built array inside a lambda
    re-evaluates it per element (the measured O(words^2) trap, see
    shingle_array_expr). Out-of-range zip positions pad null and null
    propagates through concat, so trailing invalid windows filter away and
    the surviving prefix stays position-aligned."""
    w = "split(text, ' ')"

    def merge(a: str, b: str, off: int) -> str:
        # element i of `a` (window of `off` words) + element i+off of `b`
        return (
            f"zip_with({a}, slice({b}, {off + 1}, size({w})), "
            "(x, y) -> concat(x, ' ', y))"
        )

    s2 = merge(w, w, 1)  # words i..i+1
    s4 = merge(s2, s2, 2)  # words i..i+3
    s8 = merge(s4, s4, 4)  # words i..i+7
    s10 = merge(s8, s2, 8)  # words i..i+9
    return f"filter({s10}, s -> s is not null)"


def repeated_spans(corpus: DataFrame) -> DataFrame:
    """Cross-document repeated n-gram SPAN mining — the sub-document
    exact-substring dedup of Lee et al., "Deduplicating Training Data Makes
    Language Models Better" (arXiv:2107.06499), re-expressed for Spark:
    instead of a suffix array (sequential, memory-bound), every word
    ``REP_SPAN_N``-gram occurrence is counted corpus-wide, and per document
    the positions whose gram occurs >= 2 times anywhere are merged into
    maximal spans (positions p, q merge while q - p <= REP_SPAN_N, i.e.
    their windows overlap or touch). A downstream cleaner can cut exactly
    these spans, which is the paper's remove-every-duplicated-50-gram rule
    at REP_SPAN_N words.

    Output, one row per maximal repeated span:
      (doc_id, span_seq, span_start, span_end, span_words, n_rep_grams)
    where span_start/span_end are 0-based word offsets (inclusive),
    span_seq numbers a doc's spans in order, and n_rep_grams is how many
    repeated grams the span merged.

    Scale shape: TWO shuffles total —
      1. hash-partition on the 60-bit gram hash for a window COUNT (no
         count-table join-back: one pass proposes and filters), then
      2. hash-partition on doc_id for the ordered islands merge; the final
         groupBy(doc_id, span_seq) reuses that partitioning (HashPartitioning
         on doc_id satisfies the grouping's clustered distribution), so
         Catalyst plans no third Exchange.
    Grams are hashed to fixed-width bigints before the shuffle (same 60-bit
    md5 trick as shingle_array_expr) so the wide stage never moves strings.
    No corpus-size caps: a gram repeated a million times costs one window
    partition of a million SMALL rows, never a pairwise blowup.

    The reference engine has no corpus-level operator like this (SURVEY §2.2
    — htmlParser.ts:10 is single-document); this is pipeline capability.
    """
    from pyspark.sql import Window

    occ = corpus.select(
        "doc_id",
        F.posexplode(F.expr(ngram_string_array_expr())).alias("pos", "gram"),
    ).select(
        "doc_id",
        "pos",
        F.expr("cast(conv(substr(md5(gram), 1, 15), 16, 10) as bigint)").alias("g"),
    )
    rep = occ.withColumn(
        "n_occ", F.count("*").over(Window.partitionBy("g"))
    ).where("n_occ >= 2")
    w = Window.partitionBy("doc_id").orderBy("pos")
    prev = F.lag("pos").over(w)
    brk = F.when(prev.isNull() | (F.col("pos") - prev > REP_SPAN_N), 1).otherwise(0)
    isl = rep.withColumn(
        "span_seq",
        F.sum(brk).over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("int"),
    )
    return (
        isl.groupBy("doc_id", "span_seq")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(REP_SPAN_N - 1)).alias("span_end"),
            (F.max("pos") - F.min("pos") + F.lit(REP_SPAN_N)).alias("span_words"),
            F.count("*").alias("n_rep_grams"),
        )
        .select(
            "doc_id",
            "span_seq",
            "span_start",
            "span_end",
            "span_words",
            "n_rep_grams",
        )
    )
