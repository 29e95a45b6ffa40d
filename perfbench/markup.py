"""markup_spans: the benchmark's seeded FIXTURES section 1 corpus through
``operators.extract.extract_spans`` (strict mode) to the noop sink.

Every pass is checked in the same Spark job that it times: an
``Observation`` on the kernel output gathers the status histogram, the span
total and the full output rows of a seeded sample of documents. The totals
must equal the generator's closed form, and the sample must equal
``core/oracle.process_document`` row for row.
"""

from __future__ import annotations

import os

import gen
import probes

N_DOCS = 16_000
PARTITIONS = 8
SAMPLE = 40


def reference(html: str) -> tuple:
    from html_parser_spark.core.oracle import parse_and_extract

    r = parse_and_extract(html)
    return r.spans, r.status, r.error


def write_parquet(rows: list, path: str) -> None:
    """Write (doc_id, spans) rows with the program's input schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    span_t = pa.struct(
        [("kind", pa.string()), ("text", pa.string()), ("media_ref", pa.string()), ("offset", pa.int32())]
    )
    table = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.string()),
            "spans": pa.array(
                [[dict(zip(("kind", "text", "media_ref", "offset"), s)) for s in r[1]] for r in rows],
                pa.list_(span_t),
            ),
        }
    )
    pq.write_table(table, path, row_group_size=2048)


def load_cached(spark, path: str, partitions: int, dealt: bool = False):
    """The input read once, spread over a pinned partition count, cached and
    materialised. ``dealt`` puts row ``doc-<i>`` in partition ``i % P``, so
    each partition gets the same share of documents and of mega-docs;
    otherwise rows are spread by doc_id hash."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(path)
    if dealt:
        # hash partitioning sends key k to pmod(hash(k), P): pick one key
        # per partition, then key row i by its slot i % P
        first = {}
        for r in spark.range(64 * partitions).select(
            "id", F.pmod(F.hash("id"), F.lit(partitions)).alias("p")
        ).collect():
            first.setdefault(r["p"], r["id"])
        keys = F.array(*[F.lit(first[p]).cast("long") for p in range(partitions)])
        slot = F.substring("doc_id", 5, 12).cast("long") % partitions
        df = df.repartition(partitions, F.element_at(keys, (slot + 1).cast("int")))
    else:
        df = df.repartition(partitions, F.xxhash64("doc_id"))
    df = df.cache()
    sizes = [r[0] for r in df.groupBy(F.spark_partition_id()).count().select("count").collect()]
    if dealt and len(set(sizes)) != 1:
        raise RuntimeError(f"uneven input partitions: {sorted(sizes)}")
    return df


class MarkupSpans:
    name = "markup_spans"

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.path = os.path.join(work, "markup.parquet")

    def setup_input(self, spark) -> None:
        corpus = gen.markup_corpus(self.seed, N_DOCS, reference, spread=PARTITIONS)
        self.corpus = corpus
        write_parquet(corpus.rows, self.path)
        self.input = load_cached(spark, self.path, PARTITIONS, dealt=True)
        mega = {i for i, (_, sp) in enumerate(corpus.rows) if gen.is_mega(sp)}
        idx = gen.sample_indices(self.seed, N_DOCS, SAMPLE, skip=mega)
        from html_parser_spark.core.oracle import process_document

        self.sample = {}
        for i in idx:
            doc_id, spans = corpus.rows[i]
            out, status, _ = process_document([(k, t, m) for k, t, m, _o in spans])
            self.sample[doc_id] = ([tuple(s) for s in out], status)
        self.docs = N_DOCS
        self.info = dict(corpus.summary(), partitions=PARTITIONS, sample_docs=len(self.sample))

    def _observed(self, df, obs):
        from pyspark.sql import functions as F

        st = F.col("status")
        in_sample = F.col("doc_id").isin(list(self.sample))
        return df.observe(
            obs,
            F.count(F.lit(1)).alias("docs"),
            F.sum("n_spans").alias("spans"),
            F.sum(F.when(st == "ok", 1).otherwise(0)).alias("ok"),
            F.sum(F.when(st == "error", 1).otherwise(0)).alias("error"),
            F.sum(F.when(st == "divergent", 1).otherwise(0)).alias("divergent"),
            F.collect_list(F.when(in_sample, F.struct("doc_id", "spans", "status"))).alias("sample"),
        )

    def check(self, obs) -> list:
        """Problems found in one pass's observed output (empty = correct)."""
        m = obs.get
        want = self.corpus.status_counts
        problems = []
        if m["docs"] != self.docs:
            problems.append(f"docs {m['docs']} != {self.docs}")
        if m["spans"] != self.corpus.total_spans:
            problems.append(f"spans {m['spans']} != {self.corpus.total_spans}")
        for k in ("ok", "error", "divergent"):
            if m[k] != want[k]:
                problems.append(f"{k} docs {m[k]} != {want[k]}")
        got = {r["doc_id"]: r for r in m["sample"]}
        for doc_id, (spans, status) in self.sample.items():
            r = got.get(doc_id)
            if r is None:
                problems.append(f"sample {doc_id} missing")
                continue
            out = [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in r["spans"]]
            if out != spans or r["status"] != status:
                problems.append(f"sample {doc_id} differs from the oracle")
        return problems

    def run_pass(self, spark, i: int, tracer):
        from pyspark.sql import Observation

        from html_parser_spark.operators.extract import extract_spans

        obs = Observation()
        df = self._observed(extract_spans(self.input), obs)
        with tracer.span("operators.extract.extract_spans"):
            probes.noop(df)
        return lambda: self.check(obs)

    def layers(self, spark, tracer) -> tuple:
        """Per-layer metrics and probe checks: the extract ledger and a
        strict checkpoint job over this corpus, and one cold pass of the
        registry queries over seeded tables (cold: this JVM has not run them)."""
        from dedup import ALL_QUERIES, DedupGraph, query_group

        m = probes.extract_layers(spark, tracer, self.input, self.corpus.rows, 8)
        counts = self.corpus.status_counts
        expect = {
            "doc_count": N_DOCS,
            "span_count": self.corpus.total_spans,
            "error_count": counts["error"],
            "divergent_count": counts["divergent"],
        }
        ck, problems = probes.checkpoint_layers(
            spark, tracer, self.path, os.path.join(self.work, "checkpoint"), "strict", expect
        )
        m.update(ck)
        q = DedupGraph(self.seed, os.path.join(self.work, "queries"), "probe", ALL_QUERIES)
        q.setup_input(spark)
        q_problems = q.run_pass(spark, 0, tracer)()
        m.update(q.query_layers(spark, {n: query_group("probe", 0, n) for n in ALL_QUERIES}))
        return m, [problems, q_problems]
