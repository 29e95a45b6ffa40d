"""dedup_graph: registry queries over seeded tables in the sf0.1 shape.

One pass runs dedup_minhash_lsh, dedup_semantic and graph_domain_pagerank
from ``__spark_entry__.queries()`` and collects each result. Only the
traced run adds text_bpe_vocab: two warm-up passes and one measured pass
of three queries already make a run of about 75 s, and a fourth query
would add about 15 s to every run. Each result is compared with the query's ``oracle_sql()`` run by
DuckDB over the same parquet files, using ``tools/gate_check.py``'s
comparison (column names, oracle column types, row count, exact multiset
of rows). The oracle answers are computed once in set-up.
"""

from __future__ import annotations

import os
import time

import gen
import sparkctl

PASS_QUERIES = ("dedup_minhash_lsh", "dedup_semantic", "graph_domain_pagerank")
ALL_QUERIES = PASS_QUERIES + ("text_bpe_vocab",)
N_DOCUMENTS = 5_000  # sf0.1 documents
N_VECTORS = 500  # sf0.01 embeddings: sf0.1's 2,000 make dedup_semantic alone take 20-30 s


def write_tables(seed: int, sf_dir: str, n_docs: int, n_vecs: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(sf_dir, exist_ok=True)
    d = gen.documents_table(seed, n_docs)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(d["doc_id"], pa.int64()),
                "text": pa.array(d["text"], pa.string()),
                "lang": pa.array(d["lang"], pa.string()),
                "source": pa.array(d["source"], pa.string()),
                "n_chars": pa.array(d["n_chars"], pa.int64()),
            }
        ),
        os.path.join(sf_dir, "documents.parquet"),
    )
    e = gen.embeddings_table(seed, n_vecs)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(e["vec_id"], pa.int64()),
                "embedding": pa.array(e["embedding"], pa.list_(pa.float32())),
                "label": pa.array(e["label"], pa.int32()),
            }
        ),
        os.path.join(sf_dir, "embeddings.parquet"),
    )


def query_group(prefix: str, i: int, name: str) -> str:
    return f"{prefix}-{i}/q/{name}"


class DedupGraph:
    name = "dedup_graph"

    def __init__(self, seed: int, work: str, group_prefix: str = "pass", queries=PASS_QUERIES):
        self.seed = seed
        self.work = work
        self.group_prefix = group_prefix
        self.queries = queries
        self.sf_dir = os.path.join(work, "sf")
        self.walls: dict = {q: [] for q in ALL_QUERIES}

    def setup_input(self, spark) -> None:
        import duckdb

        import __spark_entry__ as entry
        from tools import gate_check

        self.gate = gate_check
        write_tables(self.seed, self.sf_dir, N_DOCUMENTS, N_VECTORS)
        self.con = duckdb.connect()
        for t in ("documents", "embeddings"):
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(self.sf_dir, t)}.parquet'"
            )
        self.fns = entry.queries()
        self.sql = {q: entry.oracle_sql()[q] for q in ALL_QUERIES}
        self.expected = {}
        for q in ALL_QUERIES:
            res = self.con.execute(self.sql[q])
            cols = [c[0] for c in res.description]
            self.expected[q] = (cols, gate_check.rows_to_multiset(cols, res.fetchall()))
        self.docs = N_DOCUMENTS
        self.info = {
            "documents": N_DOCUMENTS,
            "embeddings": N_VECTORS,
            "oracle_rows": {q: len(self.expected[q][1]) for q in ALL_QUERIES},
        }

    def run_query(self, spark, q: str, group: str, tracer) -> tuple:
        """Run one query under job group ``group``, recording its wall;
        returns (df, rows)."""
        sparkctl.job_group(spark, group)
        with tracer.span(f"q.{q}"):
            t0 = time.perf_counter()
            df = self.fns[q](spark, self.sf_dir)
            rows = [tuple(r) for r in df.collect()]
            self.walls[q].append(time.perf_counter() - t0)
        return df, rows

    def run_pass(self, spark, i: int, tracer):
        got = {
            q: self.run_query(spark, q, query_group(self.group_prefix, i, q), tracer)
            for q in self.queries
        }
        if i < 0:  # a warm-up pass: its walls are not measurements
            for q in self.queries:
                self.walls[q].pop()
        return lambda: self.check(got)

    def check(self, got: dict) -> list:
        problems = []
        for q, (df, rows) in got.items():
            cols, want = self.expected[q]
            if sorted(df.columns) != sorted(cols):
                problems.append(f"{q}: columns {sorted(df.columns)} != {sorted(cols)}")
                continue
            drift = self.gate.type_drift(df, self.con, self.sql[q])
            if drift:
                problems.append(f"{q}: type drift {drift}")
            if self.gate.rows_to_multiset(df.columns, rows) != want:
                problems.append(f"{q}: {len(rows)} rows differ from the oracle's {len(want)}")
        return problems

    def query_layers(self, spark, groups: dict) -> dict:
        """q.<query>.wall_s (median over recorded runs), and the .jobs and
        .stages of the run under ``groups[query]``."""
        import statistics

        out = {}
        for q, group in groups.items():
            out[f"q.{q}.wall_s"] = statistics.median(self.walls[q])
            out[f"q.{q}.jobs"], out[f"q.{q}.stages"] = sparkctl.group_counts(spark, group)
        return out

    def layers(self, spark, tracer) -> tuple:
        """Per-layer metrics and probe checks. text_bpe_vocab runs twice
        (the first run warms it). The extract and checkpoint probes run over
        ``interleave_with_errors(documents)``: three docs in ten are
        malformed, the rest are the five-span template."""
        import pyarrow.parquet as pq

        import probes
        from html_parser_spark.sources.interleave import interleave_with_errors
        from markup import PARTITIONS, load_cached

        bpe = "text_bpe_vocab"
        self.run_query(spark, bpe, query_group("probe", -1, bpe), tracer)
        self.walls[bpe].pop()
        groups = {q: query_group(self.group_prefix, 0, q) for q in self.queries}
        groups[bpe] = query_group("probe", 0, bpe)
        bpe_problems = self.check({bpe: self.run_query(spark, bpe, groups[bpe], tracer)})
        m = self.query_layers(spark, groups)
        wrap = os.path.join(self.work, "wrap.parquet")
        docs = spark.read.parquet(os.path.join(self.sf_dir, "documents.parquet"))
        interleave_with_errors(docs).write.parquet(wrap)
        rows = [
            (r["doc_id"], [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]])
            for r in pq.read_table(wrap).to_pylist()
        ]
        m.update(probes.extract_layers(spark, tracer, load_cached(spark, wrap, PARTITIONS), rows, 1))
        ids = range(N_DOCUMENTS)
        divergent = sum(1 for i in ids if i % 10 == 0)
        error = sum(1 for i in ids if i % 10 in (1, 2))
        expect = {
            "doc_count": N_DOCUMENTS,
            "span_count": 5 * (N_DOCUMENTS - divergent - error),
            "error_count": error,
            "divergent_count": divergent,
        }
        ck, problems = probes.checkpoint_layers(
            spark, tracer, wrap, os.path.join(self.work, "checkpoint"), "main", expect
        )
        m.update(ck)
        return m, [bpe_problems, problems]
