"""html_parser_spark — a PySpark-native main-content extraction engine with
the query/data-processing capabilities of 790891601/html-parser, rebuilt
Spark-first (not a port; reference semantics pinned via an executable oracle).

Public surface:

  operators.extract.extract_spans      fused tokenize->tree->extract kernel
                                       (mapInArrow; salted repartition opt-in)
  operators.extract.exploded_spans     one-row-per-span view
  operators.serialize.serialize_html   reference-quirk-exact HTML generate
  operators.diff.diff_documents        BFS positional pair diff (full outer
                                       join + one mapInArrow)
  operators.arrow_rows.map_rows        the one row-at-a-time Python crossing
  cache.persist / checkpoint / scope   owner-scoped lifetimes
  operators.multimodal.media_metadata  binary-column metadata kernel
  operators.layout.route_media/parse_layout_payloads   PDF/layout branch
  functions.text                       lang-ID / quality / tokens / fingerprint
  functions.dedup                      exact / Jaccard / MinHash-LSH / SimHash /
                                       embedding near-dup
  functions.similarity                 cosine top-k (brute + hyperplane LSH)
  sources.interleave                   interleaved input-table builders
  sources.checkpoint.ExtractCheckpointJob  lineage-committed resumable runs
  streaming.extract_stream             Structured Streaming wrapper
  core.oracle / core.diff              reference-exact executable semantics
"""

__version__ = "0.1.0"
