"""wdel_spark — a PySpark-native entity-resolution / record-linkage engine.

Re-expresses the query & data-processing capabilities of the WDEL reference
(NP-NET-research/wdel, studied read-only at /root/reference) as an idiomatic
Spark pipeline: blocking join + batched pairwise scoring + iterative
connected-components clustering over an Iceberg-style table of interleaved
text + media documents.

Layout
------
functions/   pure numpy/python kernels (normalization, scorers, hash
             embeddings) shared by the Spark pandas-UDFs and the pandas
             oracle — single source of truth for semantics.
datagen/     deterministic synthetic corpus generator (seeded) producing the
             documents / kb_entities / kb_aliases / entity_vectors /
             redirects / labeled_pairs tables of FIXTURES.md.
plans/       the one ER core, ``er_ids_plan`` (blocking -> signature
             scoring -> rank-1 winners -> id fan-out -> CC), its ``Pin``
             materialization policy (lazy memory / checkpoint / durable
             snapshot) and the snapshot-resumable ``run_pipeline``.
operators/   reusable Spark operators: windowed top-k, hot-key salted join,
             large-star/small-star connected components.
sources/     snapshot (parquet + manifest) read/write, Iceberg-ready.
oracle/      pure pandas/numpy reimplementation of the pipeline used as the
             correctness oracle in tests (SURVEY.md §5).
streaming/   Structured Streaming: the core's assignment half per
             micro-batch + incremental CC maintenance.
"""

__version__ = "0.1.0"
