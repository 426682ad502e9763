"""ahrd_spark — a from-scratch PySpark-native knowledge-graph construction
engine with the query/data-processing capabilities of groupschoof/AHRD.

AHRD (reference at /root/reference, v3.11) annotates query proteins with
human-readable descriptions, GO terms and InterPro domains via lexical token
scoring over multi-database BLAST hits.  This engine re-expresses that core as
declarative Spark DataFrame plans (Catalyst-optimized, whole-stage codegen):

- ``ahrd_spark.sources``   — FASTA / BLAST8-tabular / GOA / InterPro scans
- ``ahrd_spark.functions`` — tokenization, regex blacklists/filters, formatting
- ``ahrd_spark.operators`` — scoring math (token/lexical/description scores),
  top-k, winner selection, GO transfer, InterPro most-informative filter,
  evaluation (F-beta), plus training-data-pipeline extras (dedup, similarity
  search, text stats, multimodal plumbing)
- ``ahrd_spark.plans``     — the staged docs->triples pipeline
  (mention-detect -> link-score -> canonicalize -> materialize) with
  per-stage checkpoint + lineage + exact resume
- ``ahrd_spark.streaming`` — Structured Streaming variants

Everything is built on public PySpark APIs only.
"""

__version__ = "0.5.0"
