"""distgrep_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first engine with the query and data-processing
capabilities of the reference (``massimostanzione/distgrep``: a MapReduce
distributed grep — see ``SURVEY.md``), generalized into a full relational +
text/LLM-pipeline surface:

- ``operators.grep``     — the reference's whole query surface (filter →
  groupBy(line).count()), plus the regex superset.
- ``operators.dedup``    — exact / hash / MinHash-LSH / SimHash / n-gram
  Jaccard deduplication.
- ``operators.similarity`` — brute-force cosine top-k, IVF and LSH ANN
  over embedding columns, and the shared vector kernels (int8 grid,
  integer L2, PQ scoring, norm-cosine, top-k tail).
- ``operators.text``     — language ID, quality scoring, token counting,
  fingerprinting.
- ``operators.multimodal`` — binary-column plumbing (decode stubbed).
- ``streaming``          — Structured-Streaming grep and windowed aggregates.
- ``queries``            — the driver-facing registry: every operator as a
  ``(spark, sf_dir) -> DataFrame`` callable with a DuckDB oracle twin.

Everything is DataFrame/Catalyst-first: logical plans are declared with the
public DataFrame API and physical strategy (partial aggregation, shuffle
placement, broadcast-vs-sort-merge, pushdown, AQE) is left to Spark.
"""

__version__ = "0.1.0"
