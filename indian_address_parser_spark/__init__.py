"""indian_address_parser_spark — a PySpark-native entity-resolution engine.

A from-scratch record-linkage (blocking → pairwise scoring → transitive
clustering) pipeline over web-page tables, whose per-mention extraction
semantics reproduce the reference single-node pipeline
(howdoiusekeyboard/indian-address-parser) byte-for-byte in rules-only mode.

Layout
------
core/       pure-Python extraction semantics (no Spark imports) — parity
            with the reference's preprocessing/extraction/refinement.
functions/  vectorized pandas/Arrow UDFs wrapping ``core``.
operators/  Spark DataFrame operators: extraction, blocking, candidate
            pairs, similarity scoring, connected components, dedup,
            similarity search, text analysis.
sources/    deterministic synthetic ``pages`` generator + table loaders.
plans/      SparkSession builder and the end-to-end checkpointed pipeline.
eval/       pairwise-F1 evaluator for cluster quality.
"""

from indian_address_parser_spark import _zipstamp

__version__ = "0.1.0"

# The engine's Python UDFs (extraction, JW scoring, union-find, ...) live in
# this package, so a Spark Python worker runs this in its first task; from
# its next task on, per-task import-cache invalidation stops re-reading
# pyspark.zip and the spark-core jar (see _zipstamp).
_zipstamp.install()
