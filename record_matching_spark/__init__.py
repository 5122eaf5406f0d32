"""record_matching_spark — a PySpark-native record-linkage / entity-resolution engine.

Built from scratch with the pipeline semantics of the reference
(yale-datachemist/record_matching, studied read-only at /root/reference):
normalize → dedup → featurize → block → candidate pairs → pairwise score →
threshold → transitive closure → clusters → evaluate.

The execution strategy is idiomatic Spark: declarative DataFrame plans
(Catalyst/Tungsten/AQE), MinHash-LSH + token-sorted blocking keys, salted
self-joins within blocks, vectorized pandas/Arrow UDF scoring, and connected
components (a driver-side union-find within the broadcast budget, iterative
large-star/small-star above it) — no per-row Python anywhere.
"""

__version__ = "0.1.0"

from record_matching_spark.session import get_spark  # noqa: F401
