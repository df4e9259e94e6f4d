"""bigdata_homed_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the query and data-processing
capabilities of the reference IPTV/OTT analytics backend
(`milton4code/bigdata_homed`, surveyed in the repository's SURVEY.md) as an
idiomatic Spark 4.x DataFrame/SQL/Structured-Streaming engine, plus
the large-scale training-data-pipeline operators (dedup, similarity
search, text analysis, multimodal plumbing) such an engine needs at
100 TB scale.

Layout
------
- ``session``    — tuned SparkSession factory (AQE, Arrow, UTC).
- ``schemas``    — explicit StructTypes for facts/dims.
- ``sources``    — parquet/JDBC/Kafka readers + homed-shaped derived views.
- ``operators``  — sessionization, enrichment joins, time grids,
                   aggregation grains, set ops.
- ``functions``  — scalar/agg helpers: portable hashing, text analysis,
                   dedup, similarity.
- ``plans``      — the query registry (name -> (spark_fn, oracle_sql)).
- ``streaming``  — Structured Streaming jobs (windowed aggs, keyed state).
- ``reports``    — report-family pipelines mirroring the reference suite.
"""

__version__ = "0.1.0"
