"""stakehouse_etl_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the query and data-processing
capabilities of the reference ETL/analytics platform
(``stakehouse-dev/stakehouse-etl``, surveyed in SURVEY.md) as an
idiomatic Spark DataFrame library:

- every reference table is a Parquet-backed DataFrame (SURVEY §1.2),
- every reference operator (SURVEY §2) is a composable
  ``fn(DataFrame, ...) -> DataFrame``,
- the reference pipelines (extract / transform, SURVEY §3) are
  catalog queries in :mod:`queries`, and its serving endpoints are
  parameterized DataFrame queries in :mod:`plans`,
- incremental state (watermarks, bounded catch-up, backfill,
  SURVEY §2.9) lives in :mod:`streaming`,
- beyond-reference, large-scale training-data operators
  (dedup, similarity search, text analysis, multimodal plumbing)
  live in :mod:`operators`.

Nothing here is a translation of the reference's Python/Lambda code;
the library declares logical plans and lets Catalyst/Tungsten pick
physical strategies.
"""

__version__ = "0.1.0"
