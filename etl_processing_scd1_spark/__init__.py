"""etl_processing_scd1_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the query and data-processing
capabilities of the reference ETL (Lappa-EV/ETL-processing_SCD1 —
a PostgreSQL-backed SCD1 fraud-mart pipeline, see SURVEY.md) as
composable, idiomatic Spark DataFrame operators, designed for
100 TB scale:

- ``sources``    — readers (CSV with comma decimals, Excel-serial
                   dates, filename-date discovery, Parquet/JDBC).
- ``operators``  — SCD1 merge, fact append-dedup, watermark meta,
                   dedup (exact/MinHash/SimHash), similarity search,
                   text analysis, multimodal column plumbing.
- ``functions``  — scalar helpers mirroring the reference's SQL
                   function surface (comma decimals, serial dates,
                   card normalization, hours-between, ...).
- ``plans``      — the three fraud report rules and star-join plans.
- ``streaming``  — Structured Streaming equivalents of the daily
                   batch cycle (file source, dedup with watermark,
                   sessionized velocity rule).

All operators are declared with the DataFrame API so Catalyst
handles pushdown, pruning, join selection and AQE; Python UDFs are
avoided in hot paths (see each module's docstring for the scale
rationale).
"""

__version__ = "0.1.0"
