"""PySpark-native analytics engine with the query and data-processing
capabilities of the Hospital-Stain-Tracker-Data-Pipeline reference.

Layout
------
- ``session``    — SparkSession factory (AQE on, UTC, tuned shuffle partitions)
- ``schemas``    — StructType registry (domain tables + driver fixtures)
- ``sources``    — scans (CSV with schema check, parquet tables) and sinks
                   (upsert/merge, rejects, run log)
- ``functions``  — native Column expression library (metrics, text, vectors)
- ``operators``  — reusable DataFrame→DataFrame operators (validate split,
                   upsert dedup, as-of/calendar-day lag, dedup family,
                   similarity search)
- ``plans``      — named query plans over the driver fixtures; these back
                   ``__spark_entry__.queries()``
- ``pipeline``   — the reference's ETL jobs re-expressed Spark-first
                   (ingest → bronze, metrics → silver, API query layer)
- ``streaming``  — Structured Streaming ingest (file source, availableNow,
                   foreachBatch merge)
- ``artifacts``  — the one crash-safe commit for mutable persisted artifacts
                   (indexes, curate stages): versioned manifests on the
                   Hadoop FileSystem API, plus the shared index lifecycle

Everything here is DataFrame/Column-level (Catalyst-visible). Row-at-a-time
Python UDFs are absent entirely; the deliberate Arrow-batched Pandas-UDF
surfaces are (a) the multimodal decode plumbing and (b) the vectorized
numpy kernels for LSH projections and MinHash/SimHash signatures, where
per-element higher-order-function evaluation (outside whole-stage codegen)
is the slow path (see SCALE.md).
"""

__version__ = "0.1.0"
