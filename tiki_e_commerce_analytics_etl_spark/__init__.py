"""tiki_e_commerce_analytics_etl_spark — a PySpark-native analytics
engine with the query and data-processing capabilities of
MrSevennnn/Tiki-E-commerce-Analytics-ETL, re-expressed Spark-first.

The daily batch runs fx → trends → tiki → analytics as dependency
DAGs (``pipelines``), commits every table through ``acid`` and builds
the Golden Join mart, which readers query through ``acid.read_atomic``.
That path imports only acid, merge/quality/reshape, the plans and the
sources; the other operator families load on first use.

Layout:
  session     — configured SparkSession factory (AQE, UTC, dynamic
                partition overwrite)
  schemas     — explicit StructTypes for every table
  functions   — the scalar expression library (SURVEY.md §2.4)
  acid        — manifest-committed tables: atomic partition overwrite,
                snapshot reads, compaction and vacuum
  io          — plain partitioned parquet read/write and bucketed
                tables (not transactional; the DAGs write through acid)
  operators   — dedup, merge/upsert, reshape, quality, text analysis,
                multimodal plumbing
  plans       — end-to-end query plans (golden join, snapshot
                transform, trends, fx)
  sources     — driver-side ingest adapters (REST → DataFrame)
  streaming   — Structured Streaming wrappers for the incremental /
                late-data semantics
  pipelines   — the DAG runner, the four daily pipelines and table
                maintenance
"""

__version__ = "0.1.0"
