"""newsmaper_etl_spark — a PySpark-native analytics/ETL engine.

A brand-new, Spark-first rebuild of the query and data-processing
capabilities of the reference news-ETL pipeline (``BryanHuet/newsmaper-etl``,
see SURVEY.md). Everything is expressed against the DataFrame / Spark SQL
API so Catalyst + Tungsten pick the physical strategy; Pandas UDFs are used
only where built-in operators genuinely can't express the semantics
(as-of join, embedding kernels).

Layout:
    session      — SparkSession factory (UTC, AQE, Arrow)
    io           — testdata/fixture loaders with pinned schemas
    registry     — declared-query registry (Spark callable + DuckDB oracle)
    plans/       — the correctness-query corpus (SURVEY.md §2.12)
    operators/   — reusable DataFrame→DataFrame operators (reference-domain
                   pipeline ops + scale extensions: dedup, similarity, text)
    sources/     — non-parquet sources (RSS/CSV/JSON) with pinned schemas
    sinks        — the news fact table on the manifest format (idempotent
                   append, keep-first maintenance, date-ranged reads) +
                   warehouse bootstrap
    manifest     — manifest-committed tables: atomic snapshot pointer-flip
                   commits, time travel, footer-stats file skipping, vacuum
    streaming/   — Structured Streaming composition of the pipeline
"""

from newsmaper_etl_spark.session import get_spark
from newsmaper_etl_spark.io import load_tables, TABLE_NAMES

__all__ = ["get_spark", "load_tables", "TABLE_NAMES"]
__version__ = "0.1.0"
