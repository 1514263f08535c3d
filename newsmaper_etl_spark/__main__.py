"""CLI: the reference's two DAGs as one command.

    python -m newsmaper_etl_spark \
        --warehouse /data/wh \
        --sources-csv sources.csv \
        --references-json references.json [--strict] [--dedup]

Equivalent to `setup_newsmaper_pipeline` (first run bootstraps the
warehouse: countries, sources, generated date dim, and an empty
day-partitioned `news` manifest table) followed by one
`newsmaper_pipeline` run: fetch feeds → `transform_news` →
`sinks.append_news_tx`, whose one anti-join against the snapshot it
pins keeps only novel keys, in one manifest commit. `--dedup` also runs
the maintenance (Main.py:28-47): the keep-first dedup, then a
compaction of the day partitions that hold more than one small file,
then a vacuum of files older than 24 h that the latest snapshot no
longer references. Re-running is a no-op for already-loaded items.
Schedule it every 20 minutes for reference cadence, or use
streaming.pipeline for the Structured Streaming mode.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="newsmaper_etl_spark")
    p.add_argument("--warehouse", required=True)
    p.add_argument("--sources-csv", required=True)
    p.add_argument("--references-json", required=True)
    p.add_argument("--strict", action="store_true",
                   help="fix the reference's pinned bugs (L4/L9) instead of reproducing them")
    p.add_argument("--dedup", action="store_true",
                   help="also run the maintenance: keep-first dedup, then "
                        "compact, then vacuum")
    p.add_argument("--permissive", action="store_true",
                   help="skip unfetchable/malformed feeds instead of failing")
    p.add_argument("--date-start", default="2023-01-01 00:00:00")
    p.add_argument("--date-end", default="2023-12-31 23:00:00")
    args = p.parse_args(argv)

    from newsmaper_etl_spark import manifest as M
    from newsmaper_etl_spark import sinks
    from newsmaper_etl_spark.operators.newsmaper import (
        DATE_DIM_DDL,
        transform_news,
    )
    from newsmaper_etl_spark.session import get_spark
    from newsmaper_etl_spark.sources import (
        read_references_json,
        read_rss,
        read_sources_csv,
    )

    table = sinks.news_path(args.warehouse)
    if os.path.exists(table) and not os.path.isdir(
        os.path.join(table, "_manifests")
    ):
        p.error(f"{table} exists but is not a manifest table")

    spark = get_spark(app_name="newsmaper-pipeline")
    sources = read_sources_csv(spark, args.sources_csv)
    references = read_references_json(spark, args.references_json)

    if not os.path.exists(table):
        sinks.bootstrap(
            spark,
            args.warehouse,
            sources=sources,
            references=references,
            date_start=args.date_start,
            date_end=args.date_end,
        )

    articles = read_rss(spark, sources, permissive=args.permissive)

    date_dim = spark.read.schema(DATE_DIM_DDL).parquet(
        os.path.join(args.warehouse, "date")
    )
    news = transform_news(articles, references, date_dim, strict=args.strict)
    appended = sinks.append_news_tx(spark, news, table, partitioned=True)
    if args.dedup:
        sinks.rewrite_dedup_tx(spark, table)
        M.compact(spark, table)
        M.vacuum(table)
    total = M.read_table(spark, table).count()
    print(json.dumps({"appended": appended, "news_total": total}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
