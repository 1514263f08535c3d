"""Warehouse bootstrap test (S8). The news sink's contracts (idempotent
append, keep-first maintenance, date-ranged reads) are pinned on the
manifest table in tests/test_manifest.py and through the CLI in
tests/test_sources.py."""

from __future__ import annotations

import os

from newsmaper_etl_spark import fixtures as FX
from newsmaper_etl_spark import manifest as M
from newsmaper_etl_spark import sinks


def test_bootstrap_seeds_all_tables(spark, tmp_path):
    wd = str(tmp_path / "wh")
    paths = sinks.bootstrap(spark, wd, references=FX.references_df(spark))
    countries = spark.read.parquet(paths["countries"])
    assert countries.count() == 12  # L8: reference seed breaks after 4
    dim = spark.read.parquet(paths["date"])
    assert dim.count() == 365 * 24  # generated, not left empty (§3.2 gap)
    # news: an empty manifest table, no commit and no data file yet
    assert M.current_version(paths["news"]) == 0
    assert os.path.isdir(os.path.join(paths["news"], "_manifests"))
    assert not os.listdir(os.path.join(paths["news"], "data"))
    assert spark.read.parquet(paths["sources"]).count() > 0
