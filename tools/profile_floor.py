#!/usr/bin/env python
"""Decompose the ~0.13 s per-query bench floor (VERDICT r04 'do this' #1b).

Runs q_having (1 ms of actual aggregation work at sf0.1) and splits its
wall clock into:

  build     — QUERIES[name].fn(spark, sf_dir): plan construction via py4j
              (with the load_table memo warm vs cold)
  evaluate  — noop-sink write of a PREBUILT DataFrame: analysis +
              optimization + codegen + scheduling + execution + commit
  sched     — noop-sink write of spark.range(1, numPartitions=1): the
              irreducible job round-trip with a near-empty plan
  collectA  — .collect() of the prebuilt frame (Arrow path) for
              comparison with the write-based evaluation

Printed as JSON. The last recorded run (``git show
f59449b:ROUND5_NOTES.md`` §1, q_having at sf0.1, best of 12): build
0.039 s, noop write 0.103 s, collect 0.035 s, bare job 0.031 s.
"""

from __future__ import annotations

import json
import os
import statistics
import time

import pandas as pd

from pyspark.sql import functions as F

from newsmaper_etl_spark.session import get_spark
from newsmaper_etl_spark.registry import QUERIES, _ensure_loaded


def times(fn, n=12):
    out = []
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        out.append(time.perf_counter() - t0)
    return {
        "best": round(min(out), 4),
        "median": round(statistics.median(out), 4),
        "worst": round(max(out), 4),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    _ensure_loaded()
    spark = get_spark(app_name="floor-profile", shuffle_partitions=4)

    # identical warmup to bench.py
    QUERIES["q_star_join"].fn(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()

    @F.pandas_udf("double")
    def _warm(s: pd.Series) -> pd.Series:
        return s * 1.0

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    spark.range(0, cpus * 100, 1, cpus).select(
        _warm(F.col("id").cast("double"))
    ).write.format("noop").mode("overwrite").save()

    fn = QUERIES["q_having"].fn
    rep = {}

    # cold build: fresh cache entry each time (new key) is not possible on
    # the real table, so time the first-ever build separately
    spark._newsmaper_table_cache = {}
    t0 = time.perf_counter()
    df = fn(spark, sf_dir)
    rep["build_cold_first"] = round(time.perf_counter() - t0, 4)
    rep["build_memo_warm"] = times(lambda: fn(spark, sf_dir))

    prebuilt = fn(spark, sf_dir)
    rep["evaluate_noop_prebuilt"] = times(
        lambda: prebuilt.write.format("noop").mode("overwrite").save()
    )
    rep["collect_prebuilt"] = times(lambda: prebuilt.collect())

    tiny = spark.range(1)
    rep["sched_noop_range1"] = times(
        lambda: tiny.write.format("noop").mode("overwrite").save()
    )
    rep["sched_collect_range1"] = times(lambda: tiny.collect())

    # end-to-end as bench measures it (build + evaluate), memo warm
    rep["end_to_end_bench_shape"] = times(
        lambda: fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    )

    print(json.dumps(rep, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
