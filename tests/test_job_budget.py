"""Spark job budgets of the ingest cycle, counted from the status store
(the jobs list perfbench's ``StageCursor`` reads): the keep-first
window rewrite runs at most 2 jobs, and gate telemetry on a gated
micro-batch adds none."""

from __future__ import annotations

import json

from newsmaper_etl_spark import manifest as M
from newsmaper_etl_spark.fixtures import values_df


def _jobs_of(spark, fn):
    """``fn()``'s result and the number of Spark jobs it launched."""
    sc = spark.sparkContext._jsc.sc()

    def newest() -> int:
        sc.listenerBus().waitUntilEmpty()  # the store is fed by events
        jobs = sc.statusStore().jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    before = newest()
    out = fn()
    last = newest()
    jobs = sc.statusStore().jobsList(None)
    return out, sum(1 for i in range(jobs.size())
                    if before < jobs.apply(i).jobId() <= last)


def _news(spark, rows):
    from newsmaper_etl_spark.operators.newsmaper import NEWS_COLUMNS

    return values_df(spark, rows, list(NEWS_COLUMNS))


def test_window_rewrite_runs_at_most_two_jobs(spark, tmp_path):
    """A tiny ETL round after an anchored rewrite: append_news_tx with an
    in-feed copy, then rewrite_dedup_tx reads only the round's files."""
    from newsmaper_etl_spark.sinks import append_news_tx, rewrite_dedup_tx

    t = str(tmp_path / "news")
    d = 2023010100
    append_news_tx(spark, _news(spark, [
        (1, 1, d, "a", "l1", "x", "m"), (1, 1, d, "a", "l2", "y", "m"),
        (1, 2, d + 1, "b", "l3", "x", "m"),
    ]), t)
    rewrite_dedup_tx(spark, t)  # no anchor yet: the whole-table path
    append_news_tx(spark, _news(spark, [
        (1, 1, d, "a", "l9", "z", "m"),                    # re-served
        (2, 3, d + 2, "c", "l4", "x", "m"), (2, 3, d + 2, "c", "l5", "y", "m"),
    ]), t)
    base = M.current_version(t)
    v, jobs = _jobs_of(spark, lambda: rewrite_dedup_tx(spark, t))
    assert v == base + 1
    assert M._load_manifest(t, v)["meta"]["rows_dropped"] == 1
    assert jobs <= 2


def test_gate_telemetry_adds_no_job(spark, tmp_path):
    """The same gated micro-batch (exact + MinHash, against the index the
    first batch built) launches no more jobs with telemetry on than off,
    and the recorded counts are the funnel's. A micro-batch's job count
    varies by one between identical runs (an asynchronous exchange job),
    so each side is the fewest of three runs on fresh tables."""
    from newsmaper_etl_spark.streaming.pipeline import (
        ingest_history,
        write_stream_manifest,
    )

    base = ("the quick brown fox jumps over the lazy dog while seven "
            "wizards brew strong coffee at midnight near the harbor")
    batches = [
        [(1, base), (2, "a wholly distinct note on bread"), (3, base)],
        [(10, base + " tonight"), (11, "orbital mechanics of icy bodies"),
         (12, "a wholly distinct note on bread"),
         (13, "orbital mechanics of icy bodies")],
    ]

    def second_batch_jobs(root, telemetry: bool) -> int:
        src = root / "in"
        src.mkdir(parents=True)
        table, ck = str(root / "t"), str(root / "ck")

        def run():
            stream = spark.readStream.schema("id LONG, text STRING").json(
                str(src))
            write_stream_manifest(
                stream, table, ck, dedup_keys=("text",),
                dedup_order_col="id",
                near_dedup={"id_col": "id", "threshold": 0.5},
                telemetry=telemetry,
            ).awaitTermination()

        for i, rows in enumerate(batches):
            (src / f"b{i}.json").write_text("\n".join(
                json.dumps({"id": k, "text": x}) for k, x in rows))
            _, jobs = _jobs_of(spark, run)
        assert {r["id"] for r in M.read_table(spark, table).collect()} == {
            1, 2, 11}
        return jobs

    jobs: dict[bool, list[int]] = {False: [], True: []}
    for rep in range(3):
        for telemetry in (False, True):
            jobs[telemetry].append(second_batch_jobs(
                tmp_path / f"{rep}-{telemetry}", telemetry))
    assert min(jobs[True]) <= min(jobs[False])
    hist = ingest_history(str(tmp_path / "0-True" / "t"))
    assert [{k: h[k] for k in ("input", "after_exact", "after_near",
                                "committed")} for h in hist] == [
        {"input": 3, "after_exact": 2, "after_near": 2, "committed": 2},
        {"input": 4, "after_exact": 2, "after_near": 1, "committed": 1},
    ]
