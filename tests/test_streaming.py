"""Structured Streaming mode: the availableNow catch-up run must produce
the batch transform's rows with within-stream dedup applied."""

from __future__ import annotations

import contextlib
import json

import pytest

from newsmaper_etl_spark import fixtures as FX
from newsmaper_etl_spark import manifest as M
from newsmaper_etl_spark.streaming.pipeline import (
    read_article_stream,
    transform_stream,
    tumbling_counts_stream,
    write_stream_manifest,
)


def _write_article_json(tmp_path):
    src = tmp_path / "articles_in"
    src.mkdir()
    cols = ["article_id", "id_source", "title", "link", "description", "media", "date"]
    with open(src / "batch0.json", "w") as f:
        for row in FX.ARTICLES:
            f.write(json.dumps(dict(zip(cols, row))) + "\n")
    return str(src)


def _catch_up(spark, src, table, ckpt):
    """availableNow catch-up run: process whatever article files exist,
    then stop — the streaming analog of one reference DAG run."""
    articles = read_article_stream(spark, src)
    result = transform_stream(
        articles, FX.references_df(spark), FX.date_dim_df(spark)
    )
    write_stream_manifest(result, table, ckpt).awaitTermination()


def test_streaming_pipeline_available_now(spark, tmp_path):
    src = _write_article_json(tmp_path)
    out = str(tmp_path / "news_out")
    _catch_up(spark, src, out, str(tmp_path / "ckpt"))
    rows = M.read_table(spark, out).collect()
    # 7 articles, two in-stream dup-key pairs (1/5 and 6/7) → 5 rows
    assert len(rows) == 5
    by_title = {r["title"]: r for r in rows}
    assert by_title["local sports roundup"]["id_country"] == 1  # L1 default
    assert by_title["spain and uk talks"]["id_country"] == 7    # L3 tie-break
    assert set(rows[0].asDict()) == {
        "id_country", "id_source", "id_date", "title", "link", "description", "media",
    }


def test_batch_and_stream_transforms_agree(spark, tmp_path):
    """``run_pipeline`` (nothing existing, misses dropped) and
    ``transform_stream`` over the same articles keep the same keys, and
    every stream row is a batch row, country too. Spark rejects
    ``dropDuplicatesWithinWatermark`` on a batch frame, so the stream
    side is one availableNow run into a memory sink."""
    from newsmaper_etl_spark.operators.newsmaper import NEWS_KEY, run_pipeline

    refs, dim = FX.references_df(spark), FX.date_dim_df(spark)
    batch = run_pipeline(
        FX.articles_df(spark), refs, dim,
        FX.news_existing_df(spark).limit(0), check_misses=False,
    ).collect()
    articles = read_article_stream(spark, _write_article_json(tmp_path))
    transform_stream(articles, refs, dim).writeStream.format(
        "memory").queryName("news_stream_agree").trigger(
        availableNow=True).start().awaitTermination()
    stream = spark.table("news_stream_agree").collect()

    def keys(rows):
        return {tuple(r[k] for k in NEWS_KEY) for r in rows}

    def as_set(rows):
        return {tuple(sorted(r.asDict().items())) for r in rows}

    assert stream and keys(stream) == keys(batch)
    assert as_set(stream) <= as_set(batch)


def test_streaming_restart_is_exactly_once(spark, tmp_path):
    """Re-running with the same checkpoint must not duplicate output."""
    src = _write_article_json(tmp_path)
    out = str(tmp_path / "news_out")
    ckpt = str(tmp_path / "ckpt")
    for _ in range(2):
        _catch_up(spark, src, out, ckpt)
    assert M.read_table(spark, out).count() == 5


def test_stateful_source_stats_accumulates_across_restarts(spark, tmp_path):
    """applyInPandasWithState: the per-source running count must carry
    across micro-batches AND across query restarts (state store), not
    reset like a windowed agg."""
    import json

    from pyspark.sql import functions as F

    from newsmaper_etl_spark.operators.newsmaper import parse_pubdate
    from newsmaper_etl_spark.streaming.pipeline import stateful_source_stats

    src = tmp_path / "arts_in"
    src.mkdir()
    out = str(tmp_path / "stats_out")
    ckpt = str(tmp_path / "stats_ckpt")
    cols = ["article_id", "id_source", "title", "link", "description", "media", "date"]

    def run_batch(fname, rows):
        with open(src / fname, "w") as f:
            for row in rows:
                f.write(json.dumps(dict(zip(cols, row))) + "\n")
        articles = parse_pubdate(read_article_stream(spark, str(src)))
        stats = stateful_source_stats(articles)
        # update-mode output → foreachBatch append (parquet sink is
        # append-only); each batch appends its updated per-source rows
        q = (
            stats.writeStream.foreachBatch(
                lambda df, _eid: df.write.mode("append").parquet(out)
            )
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_batch("b0.json", FX.ARTICLES[:4])  # sources: per fixture rows
    run_batch("b1.json", FX.ARTICLES[4:])  # restart; only the new file

    rows = spark.read.parquet(out).collect()
    # final totals: latest n_total per source == its full fixture count
    latest = {}
    for r in rows:
        cur = latest.get(r["id_source"])
        if cur is None or r["n_total"] > cur:
            latest[r["id_source"]] = r["n_total"]
    from collections import Counter

    expect = Counter(row[1] for row in FX.ARTICLES)
    assert latest == dict(expect)
    # and the second run really was incremental state, not a recount
    assert any(r["n_batch"] < r["n_total"] for r in rows)


def test_rss_stream_pipeline_end_to_end(spark, tmp_path):
    """Feed XML → rss polling stream → transform → watermarked dedup →
    manifest table: the full streaming replacement for the reference
    scheduler, one poll, then at-most-once per key across checkpoints."""
    from tests.test_sources import _FEED_XML

    from newsmaper_etl_spark.fixtures import values_df
    from newsmaper_etl_spark.operators.newsmaper import generate_date_dim
    from newsmaper_etl_spark.streaming.pipeline import run_rss_stream

    feed = tmp_path / "feed.xml"
    feed.write_text(_FEED_XML)
    sources = values_df(
        spark, [(1, "s1", "w", str(feed))], ["id", "name", "website", "rss"]
    )
    dim = generate_date_dim(spark, "2023-01-01 00:00:00", "2023-01-07 23:00:00")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def poll(checkpoint):
        q = run_rss_stream(
            spark, sources, out, checkpoint,
            references=FX.references_df(spark), date_dim=dim,
        )
        q.awaitTermination(120)
        return M.read_table(spark, out)

    rows = {r["title"]: r for r in poll(ckpt).collect()}
    assert len(rows) == 3
    assert rows["alpha story"]["id_date"] == 2023010215  # L9 wall clock
    assert rows["alpha story"]["media"] == "https://example.test/a.jpg"
    # the same items polled again: the same checkpoint, then a fresh one
    # (a new writer with empty watermark state) — the key index admits
    # each composite key at most once, so both polls commit 0 rows, and
    # a zero-row commit adds no file to the table or to its key index
    from newsmaper_etl_spark import keyindex as K

    def live_files():
        return [
            M._load_manifest(t, M.current_version(t))["files"]
            for t in (out, K.key_index_path(out))
        ]

    for checkpoint in (ckpt, str(tmp_path / "ckpt2")):
        version, files = M.current_version(out), live_files()
        assert poll(checkpoint).count() == 3
        assert M.current_version(out) == version + 1  # the poll committed
        assert live_files() == files
        added = M.read_table_changes(spark, out, version)
        assert added.count() == 0
        assert added.dtypes == M.read_table(spark, out).dtypes


def test_stream_stream_correlation_join(spark, tmp_path):
    """Two file streams, time-range stream-stream join: purchases
    attribute to the click ≤30min earlier for the same user; late/out-of
    -window pairs don't match."""
    import json as _json

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from newsmaper_etl_spark.streaming.pipeline import correlate_streams

    clicks_dir, buys_dir = tmp_path / "clicks", tmp_path / "buys"
    clicks_dir.mkdir(), buys_dir.mkdir()
    clicks = [
        {"user_id": 1, "click_id": 10, "click_ts": "2023-01-02 10:00:00"},
        {"user_id": 2, "click_id": 20, "click_ts": "2023-01-02 10:00:00"},
    ]
    buys = [
        {"buyer_id": 1, "buy_id": 100, "buy_ts": "2023-01-02 10:20:00"},  # in window
        {"buyer_id": 2, "buy_id": 200, "buy_ts": "2023-01-02 11:30:00"},  # too late
    ]
    with open(clicks_dir / "c.json", "w") as f:
        f.writelines(_json.dumps(r) + "\n" for r in clicks)
    with open(buys_dir / "b.json", "w") as f:
        f.writelines(_json.dumps(r) + "\n" for r in buys)

    c_schema = "user_id INT, click_id INT, click_ts TIMESTAMP"
    b_schema = "buyer_id INT, buy_id INT, buy_ts TIMESTAMP"
    c_stream = spark.readStream.schema(c_schema).json(str(clicks_dir))
    b_stream = spark.readStream.schema(b_schema).json(str(buys_dir))
    joined = correlate_streams(
        c_stream, b_stream,
        on=F.col("user_id") == F.col("buyer_id"),
        left_ts="click_ts", right_ts="buy_ts", within="30 minutes",
    )
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        joined.writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    rows = spark.read.parquet(out).collect()
    assert [(r["click_id"], r["buy_id"]) for r in rows] == [(10, 100)]


def test_tumbling_counts_stream_matches_batch(spark, sf_dir, tmp_path):
    from newsmaper_etl_spark.io import load_table

    events = load_table(spark, sf_dir, "events")
    # batch frame through the streaming aggregation definition
    got = {
        (r["win_start"], r["c"]) for r in tumbling_counts_stream(events).collect()
    }
    from pyspark.sql import functions as F

    expect = {
        (r["ws"], r["c"])
        for r in events.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("c"))
        .select(F.col("w.start").alias("ws"), "c")
        .collect()
    }
    assert got == expect


def test_manifest_sink_exactly_once_across_restart_and_replay(spark, tmp_path):
    """write_stream_manifest: each micro-batch commits atomically with
    its batch id recorded; a restart picks up NEW files only, and a
    forced replay of an already-committed batch id is a no-op (the
    at-least-once foreachBatch contract made exactly-once)."""
    from newsmaper_etl_spark import manifest as M
    from newsmaper_etl_spark.streaming.pipeline import write_stream_manifest

    src = tmp_path / "mstream_in"
    src.mkdir()
    with open(src / "a.json", "w") as f:
        f.write('{"id": 1, "v": "a"}\n{"id": 2, "v": "b"}\n')
    table = str(tmp_path / "mtable")
    ckpt = str(tmp_path / "mckpt")

    stream = spark.readStream.schema("id INT, v STRING").json(str(src))
    write_stream_manifest(
        stream, table, ckpt, stat_cols=("id",), app_id="qA"
    ).awaitTermination()
    assert sorted(r["id"] for r in M.read_table(spark, table).collect()) == [1, 2]
    mark = M.last_txn_version(table, "qA")
    assert mark >= 0

    # restart with one NEW file: only the new rows commit, mark advances
    with open(src / "b.json", "w") as f:
        f.write('{"id": 3, "v": "c"}\n')
    stream2 = spark.readStream.schema("id INT, v STRING").json(str(src))
    write_stream_manifest(
        stream2, table, ckpt, stat_cols=("id",), app_id="qA"
    ).awaitTermination()
    assert sorted(r["id"] for r in M.read_table(spark, table).collect()) == [1, 2, 3]
    assert M.last_txn_version(table, "qA") == mark + 1

    # replay: SAME writer identity with a rolled-back (fresh) checkpoint
    # re-delivers everything as batch 0 — at or below qA's high-water
    # mark, so the sink's own skip branch must fire and the table must
    # not move (the crash-between-commit-and-checkpoint scenario)
    v_before = M.current_version(table)
    stream3 = spark.readStream.schema("id INT, v STRING").json(str(src))
    write_stream_manifest(
        stream3, table, str(tmp_path / "mckpt_fresh"), stat_cols=("id",),
        app_id="qA",
    ).awaitTermination()
    assert M.current_version(table) == v_before
    assert M.read_table(spark, table).count() == 3

    # a DIFFERENT writer (new app id) is NOT the same transaction: its
    # batch 0 must land — batch ids are only meaningful per writer
    stream4 = spark.readStream.schema("id INT, v STRING").json(str(src))
    write_stream_manifest(
        stream4, table, str(tmp_path / "mckpt_qB"), stat_cols=("id",),
        app_id="qB",
    ).awaitTermination()
    assert M.read_table(spark, table).count() == 6
    assert M.last_txn_version(table, "qB") >= 0

    # the exactly-once marks survive a maintenance rewrite + vacuum
    M.overwrite(M.read_table(spark, table).distinct(), table)
    M.vacuum(table, keep_versions=1)
    assert M.last_txn_version(table, "qA") == mark + 1


def test_stream_manifest_corpus_dedup_on_ingest(spark, tmp_path):
    """dedup_keys: a batch's within-batch copies keep-first, and a later
    run redelivering already-ingested CONTENT under fresh ids never
    re-enters the corpus — key-level at-most-once across the table's
    history, on top of (not instead of) the per-batch txn marks."""
    from newsmaper_etl_spark import manifest as M
    from newsmaper_etl_spark.streaming.pipeline import write_stream_manifest

    src = tmp_path / "dstream_in"
    src.mkdir()
    with open(src / "a.json", "w") as f:
        f.write(
            '{"id": 1, "text": "alpha"}\n'
            '{"id": 2, "text": "alpha"}\n'  # within-batch copy: drops
            '{"id": 3, "text": "beta"}\n'
        )
    table = str(tmp_path / "dtable")
    ckpt = str(tmp_path / "dckpt")

    def run(ck):
        stream = spark.readStream.schema("id INT, text STRING").json(str(src))
        write_stream_manifest(
            stream, table, ck, app_id=f"dq:{ck}",
            dedup_keys=("text",), dedup_order_col="id",
        ).awaitTermination()

    run(ckpt)
    rows = {(r["id"], r["text"]) for r in M.read_table(spark, table).collect()}
    assert rows == {(1, "alpha"), (3, "beta")}  # keep-first within batch

    # new file: one genuinely new doc + one replayed CONTENT under a new
    # id (a re-crawl) — only the new doc lands
    with open(src / "b.json", "w") as f:
        f.write('{"id": 10, "text": "alpha"}\n{"id": 11, "text": "gamma"}\n')
    run(str(tmp_path / "dckpt2"))
    rows = {(r["id"], r["text"]) for r in M.read_table(spark, table).collect()}
    assert rows == {(1, "alpha"), (3, "beta"), (11, "gamma")}


def test_streaming_media_metadata(spark, tmp_path):
    """The multimodal kernels compose with Structured Streaming
    unchanged: mapInPandas is a stateless 1→1 projection, so a media
    directory stream flows through media_metadata exactly like a batch
    frame (the 100 TB ingestion shape: new media files land, one
    micro-batch extracts metadata, no shuffle, no state)."""
    import struct

    from newsmaper_etl_spark.operators import multimodal as M

    png = (
        b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\x0dIHDR"
        + struct.pack(">II", 12, 34) + b"\x08\x06\x00\x00\x00" + b"\x00" * 4
    )
    fmt = struct.pack("<HHIIHH", 1, 2, 44100, 44100 * 4, 4, 16)
    wav_body = (
        b"WAVE" + b"fmt " + struct.pack("<I", 16) + fmt
        + b"data" + struct.pack("<I", 44100 * 4) + b"\x00" * 8
    )
    wav = b"RIFF" + struct.pack("<I", len(wav_body)) + wav_body

    src = tmp_path / "media_in"
    spark.createDataFrame(
        [(1, bytearray(png)), (2, bytearray(wav)), (3, bytearray(b"opaque"))],
        "id long, media binary",
    ).coalesce(1).write.parquet(str(src))

    stream = spark.readStream.schema("id long, media binary").parquet(str(src))
    out = M.media_metadata(stream)
    assert out.isStreaming
    q = (
        out.writeStream.format("memory").queryName("media_meta_stream")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    rows = {r["id"]: r for r in spark.sql("SELECT * FROM media_meta_stream").collect()}
    assert (rows[1]["modality"], rows[1]["format"], rows[1]["width"]) == (
        "image", "png", 12,
    )
    assert (rows[2]["modality"], rows[2]["sample_rate"], rows[2]["duration_ms"]) == (
        "audio", 44100, 1000,
    )
    assert rows[3]["modality"] is None


def test_session_stream_watermark_tracks_gap(spark):
    """The session watermark defaults to the gap and rejects anything
    shorter — a watermark below the gap would finalize sessions the gap
    rule still considers open, silently splitting them."""
    import pytest

    from pyspark.sql import functions as F

    from newsmaper_etl_spark.streaming.pipeline import session_counts_stream

    events = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 1.0)], "user_id int, ts string, value double"
    ).select("user_id", F.col("ts").cast("timestamp").alias("ts"), "value")
    with pytest.raises(ValueError, match="shorter than the session gap"):
        session_counts_stream(events, gap="4 hours", watermark="2 hours")
    # default watermark = gap builds fine (batch frame: plan only)
    assert session_counts_stream(events, gap="4 hours").columns == [
        "user_id", "session_start", "n_events",
    ]


def test_duration_seconds_full_interval_grammar():
    """Spark interval strings beyond '<n> <unit>': milliseconds, weeks,
    multi-part — and a descriptive error for garbage (advice r05)."""
    import pytest

    from newsmaper_etl_spark.streaming.pipeline import _duration_seconds

    assert _duration_seconds("500 milliseconds") == 0.5
    assert _duration_seconds("1 week") == 604800
    assert _duration_seconds("1 hour 30 minutes") == 5400
    assert _duration_seconds("2 days 3 hours") == 2 * 86400 + 3 * 3600
    for bad in ("", "10", "10 fortnights", "ten seconds", "1 hour 30"):
        with pytest.raises(ValueError, match="unparseable interval"):
            _duration_seconds(bad)


def test_rss_stream_offsets_monotonic_across_restart():
    """latestOffset never regresses — within a session (strict
    increase), across a replayed pending batch (partitions re-seed),
    and across a CLEAN restart where a fresh reader's first call is
    latestOffset() itself (clock-seeded counter; advice r05 + review)."""
    import time

    from newsmaper_etl_spark.sources.rss import _RssStreamReader

    fresh = _RssStreamReader({"path": "file:///nonexistent.xml"})
    a = fresh.latestOffset()["poll"]
    b = fresh.latestOffset()["poll"]
    assert a >= int(time.time()) - 5  # clock-seeded, not starting at 1
    assert b > a  # strictly increasing within a session
    # replay path: a pending batch's offsets re-seed the counter
    restarted = _RssStreamReader({"path": "file:///nonexistent.xml"})
    future = int(time.time()) + 10_000
    restarted.partitions({"poll": future}, {"poll": future + 1})
    assert restarted.latestOffset()["poll"] > future
    # clean-restart path: a brand-new reader's FIRST latestOffset is
    # already at-or-above anything an earlier same-clock session wrote
    clean = _RssStreamReader({"path": "file:///nonexistent.xml"})
    assert clean.latestOffset()["poll"] >= a


def test_rss_stream_state_dir_floors_offsets_past_clock_regression(
    tmp_path, monkeypatch
):
    """The clock-regression stall (ADVICE r06): without persistence, a
    clean restart whose wall clock sits BEHIND the committed offset
    emits latestOffset ≤ committed and the engine plans no batches
    until the clock catches up. With state_dir, commit() persists the
    committed offset and a restarted reader floors its counter on it —
    the first poll of the new session must advance PAST the committed
    value even on a regressed clock."""
    import time as real_time

    from newsmaper_etl_spark.sources.rss import _RssStreamReader

    sd = str(tmp_path / "rss-state")
    opts = {"path": "file:///nonexistent.xml", "state_dir": sd}
    first = _RssStreamReader(opts)
    committed = first.latestOffset()
    first.commit(committed)

    # restart on a host whose clock is 1h behind the committed offset
    monkeypatch.setattr(real_time, "time", lambda: committed["poll"] - 3600)
    restarted = _RssStreamReader(opts)
    assert restarted.latestOffset()["poll"] > committed["poll"]
    # and WITHOUT state_dir the same regressed clock would stall
    # (documents the disclosed behavior the option exists to fix)
    bare = _RssStreamReader({"path": "file:///nonexistent.xml"})
    assert bare.latestOffset()["poll"] <= committed["poll"]
    # a torn state file degrades to clock seeding, not a crash
    with open(f"{sd}/rss-last-offset", "w") as f:
        f.write("garbage")
    monkeypatch.undo()
    torn = _RssStreamReader(opts)
    assert torn.latestOffset()["poll"] >= int(real_time.time()) - 5


def test_stream_manifest_auto_compaction(spark, tmp_path):
    """compact_every=N: the exactly-once manifest sink compacts the
    table after every Nth batch — small per-batch files merge, rows and
    txn marks survive, and the op shows in history."""
    import json as _json

    from newsmaper_etl_spark import manifest as M
    from newsmaper_etl_spark.streaming.pipeline import write_stream_manifest

    src = tmp_path / "src"
    src.mkdir()
    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    for b in range(4):
        (src / f"b{b}.json").write_text(
            "\n".join(_json.dumps({"k": b * 10 + i, "v": f"r{b}-{i}"}) for i in range(3))
        )
        stream = (
            spark.readStream.schema("k long, v string")
            .option("maxFilesPerTrigger", 1).json(str(src))
        )
        q = write_stream_manifest(
            stream, table, ckpt, compact_every=2, compact_min_bytes=10**9
        )
        q.awaitTermination()
        q.stop()
    ops = [h.get("op") for h in M.history(table)]
    assert "compact" in ops  # maintenance rode the stream
    assert M.read_table(spark, table).count() == 12  # no rows lost
    live = M._load_manifest(table, M.current_version(table))
    # every live file is a compacted one or a post-compaction append,
    # and there are fewer files than batches would have left behind
    assert len(live["files"]) < 4 or ops[-1] == "compact"
    # exactly-once marks survived compaction
    app = f"stream:{__import__('os').path.abspath(ckpt)}"
    assert M.last_txn_version(table, app) >= 3


def test_stream_manifest_schema_evolution_across_restart(spark, tmp_path):
    """A restarted stream whose source gained a column evolves the
    manifest table additively (merge_schema=True): old rows read the
    new column as null, txn marks carry on, and without the flag the
    widened batch fails loudly."""
    import json as _json

    import pytest as _pytest

    from newsmaper_etl_spark import manifest as M
    from newsmaper_etl_spark.streaming.pipeline import write_stream_manifest

    src1, src2 = tmp_path / "s1", tmp_path / "s2"
    src1.mkdir(); src2.mkdir()
    table = str(tmp_path / "table")
    (src1 / "a.json").write_text(_json.dumps({"k": 1, "v": "a"}))
    q = write_stream_manifest(
        spark.readStream.schema("k long, v string").json(str(src1)),
        table, str(tmp_path / "ck1"),
    )
    q.awaitTermination(); q.stop()
    # "restart" with a widened source schema, new checkpoint = new run
    (src2 / "b.json").write_text(_json.dumps({"k": 2, "v": "b", "score": 7.5}))
    widened = spark.readStream.schema("k long, v string, score double").json(str(src2))
    q2 = write_stream_manifest(widened, table, str(tmp_path / "ck2"))
    with _pytest.raises(Exception):  # evolution is opt-in
        q2.awaitTermination()
    q2.stop()
    q3 = write_stream_manifest(
        spark.readStream.schema("k long, v string, score double").json(str(src2)),
        table, str(tmp_path / "ck3"), merge_schema=True,
    )
    q3.awaitTermination(); q3.stop()
    out = {r["k"]: r for r in M.read_table(spark, table).collect()}
    assert out[1]["score"] is None and out[2]["score"] == 7.5


@contextlib.contextmanager
def _fail_side_index_commit(sub, message):
    """Fault-injection seam for the crash-replay tests: every per-batch
    commit to the ``<table>/<sub>`` side index raises ``message`` (the
    writer dies after the data commit and before that index's commit).
    Bootstrap commits (they carry an ``op_detail``) and commits to every
    other table go through."""
    import os

    from newsmaper_etl_spark import manifest as M

    real = M.append

    def _append(df, table, *a, **kw):
        if (os.path.basename(os.path.normpath(table)) == sub
                and "op_detail" not in (kw.get("meta") or {})):
            raise RuntimeError(message)
        return real(df, table, *a, **kw)

    M.append = _append
    try:
        yield
    finally:
        M.append = real


def _run_dedup_stream(spark, src, table, ckpt, **kw):
    from newsmaper_etl_spark.streaming.pipeline import write_stream_manifest

    stream = spark.readStream.schema("id INT, text STRING").json(str(src))
    write_stream_manifest(
        stream, table, ckpt, app_id=f"kq:{ckpt}",
        dedup_keys=("text",), dedup_order_col="id", **kw
    ).awaitTermination()


def test_key_index_batch_scaled_reads(spark, tmp_path):
    """The ingest-dedup anti-join reads the persisted 16-byte key index,
    NEVER the corpus snapshot (the r7 O(corpus)-per-batch rescan): after
    the first batch, no micro-batch touches the data table's rows, and
    the index bytes a batch reads are orders of magnitude below the
    corpus bytes it would have re-scanned."""
    import json as _json
    import os

    from newsmaper_etl_spark import keyindex as K
    from newsmaper_etl_spark import manifest as M

    src = tmp_path / "kin"
    src.mkdir()
    table = str(tmp_path / "ktable")
    fat = "lorem ipsum " * 100  # ~1.2 KB per doc
    main_reads = []
    real_read = M.read_table

    def _spy(spark_, tbl, *a, **kw):
        main_reads.append(tbl)
        return real_read(spark_, tbl, *a, **kw)

    M.read_table = _spy
    try:
        for b in range(3):
            (src / f"b{b}.json").write_text(
                "\n".join(
                    _json.dumps({"id": b * 100 + i, "text": f"{fat}{b}-{i}"})
                    for i in range(20)
                )
            )
            _run_dedup_stream(spark, src, table, str(tmp_path / f"kck{b}"))
    finally:
        M.read_table = real_read
    # dedup machinery never read the DATA table (no bootstrap needed:
    # the index exists from batch 0); index reads are allowed
    assert not [t for t in main_reads if os.path.normpath(t) == os.path.normpath(table)]
    ktable = K.key_index_path(table)
    assert M.current_version(ktable) >= 1
    # index is complete and distinct: one key per unique text
    idx = M.read_table(spark, ktable)
    assert idx.count() == 60 and idx.distinct().count() == 60
    # the per-batch dedup input (key index) is tiny vs the corpus
    kbytes = sum(
        e["bytes"]
        for e in M._load_manifest(ktable, M.current_version(ktable))["files"]
    )
    dbytes = sum(
        e["bytes"]
        for e in M._load_manifest(table, M.current_version(table))["files"]
    )
    assert kbytes < dbytes / 3  # 16 B/key vs ~1.2 KB/doc (+parquet overhead)


def test_key_index_bootstrap_for_preexisting_table(spark, tmp_path):
    """A table with rows committed BEFORE dedup_keys was enabled gets a
    one-time index bootstrap from the snapshot; redelivered content then
    dedups against it."""
    import json as _json

    from newsmaper_etl_spark import keyindex as K
    from newsmaper_etl_spark import manifest as M

    table = str(tmp_path / "btable")
    pre = spark.createDataFrame([(1, "old-a"), (2, "old-b")], "id INT, text STRING")
    M.append(pre, table)
    src = tmp_path / "bin"
    src.mkdir()
    (src / "b0.json").write_text(
        _json.dumps({"id": 10, "text": "old-a"}) + "\n"
        + _json.dumps({"id": 11, "text": "new-c"})
    )
    _run_dedup_stream(spark, src, table, str(tmp_path / "bck"))
    rows = {(r["id"], r["text"]) for r in M.read_table(spark, table).collect()}
    assert rows == {(1, "old-a"), (2, "old-b"), (11, "new-c")}
    ktable = K.key_index_path(table)
    boot = M._load_manifest(ktable, 1).get("meta") or {}
    assert boot.get("op_detail") == "keyindex-bootstrap"
    assert M.read_table(spark, ktable).count() == 3  # old-a old-b new-c


def test_key_index_ever_seen_survives_rewrite_compact_vacuum(spark, tmp_path):
    """Keys are an EVER-SEEN registry: content removed from the data
    table by a maintenance rewrite still never re-enters (the documented
    across-whole-history contract — the r7 snapshot-rescan silently
    re-admitted it); the index survives its own compaction and vacuum
    of both tables."""
    import json as _json

    from newsmaper_etl_spark import keyindex as K
    from newsmaper_etl_spark import manifest as M

    src = tmp_path / "ein"
    src.mkdir()
    table = str(tmp_path / "etable")
    for b in range(3):
        (src / f"b{b}.json").write_text(
            _json.dumps({"id": b * 10, "text": f"doc-{b}"})
        )
        _run_dedup_stream(
            spark, src, table, str(tmp_path / f"eck{b}"), compact_every=1
        )
    ktable = K.key_index_path(table)
    assert "compact" in [h.get("op") for h in M.history(ktable)]
    # maintenance rewrite REMOVES doc-1 from the data table
    kept = M.read_table(spark, table).filter("text <> 'doc-1'")
    M.overwrite(kept, table)
    M.vacuum(table, retain_seconds=0)
    M.vacuum(ktable, retain_seconds=0)
    # redeliver doc-1 under a fresh id: ever-seen, stays out
    (src / "b3.json").write_text(_json.dumps({"id": 99, "text": "doc-1"}))
    _run_dedup_stream(spark, src, table, str(tmp_path / "eck3"))
    texts = sorted(r["text"] for r in M.read_table(spark, table).collect())
    assert texts == ["doc-0", "doc-2"]
    assert M.read_table(spark, ktable).distinct().count() == 3


def test_key_index_repairs_after_crash_between_commits(spark, tmp_path):
    """Crash AFTER the data commit but BEFORE the key commit: the replay
    of the same batch skips the data append (txn mark) and lands the key
    append (its own mark) — the index self-heals one batch behind, and
    no key is ever lost or double-applied."""
    import json as _json

    from newsmaper_etl_spark import keyindex as K
    from newsmaper_etl_spark import manifest as M

    src = tmp_path / "cin"
    src.mkdir()
    (src / "b0.json").write_text(
        _json.dumps({"id": 1, "text": "crash-a"}) + "\n"
        + _json.dumps({"id": 2, "text": "crash-b"})
    )
    table = str(tmp_path / "ctable")
    ckpt = str(tmp_path / "cck")
    with _fail_side_index_commit("_keys", "injected crash before key commit"):
        import pytest as _pytest

        with _pytest.raises(Exception):
            _run_dedup_stream(spark, src, table, ckpt)
    # data landed, index did not
    assert M.read_table(spark, table).count() == 2
    assert M.current_version(K.key_index_path(table)) == 0

    # restart with the SAME checkpoint: foreachBatch replays batch 0
    _run_dedup_stream(spark, src, table, ckpt)
    assert M.read_table(spark, table).count() == 2  # no double-append
    ktable = K.key_index_path(table)
    idx = M.read_table(spark, ktable)
    assert idx.distinct().count() == 2
    # and dedup works against the healed index
    (src / "b1.json").write_text(_json.dumps({"id": 9, "text": "crash-a"}))
    _run_dedup_stream(spark, src, table, str(tmp_path / "cck2"))
    assert M.read_table(spark, table).count() == 2


def test_stream_manifest_near_dedup_on_ingest(spark, tmp_path):
    """near_dedup: a later run's NEAR-duplicate of already-ingested
    content (one-token edit) never re-enters; candidates come from the
    persisted banded index (the corpus is never re-signed), the verify
    fetch is candidate-pruned, and the banded index tracks survivors
    under the same txn discipline."""
    import json as _json

    from newsmaper_etl_spark import keyindex as K
    from newsmaper_etl_spark import manifest as M

    base = ("the quick brown fox jumps over the lazy dog while seven "
            "wizards brew strong coffee at midnight near the harbor")
    near = base + " tonight"  # ~0.95 jaccard: candidate in every band
    far = ("completely different subject matter entirely about orbital "
           "mechanics and the trajectories of small icy bodies beyond "
           "neptune in the scattered disk population")

    src = tmp_path / "nin"
    src.mkdir()
    table = str(tmp_path / "ntable")

    def run(ck):
        from newsmaper_etl_spark.streaming.pipeline import write_stream_manifest

        stream = spark.readStream.schema("id LONG, text STRING").json(str(src))
        write_stream_manifest(
            stream, table, ck, app_id=f"nq:{ck}",
            dedup_keys=("text",), dedup_order_col="id",
            near_dedup={"id_col": "id", "threshold": 0.5},
        ).awaitTermination()

    (src / "b0.json").write_text(
        _json.dumps({"id": 1, "text": base}) + "\n"
        + _json.dumps({"id": 2, "text": far})
    )
    run(str(tmp_path / "nck0"))
    assert {r["id"] for r in M.read_table(spark, table).collect()} == {1, 2}

    # second run: exact copy of base (exact-key path), near-dup of base
    # (banded path), and one genuinely new doc
    (src / "b1.json").write_text(
        _json.dumps({"id": 10, "text": base}) + "\n"
        + _json.dumps({"id": 11, "text": near}) + "\n"
        + _json.dumps({"id": 12, "text": "a third and wholly distinct "
                       "document describing medieval bread baking guild "
                       "regulations in fourteenth century flanders"})
    )
    run(str(tmp_path / "nck1"))
    ids = {r["id"] for r in M.read_table(spark, table).collect()}
    assert ids == {1, 2, 12}
    # banded index covers exactly the survivors (bands=4 rows each)
    bidx = M.read_table(spark, K.banded_index_path(table))
    assert {r["id"] for r in bidx.collect()} == {1, 2, 12}
    assert bidx.count() == 3 * 4
    # above max_candidate_ids the seen fetch scans the whole snapshot
    # instead of pruning files by id: same verdicts
    probe = spark.createDataFrame(
        [(20, near), (21, "an unrelated note on garden tools")],
        "id LONG, text STRING",
    )
    for cap in (0, 100_000):
        kept = K.near_dedup_batch(probe, table, K.gate_config(K.BANDED, {
            "id_col": "id", "threshold": 0.5, "max_candidate_ids": cap}))
        assert {r["id"] for r in kept.collect()} == {21}
    # parameter drift against the persisted index is refused
    import pytest as _pytest

    with _pytest.raises(ValueError, match="parameterizations|signed with"):
        K.check_stamp(K.BANDED, table, (32, 8, 3))


def test_stream_near_dedup_bootstrap_preexisting_table(spark, tmp_path):
    """A table with rows from before near_dedup was enabled gets a
    one-time corpus signing; near-dup content then stays out."""
    import json as _json

    from newsmaper_etl_spark import keyindex as K
    from newsmaper_etl_spark import manifest as M

    base = ("every good boy deserves fudge while the orchestra tunes "
            "quietly beneath the old stone arch before the rain begins")
    table = str(tmp_path / "pbtable")
    pre = spark.createDataFrame([(1, base)], "id LONG, text STRING")
    M.append(pre, table)

    src = tmp_path / "pbin"
    src.mkdir()
    (src / "b0.json").write_text(
        _json.dumps({"id": 10, "text": base + " softly"})
        + "\n" + _json.dumps({"id": 11, "text": "tiny unrelated note "
                              "about garden tools and rust prevention "
                              "methods for long term storage sheds"})
    )
    from newsmaper_etl_spark.streaming.pipeline import write_stream_manifest

    stream = spark.readStream.schema("id LONG, text STRING").json(str(src))
    write_stream_manifest(
        stream, table, str(tmp_path / "pbck"), app_id="pbq",
        near_dedup={"id_col": "id", "threshold": 0.5},
    ).awaitTermination()
    ids = {r["id"] for r in M.read_table(spark, table).collect()}
    assert ids == {1, 11}
    boot = M._load_manifest(K.banded_index_path(table), 1).get("meta") or {}
    assert boot.get("op_detail") == "bandedindex-bootstrap"


def test_near_dedup_same_id_recrawl_scores_true_jaccard(spark, tmp_path):
    """ADVICE r08 (keyindex.near_dedup_batch): a batch doc sharing an
    id with a committed doc — the same-id re-crawl with EDITED text,
    which exact-key dedup on text does not catch — must score its TRUE
    Jaccard in the verify. The old union-side verify merged both texts'
    shingles under the shared id, corrupting every pair touching it
    (a single common shingle pushed the score past any threshold), so a
    heavily-edited re-crawl was silently dropped. Side-split verify:
    the heavy edit (true j ~0.3, below threshold) is admitted; a light
    edit under a FRESH id (j ~0.96) still drops."""
    import json as _json

    from newsmaper_etl_spark import manifest as M

    base = ("the quick brown fox jumps over the lazy dog near the river "
            "bank today while the miller grinds wheat into flour for the "
            "village bakery stand")
    heavy_edit = ("the quick brown fox jumps over the lazy dog near the "
                  "river bank under a violet sky as distant thunder rolls "
                  "across the quiet autumn valley tonight")
    light_edit = base + " tonight"

    src = tmp_path / "rin"
    src.mkdir()
    table = str(tmp_path / "rtable")

    def run(ck):
        from newsmaper_etl_spark.streaming.pipeline import write_stream_manifest

        stream = spark.readStream.schema("id LONG, text STRING").json(str(src))
        write_stream_manifest(
            stream, table, ck, app_id=f"rq:{ck}",
            near_dedup={"id_col": "id", "threshold": 0.8,
                        "num_hashes": 16, "bands": 16},
        ).awaitTermination()

    (src / "b0.json").write_text(_json.dumps({"id": 1, "text": base}))
    run(str(tmp_path / "rck0"))
    (src / "b1.json").write_text(
        _json.dumps({"id": 1, "text": heavy_edit}) + "\n"
        + _json.dumps({"id": 2, "text": light_edit})
    )
    run(str(tmp_path / "rck1"))
    rows = {(r["id"], r["text"]) for r in M.read_table(spark, table).collect()}
    assert rows == {(1, base), (1, heavy_edit)}  # light edit dropped


def test_born_streaming_banded_ids_are_committed_ids(spark, tmp_path):
    """A born-streaming first batch has no ``_banded`` index yet, so the
    MinHash gate passes the exact gate's output straight through. With
    ``dedup_keys`` and no ``dedup_order_col`` the within-batch survivor
    of each key is arbitrary: the data commit and the ``_banded`` append
    must see the SAME survivors, so every banded id is a committed id.
    The batch reads several input files, each holding a copy of every
    key under its own id, so a re-evaluated dropDuplicates has many
    survivors to choose from. Local mode fetches shuffle blocks in map
    order, so a re-evaluation happens to keep the same survivors here;
    the source read count pins that the gate plan is not re-evaluated
    (it ran once per consumer before the gates were materialized)."""
    import json as _json

    from newsmaper_etl_spark import keyindex as K
    from newsmaper_etl_spark import manifest as M
    from newsmaper_etl_spark.streaming.pipeline import write_stream_manifest

    src = tmp_path / "bsin"
    src.mkdir()
    table = str(tmp_path / "bstable")
    n_files, n_keys = 8, 40
    for f in range(n_files):
        (src / f"b{f}.json").write_text("\n".join(
            _json.dumps({"id": f * n_keys + i,
                         "text": f"story {i} about topic {i * 7} and place "
                                 f"{i * 13} reported by desk {i % 5}"})
            for i in range(n_keys)
        ))
    stream = spark.readStream.schema("id LONG, text STRING").json(str(src))
    q = write_stream_manifest(
        stream, table, str(tmp_path / "bsck"), app_id="bsq",
        dedup_keys=("text",),
        near_dedup={"id_col": "id", "threshold": 0.9},
    )
    q.awaitTermination()
    assert sum(p["numInputRows"] for p in q.recentProgress) == (
        n_files * n_keys)
    data_ids = {r["id"] for r in M.read_table(spark, table).collect()}
    banded_ids = {
        r["id"] for r in M.read_table(spark, K.banded_index_path(table))
        .select("id").distinct().collect()
    }
    assert len(data_ids) == n_keys
    assert banded_ids == data_ids


def test_stream_batch_source_read_once(spark, tmp_path):
    """Every count, gate and commit of a micro-batch reads its source
    once: with exact + MinHash gates and telemetry (a count per stage)
    the streaming progress reports each input row read exactly once —
    on a born-streaming batch and on a batch verified against the
    index."""
    import json as _json

    from newsmaper_etl_spark import manifest as M
    from newsmaper_etl_spark.streaming.pipeline import write_stream_manifest

    base = ("the quick brown fox jumps over the lazy dog while seven "
            "wizards brew strong coffee at midnight near the harbor")
    src = tmp_path / "roin"
    src.mkdir()
    table = str(tmp_path / "rotable")

    def run(ck) -> int:
        stream = spark.readStream.schema("id LONG, text STRING").json(str(src))
        q = write_stream_manifest(
            stream, table, ck, app_id=f"ro:{ck}",
            dedup_keys=("text",), dedup_order_col="id",
            near_dedup={"id_col": "id", "threshold": 0.5},
            telemetry=True,
        )
        q.awaitTermination()
        return sum(p["numInputRows"] for p in q.recentProgress)

    (src / "b0.json").write_text(
        _json.dumps({"id": 1, "text": base}) + "\n"
        + _json.dumps({"id": 2, "text": "a wholly distinct note on bread"})
        + "\n" + _json.dumps({"id": 3, "text": base})
    )
    assert run(str(tmp_path / "rock0")) == 3
    (src / "b1.json").write_text(
        _json.dumps({"id": 10, "text": base + " tonight"}) + "\n"
        + _json.dumps({"id": 11, "text": "orbital mechanics of icy bodies"})
    )
    # fresh checkpoint: the batch re-reads both files (5 rows)
    assert run(str(tmp_path / "rock1")) == 5
    assert {r["id"] for r in M.read_table(spark, table).collect()} == {
        1, 2, 11
    }


def test_banded_index_survives_crash_between_key_and_banded_commits(
    spark, tmp_path
):
    """ADVICE r08 high: crash AFTER the key-index commit but BEFORE the
    banded-index commit. On replay the batch's keys are already
    indexed; without the txn_commit_version pin the anti-join empties
    the batch and the banded index is appended from an EMPTY frame —
    the batch's band signatures are permanently lost and future
    near-duplicates silently admitted. The replay must read the key
    index (and the data table, for the verify fetch) at their exact
    PRE-batch versions, re-derive the survivors, and append their real
    signatures."""
    import json as _json

    import pytest as _pytest

    from newsmaper_etl_spark import keyindex as K
    from newsmaper_etl_spark import manifest as M

    base = ("the quick brown fox jumps over the lazy dog while seven "
            "wizards brew strong coffee at midnight near the harbor")
    far = ("completely different subject matter entirely about orbital "
           "mechanics and the trajectories of small icy bodies beyond "
           "neptune in the scattered disk population")
    third = ("a wholly distinct document describing medieval bread baking "
             "guild regulations in fourteenth century flanders and their "
             "seasonal grain pricing customs")

    src = tmp_path / "xin"
    src.mkdir()
    table = str(tmp_path / "xtable")

    def run(ck):
        from newsmaper_etl_spark.streaming.pipeline import write_stream_manifest

        stream = spark.readStream.schema("id LONG, text STRING").json(str(src))
        write_stream_manifest(
            stream, table, ck, app_id=f"xq:{ck}",
            dedup_keys=("text",), dedup_order_col="id",
            near_dedup={"id_col": "id", "threshold": 0.5},
        ).awaitTermination()

    (src / "b0.json").write_text(
        _json.dumps({"id": 1, "text": base}) + "\n"
        + _json.dumps({"id": 2, "text": far})
    )
    run(str(tmp_path / "xck0"))

    # second pipeline: one new doc; crash injected between the key
    # commit and the banded commit
    (src / "b1.json").write_text(_json.dumps({"id": 20, "text": third}))
    ck1 = str(tmp_path / "xck1")
    with _fail_side_index_commit("_banded", "injected crash before banded commit"):
        with _pytest.raises(Exception):
            run(ck1)
    # data + keys landed; banded index is one batch behind
    assert {r["id"] for r in M.read_table(spark, table).collect()} == {1, 2, 20}
    bidx = M.read_table(spark, K.banded_index_path(table))
    assert {r["id"] for r in bidx.collect()} == {1, 2}

    # restart the SAME checkpoint: replay must re-derive doc 20 as the
    # survivor (pre-batch key index) and append its REAL signatures
    run(ck1)
    assert {r["id"] for r in M.read_table(spark, table).collect()} == {1, 2, 20}
    bidx = M.read_table(spark, K.banded_index_path(table))
    assert {r["id"] for r in bidx.collect()} == {1, 2, 20}

    # and the healed index actually keeps 20's near-duplicates out
    (src / "b2.json").write_text(
        _json.dumps({"id": 30, "text": third + " tonight"})
    )
    run(str(tmp_path / "xck2"))
    assert {r["id"] for r in M.read_table(spark, table).collect()} == {1, 2, 20}


def test_bootstrap_on_replay_pins_pre_batch_snapshot(spark, tmp_path):
    """dedup_keys enabled mid-life on a table with an established
    banded index, crash between the data commit and the key commit.
    The key-index bootstrap runs BEFORE the data append, so the crash
    leaves a bootstrap-only index holding exactly the PRE-batch keys —
    the replay's anti-join must see that state (not the batch's own
    keys), re-derive the survivor, and land both its key and its band
    signatures. Also pins the bootstrap version-pin defense: a replay
    that DOES need a bootstrap builds it from the pre-batch snapshot
    (manifest.txn_commit_version - 1), never from a snapshot containing
    the replayed batch."""
    import json as _json

    import pytest as _pytest

    from newsmaper_etl_spark import keyindex as K
    from newsmaper_etl_spark import manifest as M

    base = ("the quick brown fox jumps over the lazy dog while seven "
            "wizards brew strong coffee at midnight near the harbor")
    third = ("a wholly distinct document describing medieval bread baking "
             "guild regulations in fourteenth century flanders and their "
             "seasonal grain pricing customs")

    src = tmp_path / "yin"
    src.mkdir()
    table = str(tmp_path / "ytable")

    def run(ck, with_keys):
        from newsmaper_etl_spark.streaming.pipeline import write_stream_manifest

        stream = spark.readStream.schema("id LONG, text STRING").json(str(src))
        write_stream_manifest(
            stream, table, ck, app_id=f"yq:{ck}",
            dedup_keys=("text",) if with_keys else None,
            dedup_order_col="id" if with_keys else None,
            near_dedup={"id_col": "id", "threshold": 0.5},
        ).awaitTermination()

    # run 1: near_dedup only — banded index exists, key index does not
    (src / "b0.json").write_text(_json.dumps({"id": 1, "text": base}))
    run(str(tmp_path / "yck0"), with_keys=False)
    assert M.current_version(K.key_index_path(table)) == 0
    assert M.current_version(K.banded_index_path(table)) >= 1

    # run 2: dedup_keys now enabled; crash between data and key commits
    (src / "b1.json").write_text(_json.dumps({"id": 20, "text": third}))
    ck1 = str(tmp_path / "yck1")
    with _fail_side_index_commit("_keys", "injected crash before key commit"):
        with _pytest.raises(Exception):
            run(ck1, with_keys=True)
    assert {r["id"] for r in M.read_table(spark, table).collect()} == {1, 20}
    # the bootstrap committed BEFORE the data append: the index exists
    # and holds exactly the pre-batch keys (base), not the batch's
    kidx = M.read_table(spark, K.key_index_path(table))
    assert kidx.distinct().count() == 1

    # replay: bootstrap must pin to the pre-batch snapshot, re-derive
    # doc 20 as the survivor, and land BOTH its key and its signatures
    run(ck1, with_keys=True)
    assert {r["id"] for r in M.read_table(spark, table).collect()} == {1, 20}
    kidx = M.read_table(spark, K.key_index_path(table))
    assert kidx.distinct().count() == 2  # base (bootstrap) + third (batch)
    bidx = M.read_table(spark, K.banded_index_path(table))
    assert {r["id"] for r in bidx.collect()} == {1, 20}

    # the healed banded index keeps 20's near-duplicates out; the healed
    # key index keeps exact redeliveries out
    (src / "b2.json").write_text(
        _json.dumps({"id": 30, "text": third + " tonight"}) + "\n"
        + _json.dumps({"id": 31, "text": base})
    )
    run(str(tmp_path / "yck2"), with_keys=True)
    assert {r["id"] for r in M.read_table(spark, table).collect()} == {1, 20}


def test_stream_manifest_simhash_dedup_on_ingest(spark, tmp_path):
    """near_dedup method='simhash': a later run's small-edit redelivery
    (within the hamming radius) never re-enters; candidates AND the
    verify both come from the persisted chunk index (fingerprints ride
    the join — the data table is never read by the dedup at all), the
    index tracks survivors under the txn discipline, and parameter
    drift against the persisted index is refused."""
    import json as _json

    import pytest as _pytest

    from newsmaper_etl_spark import keyindex as K
    from newsmaper_etl_spark import manifest as M

    base = ("the quick brown fox jumps over the lazy dog while seven "
            "wizards brew strong coffee at midnight near the harbor")
    near = base.replace("lazy", "sleepy")  # one-token edit: tiny hamming
    far = ("completely different subject matter entirely about orbital "
           "mechanics and the trajectories of small icy bodies beyond "
           "neptune in the scattered disk population")

    src = tmp_path / "shin"
    src.mkdir()
    table = str(tmp_path / "shtable")
    main_reads = []
    real_read = M.read_table

    def run(ck):
        from newsmaper_etl_spark.streaming.pipeline import write_stream_manifest

        stream = spark.readStream.schema("id LONG, text STRING").json(str(src))
        write_stream_manifest(
            stream, table, ck, app_id=f"shq:{ck}",
            near_dedup={"id_col": "id", "method": "simhash",
                        "max_hamming": 8},
        ).awaitTermination()

    (src / "b0.json").write_text(
        _json.dumps({"id": 1, "text": base}) + "\n"
        + _json.dumps({"id": 2, "text": far})
    )
    run(str(tmp_path / "shck0"))
    assert {r["id"] for r in M.read_table(spark, table).collect()} == {1, 2}

    # second run: exact copy + small edit of base (both within radius)
    # + one genuinely new doc; spy proves the dedup never read the DATA
    # table (only manifests/indexes — the no-verify-fetch contract)
    import os as _os

    def _spy(spark_, tbl, *a, **kw):
        main_reads.append(_os.path.normpath(tbl))
        return real_read(spark_, tbl, *a, **kw)

    (src / "b1.json").write_text(
        _json.dumps({"id": 10, "text": base}) + "\n"
        + _json.dumps({"id": 11, "text": near}) + "\n"
        + _json.dumps({"id": 12, "text": "a third and wholly distinct "
                       "document describing medieval bread baking guild "
                       "regulations in fourteenth century flanders"})
    )
    M.read_table = _spy
    try:
        run(str(tmp_path / "shck1"))
    finally:
        M.read_table = real_read
    assert _os.path.normpath(table) not in main_reads
    ids = {r["id"] for r in M.read_table(spark, table).collect()}
    assert ids == {1, 2, 12}
    cidx = M.read_table(spark, K.chunks_index_path(table))
    assert {r["id"] for r in cidx.collect()} == {1, 2, 12}
    with _pytest.raises(ValueError, match="signed with"):
        K.check_stamp(K.CHUNKS, table, (3, 64))
    # measured bar for this corpus: the one-token edit sits at hamming 7
    # (dropped at radius 8); the distinct third doc sits far outside


def test_chunks_index_survives_crash_before_chunk_commit(spark, tmp_path):
    """The keys->banded replay-window fix, exercised on the SimHash
    chunk index: crash after the data commit but before the chunk
    commit; the replay must re-derive the survivor against pre-batch
    state and append its REAL chunk rows (never an empty frame), and
    the healed index keeps hamming-radius redeliveries out."""
    import json as _json

    import pytest as _pytest

    from newsmaper_etl_spark import keyindex as K
    from newsmaper_etl_spark import manifest as M

    base = ("the quick brown fox jumps over the lazy dog while seven "
            "wizards brew strong coffee at midnight near the harbor")
    third = ("a wholly distinct document describing medieval bread baking "
             "guild regulations in fourteenth century flanders and their "
             "seasonal grain pricing customs")

    src = tmp_path / "zin"
    src.mkdir()
    table = str(tmp_path / "ztable")

    def run(ck):
        from newsmaper_etl_spark.streaming.pipeline import write_stream_manifest

        stream = spark.readStream.schema("id LONG, text STRING").json(str(src))
        write_stream_manifest(
            stream, table, ck, app_id=f"zq:{ck}",
            near_dedup={"id_col": "id", "method": "simhash",
                        "max_hamming": 8},
        ).awaitTermination()

    (src / "b0.json").write_text(_json.dumps({"id": 1, "text": base}))
    run(str(tmp_path / "zck0"))

    (src / "b1.json").write_text(_json.dumps({"id": 20, "text": third}))
    ck1 = str(tmp_path / "zck1")
    with _fail_side_index_commit("_chunks", "injected crash before chunk commit"):
        with _pytest.raises(Exception):
            run(ck1)
    # data landed; chunk index is one batch behind
    assert {r["id"] for r in M.read_table(spark, table).collect()} == {1, 20}
    cidx = M.read_table(spark, K.chunks_index_path(table))
    assert {r["id"] for r in cidx.collect()} == {1}

    run(ck1)  # replay heals the index with doc 20's REAL chunk rows
    cidx = M.read_table(spark, K.chunks_index_path(table))
    assert {r["id"] for r in cidx.collect()} == {1, 20}
    assert {r["id"] for r in M.read_table(spark, table).collect()} == {1, 20}

    # a small edit of 20's text (within radius) now stays out
    (src / "b2.json").write_text(
        _json.dumps({"id": 30, "text": third.replace("medieval", "ancient")})
    )
    run(str(tmp_path / "zck2"))
    assert {r["id"] for r in M.read_table(spark, table).collect()} == {1, 20}


def test_stream_manifest_semantic_dedup_on_ingest(spark, tmp_path):
    """near_dedup method='semantic': a later run redelivering an exact
    OR near (cosine ≥ threshold) embedding never re-enters the corpus;
    candidates come from the persisted (cell, t, b) index against
    frozen centroids, verify is the exact cosine with seen vectors
    POINT-fetched (every data-table read the dedup performs carries a
    prune_in bound — never a corpus scan), the index tracks survivors
    under the txn discipline, and parameter drift against the frozen
    stamp is refused."""
    import json as _json
    import os as _os

    import pytest as _pytest

    from newsmaper_etl_spark import keyindex as K
    from newsmaper_etl_spark import manifest as M

    dim = 8
    v1 = [1.0] + [0.0] * 7
    v2 = [0.0, 1.0] + [0.0] * 6
    near1 = [1.0, 0.05] + [0.0] * 6       # cos vs v1 ≈ 0.9988 ≥ 0.9
    v3 = [0.0, 0.0, 1.0] + [0.0] * 5      # orthogonal to both: survives

    src = tmp_path / "semin"
    src.mkdir()
    table = str(tmp_path / "semtable")

    def run(ck):
        from newsmaper_etl_spark.streaming.pipeline import write_stream_manifest

        stream = spark.readStream.schema(
            "id LONG, embedding ARRAY<DOUBLE>"
        ).json(str(src))
        write_stream_manifest(
            stream, table, ck, app_id=f"semq:{ck}",
            near_dedup={"id_col": "id", "method": "semantic",
                        "vec_col": "embedding", "dim": dim,
                        "threshold": 0.9, "n_centroids": 2,
                        "sample_n": 64},
        ).awaitTermination()

    (src / "b0.json").write_text(
        _json.dumps({"id": 1, "embedding": v1}) + "\n"
        + _json.dumps({"id": 2, "embedding": v2})
    )
    run(str(tmp_path / "semck0"))
    assert {r["id"] for r in M.read_table(spark, table).collect()} == {1, 2}

    # second run: exact copy + near copy of v1 + one genuinely new
    # direction; spy proves every dedup read of the DATA table was a
    # bounded point fetch (prune_in set), never a full scan
    data_scans = []
    real_read = M.read_table

    def _spy(spark_, tbl, *a, **kw):
        if _os.path.normpath(tbl) == _os.path.normpath(table):
            data_scans.append(kw.get("prune_in"))
        return real_read(spark_, tbl, *a, **kw)

    (src / "b1.json").write_text(
        _json.dumps({"id": 10, "embedding": v1}) + "\n"
        + _json.dumps({"id": 11, "embedding": near1}) + "\n"
        + _json.dumps({"id": 12, "embedding": v3})
    )
    M.read_table = _spy
    try:
        run(str(tmp_path / "semck1"))
    finally:
        M.read_table = real_read
    assert data_scans and all(p is not None for p in data_scans)
    ids = {r["id"] for r in M.read_table(spark, table).collect()}
    assert ids == {1, 2, 12}
    sidx = M.read_table(spark, K.semcells_index_path(table))
    assert {r["id"] for r in sidx.collect()} == {1, 2, 12}
    # the frozen parameterization is readable and drift is refused
    params = K.read_semantic_params(table)
    assert params["n_centroids"] == 2 and params["dim"] == dim
    with _pytest.raises(ValueError, match="signed with"):
        K.check_semantic_stamp(table, dim=dim, n_centroids=64,
                               n_tables=None, seed=None)
    with _pytest.raises(ValueError, match="signed with"):
        K.check_semantic_stamp(table, dim=16, n_centroids=None,
                               n_tables=None, seed=None)


def test_semantic_bootstrap_preexisting_table(spark, tmp_path):
    """A table with embedding rows committed BEFORE semantic dedup was
    enabled gets a one-time bootstrap (centroids trained + every
    snapshot row signed into the cell index); near redeliveries then
    dedup against it, and per-batch index growth is survivor-sized —
    the corpus is never re-assigned."""
    import json as _json

    from newsmaper_etl_spark import keyindex as K
    from newsmaper_etl_spark import manifest as M

    dim = 8
    v1 = [1.0] + [0.0] * 7
    v2 = [0.0, 1.0] + [0.0] * 6
    table = str(tmp_path / "bsem")
    M.append(
        spark.createDataFrame(
            [(1, v1), (2, v2)], "id LONG, embedding ARRAY<DOUBLE>"
        ),
        table,
    )

    src = tmp_path / "bsemin"
    src.mkdir()
    (src / "b0.json").write_text(
        _json.dumps({"id": 10, "embedding": [1.0, 0.04] + [0.0] * 6}) + "\n"
        + _json.dumps({"id": 11, "embedding": [0.0] * 7 + [1.0]})
    )

    from newsmaper_etl_spark.streaming.pipeline import write_stream_manifest

    stream = spark.readStream.schema(
        "id LONG, embedding ARRAY<DOUBLE>"
    ).json(str(src))
    write_stream_manifest(
        stream, table, str(tmp_path / "bsemck"), app_id="bsemq",
        near_dedup={"id_col": "id", "method": "semantic",
                    "vec_col": "embedding", "dim": dim,
                    "threshold": 0.9, "n_centroids": 2, "sample_n": 64},
    ).awaitTermination()
    ids = {r["id"] for r in M.read_table(spark, table).collect()}
    assert ids == {1, 2, 11}  # 10 ≈ v1 (cos .999) dropped; 11 orthogonal
    sidx = M.read_table(spark, K.semcells_index_path(table))
    assert {r["id"] for r in sidx.collect()} == {1, 2, 11}
    # bootstrap committed version 1 of the index; the batch appended its
    # one survivor on top — batch-sized, not corpus-sized
    assert M.current_version(K.semcells_index_path(table)) >= 2


def test_semcells_index_survives_crash_before_cells_commit(spark, tmp_path):
    """The keys->banded replay-window discipline on the semantic index:
    crash after the data commit but before the cells commit; the replay
    re-derives the survivor against the PRE-batch snapshot (data_version
    pin) and appends its REAL cell rows (never an empty frame), and the
    healed index keeps near-duplicate redeliveries out."""
    import json as _json

    import pytest as _pytest

    from newsmaper_etl_spark import keyindex as K
    from newsmaper_etl_spark import manifest as M

    dim = 8
    v1 = [1.0] + [0.0] * 7
    v3 = [0.0, 0.0, 1.0] + [0.0] * 5

    src = tmp_path / "csemin"
    src.mkdir()
    table = str(tmp_path / "csemtable")

    def run(ck):
        from newsmaper_etl_spark.streaming.pipeline import write_stream_manifest

        stream = spark.readStream.schema(
            "id LONG, embedding ARRAY<DOUBLE>"
        ).json(str(src))
        write_stream_manifest(
            stream, table, ck, app_id=f"csemq:{ck}",
            near_dedup={"id_col": "id", "method": "semantic",
                        "vec_col": "embedding", "dim": dim,
                        "threshold": 0.9, "n_centroids": 2,
                        "sample_n": 64},
        ).awaitTermination()

    (src / "b0.json").write_text(_json.dumps({"id": 1, "embedding": v1}))
    run(str(tmp_path / "csemck0"))

    (src / "b1.json").write_text(_json.dumps({"id": 20, "embedding": v3}))
    ck1 = str(tmp_path / "csemck1")
    with _fail_side_index_commit("_semcells", "injected crash before cells commit"):
        with _pytest.raises(Exception):
            run(ck1)
    # data landed; cell index is one batch behind
    assert {r["id"] for r in M.read_table(spark, table).collect()} == {1, 20}
    sidx = M.read_table(spark, K.semcells_index_path(table))
    assert {r["id"] for r in sidx.collect()} == {1}

    run(ck1)  # replay heals the index with doc 20's REAL cell rows
    sidx = M.read_table(spark, K.semcells_index_path(table))
    assert {r["id"] for r in sidx.collect()} == {1, 20}
    assert {r["id"] for r in M.read_table(spark, table).collect()} == {1, 20}

    # a near copy of 20's embedding (cos ≈ 0.9988) now stays out
    (src / "b2.json").write_text(
        _json.dumps({"id": 30, "embedding": [0.0, 0.0, 1.0, 0.05] + [0.0] * 4})
    )
    run(str(tmp_path / "csemck2"))
    assert {r["id"] for r in M.read_table(spark, table).collect()} == {1, 20}


def test_semantic_drift_telemetry_and_offline_rebuild(spark, tmp_path):
    """VERDICT r10 'do this' #8, end to end: (a) every cells commit —
    bootstrap baseline included — records batch affinity vs the FROZEN
    centroids in its manifest meta, and a distribution shift shows up
    as a mean_csim drop in semantic_drift_history; (b)
    rebuild_semantic_index retrains on the current snapshot under a
    BUMPED seed stamp, re-signs the corpus, and restores affinity;
    (c) a crash between the centroid flip and the cells flip leaves a
    detectable stale index that refuses to serve dedup and converges on
    rebuild replay."""
    import pytest as _pytest

    from newsmaper_etl_spark import keyindex as K
    from newsmaper_etl_spark import manifest as M

    dim = 8
    # tight cluster around e1 — the bootstrap corpus
    base = [[1.0, 0.02 * i] + [0.0] * 6 for i in range(8)]
    table = str(tmp_path / "driftdata")
    M.append(
        spark.createDataFrame(
            [(i, v) for i, v in enumerate(base)],
            "id long, embedding array<double>",
        ),
        table,
    )
    cfg = K.gate_config(K.SEMCELLS, {
        "id_col": "id", "dim": dim, "n_centroids": 2,
        "n_planes": 4, "n_tables": 2, "sample_n": 64, "seed": 42})
    # the dedup probes below adopt the index's parameterization
    adopt = {**cfg, "threshold": 0.9, "n_centroids": None,
             "n_tables": None, "seed": None}
    assert K.ensure_index_bootstrap(K.SEMCELLS, spark, table, cfg,
                                    "driftapp")
    hist = K.semantic_drift_history(table)
    assert len(hist) == 1 and hist[0]["n"] == 8
    baseline = hist[0]["mean_csim"]
    assert baseline is not None and baseline > 0.99

    # a drifted batch (orthogonal direction): commit its keys -> the
    # telemetry entry rides the commit and shows the affinity drop
    drifted = [(100 + i, [0.0, 0.0, 1.0, 0.3 * i] + [0.0] * 4)
               for i in range(4)]
    bdf = spark.createDataFrame(drifted, "id long, embedding array<double>")
    M.append(bdf, table, txn=("driftapp", 1))
    assert K.append_batch_index(K.SEMCELLS, bdf, table, cfg, "driftapp", 1)
    hist = K.semantic_drift_history(table)
    assert len(hist) == 2 and hist[1]["batch_id"] == 1
    assert hist[1]["mean_csim"] < baseline - 0.1  # visible decay

    # offline rebuild: bumped seed stamp, corpus re-signed, affinity back
    old_seed = K.read_semantic_params(table)["seed"]
    res = K.rebuild_semantic_index(spark, table, "id", "embedding",
                                   sample_n=64)
    assert res["seed"] == old_seed + 1
    params = K.read_semantic_params(table)
    assert params["seed"] == old_seed + 1 and params["n_centroids"] == 2
    assert not K.semantic_index_stale(table)
    assert res["drift"]["mean_csim"] > hist[1]["mean_csim"]
    sidx = M.read_table(spark, K.semcells_index_path(table))
    assert {r["id"] for r in sidx.collect()} == set(range(8)) | {
        100, 101, 102, 103
    }

    # the rebuilt index still serves dedup: an exact redelivery drops
    redeliver = spark.createDataFrame(
        [(999, base[0])], "id long, embedding array<double>"
    )
    out = K.semantic_dedup_batch(redeliver, table, adopt)
    assert out.count() == 0

    # crash injection: centroids flip, cells flip crashes -> stale,
    # dedup refuses, replay converges
    real_overwrite = M.overwrite
    calls = {"n": 0}

    def _crashing(df, t, **kw):
        v = real_overwrite(df, t, **kw)
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("injected crash after centroid flip")
        return v

    M.overwrite = _crashing
    try:
        with _pytest.raises(RuntimeError, match="injected"):
            K.rebuild_semantic_index(spark, table, "id", "embedding",
                                     sample_n=64)
    finally:
        M.overwrite = real_overwrite
    assert K.semantic_index_stale(table)
    with _pytest.raises(ValueError, match="mid-rebuild"):
        K.semantic_dedup_batch(redeliver, table, adopt)
    # the WRITE path refuses too (code review r11): committing batch
    # keys signed under the flipped stamp would make the cells table's
    # __seed stat non-constant and brick every later stamp read
    with _pytest.raises(ValueError, match="mid-rebuild"):
        K.append_batch_index(K.SEMCELLS, redeliver, table, cfg, "driftapp",
                             99)
    res2 = K.rebuild_semantic_index(spark, table, "id", "embedding",
                                    sample_n=64)
    # replay ADOPTS the crashed flip's stamp (no second bump): the
    # persisted centroids are canonical, only the cells flip is redone
    assert res2["seed"] == old_seed + 2
    assert not K.semantic_index_stale(table)
    out = K.semantic_dedup_batch(redeliver, table, adopt)
    assert out.count() == 0


def test_stream_manifest_span_dedup_on_ingest(spark, tmp_path):
    """span_dedup: ingested text is EDITED against the persisted gram
    index — a batch doc repeating a span the corpus already holds
    commits with that span cut (rows edited, never dropped), the
    _grams side table tracks exactly the as-committed text's grams
    under the txn discipline, and a crash between the data commit and
    the grams commit heals on replay with the same edit."""
    import json as _json

    import pytest as _pytest

    from newsmaper_etl_spark import keyindex as K
    from newsmaper_etl_spark import manifest as M

    span = " ".join(f"w{i}" for i in range(8))
    src = tmp_path / "spanin"
    src.mkdir()
    table = str(tmp_path / "spantable")

    def run(ck):
        from newsmaper_etl_spark.streaming.pipeline import write_stream_manifest

        stream = spark.readStream.schema("id LONG, text STRING").json(str(src))
        write_stream_manifest(
            stream, table, ck, app_id=f"spanq:{ck}",
            span_dedup={"id_col": "id", "k": 8},
        ).awaitTermination()

    (src / "b0.json").write_text(
        _json.dumps({"id": 1, "text": span + " tail0 tail1"}) + "\n"
        + _json.dumps({"id": 2, "text": "other doc entirely here"})
    )
    run(str(tmp_path / "spanck0"))
    rows = {r["id"]: r["text"] for r in M.read_table(spark, table).collect()}
    # first batch: no prior index; within-batch rule finds no repeat
    assert rows[1] == span + " tail0 tail1"
    gidx = M.read_table(spark, K.grams_index_path(table))
    assert gidx.count() > 0

    # second batch: a doc repeating the corpus span (edited), a fresh
    # doc (untouched), and a within-batch identical pair (second copy
    # emptied)
    fresh = " ".join(f"f{i}" for i in range(9))
    (src / "b1.json").write_text(
        _json.dumps({"id": 10, "text": span + " new0 new1"}) + "\n"
        + _json.dumps({"id": 11, "text": fresh}) + "\n"
        + _json.dumps({"id": 12, "text": fresh})
    )
    run(str(tmp_path / "spanck1"))
    rows = {r["id"]: r["text"] for r in M.read_table(spark, table).collect()}
    assert rows[10] == "new0 new1"          # corpus span cut, row kept
    assert rows[11] == fresh                # first occurrence kept
    assert rows[12] == ""                   # within-batch copy emptied
    assert set(rows) == {1, 2, 10, 11, 12}  # edited, never dropped

    # crash between data commit and grams commit: replay heals with the
    # SAME edit and the index registers the as-committed grams
    (src / "b2.json").write_text(
        _json.dumps({"id": 20, "text": fresh + " extra0"})
    )
    ck2 = str(tmp_path / "spanck2")
    with _fail_side_index_commit("_grams", "injected crash before grams commit"):
        with _pytest.raises(Exception):
            run(ck2)
    rows = {r["id"]: r["text"] for r in M.read_table(spark, table).collect()}
    # data landed with the edit (fresh's grams were already indexed)
    assert rows[20] == "extra0"
    gv_before = M.current_version(K.grams_index_path(table))
    run(ck2)  # replay: data append skips, grams commit proceeds
    assert M.current_version(K.grams_index_path(table)) > gv_before
    rows = {r["id"]: r["text"] for r in M.read_table(spark, table).collect()}
    assert rows[20] == "extra0"

    # parameter drift refused
    with _pytest.raises(ValueError, match="k="):
        K.check_stamp(K.GRAMS, table, (4,))


def test_ingest_gate_telemetry(spark, tmp_path):
    """telemetry=True: every data commit records the gate counts —
    input, after_exact (dedup_keys configured), committed — and
    ingest_history reads them back without a Spark job; the default
    (telemetry off) records none."""
    import json as _json

    from newsmaper_etl_spark import manifest as M
    from newsmaper_etl_spark.streaming.pipeline import (
        ingest_history,
        write_stream_manifest,
    )

    src = tmp_path / "telin"
    src.mkdir()
    table = str(tmp_path / "teltable")

    def run(ck, telemetry):
        stream = spark.readStream.schema("id LONG, text STRING").json(str(src))
        write_stream_manifest(
            stream, table, ck, app_id=f"telq:{ck}",
            dedup_keys=("text",), dedup_order_col="id",
            telemetry=telemetry,
        ).awaitTermination()

    (src / "b0.json").write_text(
        _json.dumps({"id": 1, "text": "alpha"}) + "\n"
        + _json.dumps({"id": 2, "text": "alpha"}) + "\n"   # within-batch dup
        + _json.dumps({"id": 3, "text": "beta"})
    )
    run(str(tmp_path / "telck0"), telemetry=True)
    hist = ingest_history(table)
    assert len(hist) == 1
    h = hist[0]
    assert h["input"] == 3 and h["after_exact"] == 2 and h["committed"] == 2

    # second run (fresh checkpoint): re-reads ALL files (5 rows) — the
    # gate counts must show the whole funnel: 5 in, keep-first +
    # corpus anti-join down to the one genuinely new text
    (src / "b1.json").write_text(
        _json.dumps({"id": 10, "text": "alpha"}) + "\n"    # seen by corpus
        + _json.dumps({"id": 11, "text": "gamma"})
    )
    run(str(tmp_path / "telck1"), telemetry=True)
    hist = ingest_history(table)
    assert len(hist) == 2
    assert hist[1]["input"] == 5 and hist[1]["after_exact"] == 1
    assert hist[1]["committed"] == 1

    # telemetry off -> no gates on the commit
    (src / "b2.json").write_text(_json.dumps({"id": 20, "text": "delta"}))
    run(str(tmp_path / "telck2"), telemetry=False)
    assert len(ingest_history(table)) == 2
    assert {r["id"] for r in M.read_table(spark, table).collect()} == {
        1, 3, 11, 20
    }


def test_simhash_plus_span_crash_replay_pins_chunk_index(spark, tmp_path):
    """Code review r11 (high): with near_dedup simhash AND span_dedup
    configured, a crash between the chunks commit and the grams commit
    replays the whole gate chain AFTER the batch's own fingerprints
    entered the chunks index — unpinned, every redelivered row
    self-matches at hamming 0, the batch empties, and the pending grams
    commit permanently records an EMPTY set. The replay must pin the
    chunk-index read to the pre-commit version and converge with the
    batch's grams present."""
    import json as _json

    import pytest as _pytest

    from newsmaper_etl_spark import keyindex as K
    from newsmaper_etl_spark import manifest as M

    src = tmp_path / "sscin"
    src.mkdir()
    table = str(tmp_path / "ssctable")

    def run(ck):
        from newsmaper_etl_spark.streaming.pipeline import write_stream_manifest

        stream = spark.readStream.schema("id LONG, text STRING").json(str(src))
        write_stream_manifest(
            stream, table, ck, app_id=f"sscq:{ck}",
            near_dedup={"id_col": "id", "method": "simhash",
                        "max_hamming": 0},
            span_dedup={"id_col": "id", "k": 8},
        ).awaitTermination()

    (src / "b0.json").write_text(
        _json.dumps({"id": 1, "text": "base document with plenty of words"})
    )
    run(str(tmp_path / "sscck0"))

    fresh = " ".join(f"f{i}" for i in range(10))
    (src / "b1.json").write_text(_json.dumps({"id": 2, "text": fresh}))
    ck1 = str(tmp_path / "sscck1")
    with _fail_side_index_commit("_grams", "injected crash before grams commit"):
        with _pytest.raises(Exception):
            run(ck1)
    # data AND chunks committed; grams one behind
    assert {r["id"] for r in M.read_table(spark, table).collect()} == {1, 2}
    cidx = M.read_table(spark, K.chunks_index_path(table))
    assert 2 in {r["id"] for r in cidx.collect()}
    g_before = M.read_table(spark, K.grams_index_path(table)).count()

    run(ck1)  # replay: must pin the chunks read, keep row 2's text, and
    # commit its grams (not an empty frame)
    rows = {r["id"]: r["text"] for r in M.read_table(spark, table).collect()}
    assert rows[2] == fresh
    g_after = M.read_table(spark, K.grams_index_path(table)).count()
    assert g_after > g_before  # the batch's grams landed on replay


def test_stream_manifest_para_dedup_on_ingest(spark, tmp_path):
    """para_dedup: ingested text is EDITED against the persisted
    paragraph-hash index — a batch doc repeating a paragraph the corpus
    already holds commits with that paragraph cut (rows edited, never
    dropped), the _paras side table tracks exactly the as-committed
    text's paragraphs under the txn discipline, and a crash between the
    data commit and the paras commit heals on replay with the same
    edit."""
    import json as _json

    import pytest as _pytest

    from newsmaper_etl_spark import keyindex as K
    from newsmaper_etl_spark import manifest as M

    src = tmp_path / "parain"
    src.mkdir()
    table = str(tmp_path / "paratable")

    def run(ck):
        from newsmaper_etl_spark.streaming.pipeline import write_stream_manifest

        stream = spark.readStream.schema("id LONG, text STRING").json(str(src))
        write_stream_manifest(
            stream, table, ck, app_id=f"paraq:{ck}",
            para_dedup={"id_col": "id"},
        ).awaitTermination()

    (src / "b0.json").write_text(
        _json.dumps({"id": 1, "text": "boiler plate\n\nunique alpha"}) + "\n"
        + _json.dumps({"id": 2, "text": "unique beta"})
    )
    run(str(tmp_path / "parack0"))
    rows = {r["id"]: r["text"] for r in M.read_table(spark, table).collect()}
    assert rows[1] == "boiler plate\n\nunique alpha"
    pidx = M.read_table(spark, K.paras_index_path(table))
    assert pidx.count() == 3  # three distinct paragraphs registered

    # second batch: corpus-held paragraph cut, fresh doc untouched,
    # within-batch copy keep-first
    (src / "b1.json").write_text(
        _json.dumps({"id": 10, "text": "boiler plate\n\nnew gamma"}) + "\n"
        + _json.dumps({"id": 11, "text": "shared delta"}) + "\n"
        + _json.dumps({"id": 12, "text": "shared delta\n\nnew eps"})
    )
    run(str(tmp_path / "parack1"))
    rows = {r["id"]: r["text"] for r in M.read_table(spark, table).collect()}
    assert rows[10] == "new gamma"      # corpus paragraph cut, row kept
    assert rows[11] == "shared delta"   # first occurrence kept
    assert rows[12] == "new eps"        # within-batch repeat cut
    assert set(rows) == {1, 2, 10, 11, 12}

    # crash between data commit and paras commit heals on replay
    (src / "b2.json").write_text(
        _json.dumps({"id": 20, "text": "shared delta\n\nfinal zeta"})
    )
    ck2 = str(tmp_path / "parack2")
    with _fail_side_index_commit("_paras", "injected crash before paras commit"):
        with _pytest.raises(Exception):
            run(ck2)
    rows = {r["id"]: r["text"] for r in M.read_table(spark, table).collect()}
    assert rows[20] == "final zeta"
    pv_before = M.current_version(K.paras_index_path(table))
    run(ck2)  # replay: data append skips, paras commit proceeds
    assert M.current_version(K.paras_index_path(table)) > pv_before
    rows = {r["id"]: r["text"] for r in M.read_table(spark, table).collect()}
    assert rows[20] == "final zeta"

    # separator drift refused
    with _pytest.raises(ValueError, match="separator"):
        K.check_stamp(K.PARAS, table, K.PARAS.stamp_of({"sep": "\n"}))


def test_stream_manifest_domain_gate_on_ingest(spark, tmp_path):
    """domain_gate: batches are gated against the ACCUMULATED per-domain
    statistics in the _domains side table — a domain too small within
    one batch is admitted once the accumulated count qualifies, a
    dropped row never pollutes the stats (deltas are committed from the
    AS-COMMITTED rows), unparseable URLs ride through, and a crash
    between the data commit and the domains commit heals on replay with
    the same gate decisions."""
    import json as _json

    import pytest as _pytest

    from newsmaper_etl_spark import keyindex as K
    from newsmaper_etl_spark import manifest as M

    src = tmp_path / "domin"
    src.mkdir()
    table = str(tmp_path / "domtable")
    # ONE checkpoint + app across every run: the gate's decisions depend
    # on WHICH rows form a batch, so each file set must be processed
    # exactly once (a fresh checkpoint would re-read earlier files into
    # a new combined batch and legitimately re-decide rare.example)
    ck = str(tmp_path / "domck")

    def run():
        from newsmaper_etl_spark.streaming.pipeline import write_stream_manifest

        stream = spark.readStream.schema("id LONG, url STRING").json(str(src))
        write_stream_manifest(
            stream, table, ck, app_id="domq",
            domain_gate={"url_col": "url", "min_docs": 2},
        ).awaitTermination()

    (src / "b0.json").write_text(
        _json.dumps({"id": 1, "url": "https://a.keep.example/1"}) + "\n"
        + _json.dumps({"id": 2, "url": "https://b.keep.example/2"}) + "\n"
        + _json.dumps({"id": 3, "url": "https://keep.example/3"}) + "\n"
        + _json.dumps({"id": 4, "url": "https://rare.example/x"}) + "\n"
        + _json.dumps({"id": 5, "url": ""})
    )
    run()
    rows = {r["id"] for r in M.read_table(spark, table).collect()}
    # born-streaming first batch: its own stats gate it — keep.example
    # (3 docs, subdomains collapse to one registered domain) passes,
    # rare.example (1) drops, the unparseable row is kept
    assert rows == {1, 2, 3, 5}
    idx = {r["domain"]: r["n_docs"]
           for r in K.read_domains_index(spark, table).collect()}
    # deltas describe the AS-COMMITTED rows: the dropped rare.example
    # row is NOT in the stats
    assert idx["keep.example"] == 3 and "rare.example" not in idx

    # second batch: keep.example passes ONLY via the accumulated count
    # (batch-local n=1 < 2); rare.example still starves (its b0 row
    # never committed); a fresh domain qualifying within the batch lands
    (src / "b1.json").write_text(
        _json.dumps({"id": 10, "url": "https://rare.example/y"}) + "\n"
        + _json.dumps({"id": 11, "url": "https://keep.example/4"}) + "\n"
        + _json.dumps({"id": 12, "url": "https://pair.example/1"}) + "\n"
        + _json.dumps({"id": 13, "url": "https://pair.example/2"})
    )
    run()
    rows = {r["id"] for r in M.read_table(spark, table).collect()}
    assert rows == {1, 2, 3, 5, 11, 12, 13}
    idx = {r["domain"]: r["n_docs"]
           for r in K.read_domains_index(spark, table).collect()}
    assert idx["keep.example"] == 4 and idx["pair.example"] == 2

    # crash between data commit and domains commit heals on replay
    (src / "b2.json").write_text(
        _json.dumps({"id": 20, "url": "https://keep.example/5"})
    )
    with _fail_side_index_commit("_domains", "injected crash before domains commit"):
        with _pytest.raises(Exception):
            run()
    rows = {r["id"] for r in M.read_table(spark, table).collect()}
    assert 20 in rows  # data committed before the injected crash
    dv_before = M.current_version(K.domains_index_path(table))
    run()  # replay: data append skips, domains commit proceeds
    assert M.current_version(K.domains_index_path(table)) > dv_before
    idx = {r["domain"]: r["n_docs"]
           for r in K.read_domains_index(spark, table).collect()}
    assert idx["keep.example"] == 5

    # basis drift refused: the index was built without token sums
    with _pytest.raises(ValueError, match="token basis|PSL"):
        K.check_stamp(K.DOMAINS, table,
                      K.DOMAINS.stamp_of({"tokens_col": "n_tokens"}))


def test_stream_manifest_canonical_url_dedup_composition(spark, tmp_path):
    """Streaming canonical-URL dedup is a COMPOSITION, not new
    machinery: derive the canonical key before the sink and pass it as
    dedup_keys — the persisted _keys index then makes the canonical
    URL at-most-once across the table's whole history. NULL canonical
    keys (unparseable URLs) are salted with the row id so they never
    collapse into one survivor (the url_dedup NULL contract, applied
    caller-side)."""
    from pyspark.sql import functions as F

    from newsmaper_etl_spark import manifest as M
    from newsmaper_etl_spark.operators.web import canonical_url_col
    from newsmaper_etl_spark.streaming.pipeline import write_stream_manifest

    src = tmp_path / "ustream_in"
    src.mkdir()
    with open(src / "a.json", "w") as f:
        f.write(
            '{"id": 1, "url": "https://www.page.io/x?utm_source=a"}\n'
            '{"id": 2, "url": "http://page.io/x/"}\n'   # same page: drops
            '{"id": 3, "url": ""}\n'                    # unparseable: kept
            '{"id": 4, "url": ""}\n'                    # ... both of them
        )
    table = str(tmp_path / "utable")

    def run(ck):
        stream = spark.readStream.schema("id INT, url STRING").json(str(src))
        keyed = stream.withColumn(
            "url_canon",
            F.coalesce(
                canonical_url_col("url"),
                F.concat(F.lit("__unparseable__"), F.col("id").cast("string")),
            ),
        )
        write_stream_manifest(
            keyed, table, ck, app_id=f"uq:{ck}",
            dedup_keys=("url_canon",), dedup_order_col="id",
        ).awaitTermination()

    run(str(tmp_path / "uckpt"))
    rows = {r["id"] for r in M.read_table(spark, table).collect()}
    assert rows == {1, 3, 4}

    # a later re-crawl of the SAME page under yet another spelling and a
    # fresh id never re-enters; a genuinely new page lands
    with open(src / "b.json", "w") as f:
        f.write(
            '{"id": 10, "url": "https://page.io/x#frag"}\n'
            '{"id": 11, "url": "https://new.org/y"}\n'
        )
    run(str(tmp_path / "uckpt2"))
    rows = {r["id"] for r in M.read_table(spark, table).collect()}
    assert rows == {1, 3, 4, 11}


def test_stream_manifest_classifier_gate_on_ingest(spark, tmp_path):
    """classifier (r14): the stateless model-quality gate filters each
    micro-batch before the content gates; replay after a crash-free
    restart stays exactly-once; telemetry reports the gate's count; a
    classifier-rejected duplicate never reaches the key index."""
    import json as _json

    from newsmaper_etl_spark import keyindex as K
    from newsmaper_etl_spark import manifest as M

    src = tmp_path / "clfin"
    src.mkdir()
    table = str(tmp_path / "clftable")
    ck = str(tmp_path / "clfck")
    W = {"spark": 0.5, "query": 0.25, "slow": -0.5}

    def run():
        from newsmaper_etl_spark.streaming.pipeline import write_stream_manifest

        stream = spark.readStream.schema(
            "doc_id LONG, text STRING"
        ).json(str(src))
        write_stream_manifest(
            stream, table, ck, app_id="clfq",
            classifier={"weights": W, "missing": -0.03125},
            dedup_keys=("text",), dedup_order_col="doc_id",
            telemetry=True,
        ).awaitTermination()

    (src / "b0.json").write_text(
        _json.dumps({"doc_id": 1, "text": "spark query fast"}) + "\n"
        + _json.dumps({"doc_id": 2, "text": "slow slow slow"}) + "\n"
        + _json.dumps({"doc_id": 3, "text": "spark query fast"})
    )
    run()
    rows = {r["doc_id"] for r in M.read_table(spark, table).collect()}
    # doc2 fails the classifier; doc3 is doc1's exact dup → keep-first
    assert rows == {1}
    from newsmaper_etl_spark.streaming.pipeline import ingest_history

    hist = ingest_history(table)
    assert len(hist) == 1
    g = hist[0]
    assert g["input"] == 3
    assert g["after_classifier"] == 2
    assert g["after_exact"] == 1

    # second batch: a classifier-passing NEW doc lands; a re-delivered
    # copy of doc1 is blocked by the key index, and a classifier-failing
    # row never even reaches it
    (src / "b1.json").write_text(
        _json.dumps({"doc_id": 10, "text": "spark spark"}) + "\n"
        + _json.dumps({"doc_id": 11, "text": "spark query fast"}) + "\n"
        + _json.dumps({"doc_id": 12, "text": "slow batch"})
    )
    run()
    rows = {r["doc_id"] for r in M.read_table(spark, table).collect()}
    assert rows == {1, 10}
    # replay with no new files: exactly-once (no duplicate appends)
    run()
    assert {r["doc_id"] for r in M.read_table(spark, table).collect()} == {1, 10}

    # validation: weights required
    import pytest as _pytest

    from newsmaper_etl_spark.streaming.pipeline import write_stream_manifest

    stream = spark.readStream.schema("doc_id LONG, text STRING").json(str(src))
    with _pytest.raises(ValueError, match="weights"):
        write_stream_manifest(
            stream, table, ck, app_id="clfq", classifier={"bias": 0.1},
        )


def test_stream_manifest_dsir_selection_on_ingest(spark, tmp_path):
    """dsir: the _gumbel side table accumulates each batch's local
    Gumbel top-k partial, and read_gumbel_index returns the EXACT
    global selection over everything committed (the decomposability
    contract) — a later batch's stronger doc evicts an earlier winner,
    a crash between the data commit and the gumbel commit heals on
    replay, and a basis drift (different k) is refused."""
    import json as _json

    import pytest as _pytest

    from newsmaper_etl_spark import keyindex as K
    from newsmaper_etl_spark import manifest as M
    from newsmaper_etl_spark.operators import selection as SEL

    src = tmp_path / "dsin"
    src.mkdir()
    table = str(tmp_path / "dstable")
    ck = str(tmp_path / "dsck")
    W = {"good": 1.0, "bad": -1.0}
    CFG = {"weights": W, "k": 3, "seed": 0, "missing": 0.0}

    def run():
        from newsmaper_etl_spark.streaming.pipeline import write_stream_manifest

        stream = spark.readStream.schema("doc_id LONG, text STRING").json(str(src))
        write_stream_manifest(
            stream, table, ck, app_id="dsq", dsir=CFG,
        ).awaitTermination()

    def doc(i, n_good, n_bad=0):
        return _json.dumps(
            {"doc_id": i, "text": " ".join(["good"] * n_good + ["bad"] * n_bad)}
        )

    # logw gaps (≥10) dwarf the Gumbel noise range, so the selected SET
    # is readable from the weights
    (src / "b0.json").write_text(
        doc(1, 100) + "\n" + doc(2, 90) + "\n"
        + doc(3, 10) + "\n" + doc(4, 0, 100)
    )
    run()
    sel = {r["id"] for r in K.read_gumbel_index(spark, table, 3).collect()}
    assert sel == {1, 2, 3}

    # a stronger doc in a later batch EVICTS the weakest winner
    (src / "b1.json").write_text(doc(10, 95) + "\n" + doc(11, 0, 5))
    run()
    sel = {r["id"] for r in K.read_gumbel_index(spark, table, 3).collect()}
    assert sel == {1, 2, 10}

    # exactness: the index equals a from-scratch top-k over the table
    scored = SEL.dsir_log_weights(
        M.read_table(spark, table), W, missing=0.0
    )
    want = {(r.id, r.logw, r.gk) for r in
            SEL.dsir_topk_state(scored, 3, seed=0).collect()}
    got = {(r.id, r.logw, r.gk) for r in
           K.read_gumbel_index(spark, table, 3).collect()}
    assert got == want

    # crash between data commit and gumbel commit heals on replay
    (src / "b2.json").write_text(doc(20, 200))
    with _fail_side_index_commit("_gumbel", "injected crash before gumbel commit"):
        with _pytest.raises(Exception):
            run()
    assert 20 in {r["doc_id"] for r in M.read_table(spark, table).collect()}
    gv_before = M.current_version(K.gumbel_index_path(table))
    run()  # replay: data append skips, gumbel commit proceeds
    assert M.current_version(K.gumbel_index_path(table)) > gv_before
    sel = {r["id"] for r in K.read_gumbel_index(spark, table, 3).collect()}
    assert sel == {20, 1, 10}  # logw 200 / 100 / 95

    # basis drift refused: same weights, different k
    with _pytest.raises(ValueError, match="selection basis"):
        K.check_stamp(K.GUMBEL, table, K.GUMBEL.stamp_of(
            K.gate_config(K.GUMBEL, {"weights": W, "k": 5})))


def test_gumbel_bootstrap_preexisting_table(spark, tmp_path):
    """A table that predates the _gumbel index pays ONE bootstrap
    scoring pass: pre-existing winners appear in the selection even
    though they never flowed through a batch."""
    import json as _json

    from newsmaper_etl_spark import keyindex as K
    from newsmaper_etl_spark import manifest as M

    table = str(tmp_path / "gbtable")
    W = {"good": 1.0}
    pre = spark.createDataFrame(
        [(1, "good " * 50), (2, "meh")], "doc_id long, text string"
    )
    M.append(pre, table)
    src = tmp_path / "gbin"
    src.mkdir()
    (src / "b0.json").write_text(
        _json.dumps({"doc_id": 10, "text": "good good"})
    )
    from newsmaper_etl_spark.streaming.pipeline import write_stream_manifest

    stream = spark.readStream.schema("doc_id LONG, text STRING").json(str(src))
    write_stream_manifest(
        stream, table, str(tmp_path / "gbck"), app_id="gbq",
        dsir={"weights": W, "k": 2},
    ).awaitTermination()
    sel = {r["id"] for r in K.read_gumbel_index(spark, table, 2).collect()}
    assert sel == {1, 10}  # bootstrap winner + batch doc beat doc 2


def test_gumbel_squash_keeps_selection_and_txn_marks(spark, tmp_path):
    """compact_index of the _gumbel selection rewrites the side table as
    exactly the k winners: the selection is unchanged, the table holds k
    rows, and the txn high-water marks survive the overwrite — a
    replayed old batch stays replay-skipped (append_batch_index returns
    False)."""
    from newsmaper_etl_spark import keyindex as K
    from newsmaper_etl_spark import manifest as M

    table = str(tmp_path / "sqtable")
    cfg = K.gate_config(K.GUMBEL, {"weights": {"good": 1.0}, "k": 3})
    for bid, n in [(0, 5), (1, 9), (2, 2)]:
        batch = spark.createDataFrame(
            [(bid * 10 + i, "good " * (n + i)) for i in range(3)],
            "doc_id long, text string",
        )
        K.append_batch_index(K.GUMBEL, batch, table, cfg, "sqapp", bid)
    before = {(r.id, r.gk) for r in
              K.read_gumbel_index(spark, table, 3).collect()}
    raw_rows = M.read_table(spark, K.gumbel_index_path(table)).count()
    assert raw_rows == 9  # 3 batches x local top-3
    K.compact_index(K.GUMBEL, spark, table, cfg)
    after = {(r.id, r.gk) for r in
             K.read_gumbel_index(spark, table, 3).collect()}
    assert after == before
    assert M.read_table(spark, K.gumbel_index_path(table)).count() == 3
    # exactly-once state survives the overwrite
    replay = spark.createDataFrame(
        [(99, "good good")], "doc_id long, text string"
    )
    assert not K.append_batch_index(K.GUMBEL, replay, table, cfg, "sqapp", 1)
    assert 99 not in {r.id for r in
                      K.read_gumbel_index(spark, table, 3).collect()}


#: The on-disk contract of every side index: subdir → (bootstrap
#: ``op_detail``, stamp column → value in the manifest footer stats for
#: the configurations of :func:`_layout_configs`).
#: Tables written by earlier releases stay readable only while this
#: holds.
_SIDE_LAYOUT = {
    "_keys": ("keyindex-bootstrap", {}),
    "_banded": ("bandedindex-bootstrap", {"__nh": 16, "__nb": 4, "__k": 3}),
    "_chunks": ("chunkindex-bootstrap", {"__mh": 3, "__bits": 64}),
    "_semcells": ("semcells-bootstrap",
                  {"__nc": 2, "__np": 8, "__nt": 8, "__dim": 8, "__seed": 42}),
    "_semcentroids": ("semcentroids",
                      {"__nc": 2, "__np": 8, "__nt": 8, "__dim": 8,
                       "__seed": 42}),
    "_grams": ("gramsindex-bootstrap", {"__gk": 4}),
    "_paras": ("parasindex-bootstrap", {"__psep": 1541608299}),
    "_domains": ("domainsindex-bootstrap", {"__dpsl": 2871300763}),
    "_gumbel": ("gumbelindex-bootstrap", {"__gfp": 2931546644}),
}


def _layout_configs():
    """(schema, rows, write_stream_manifest kwargs, side subdirs): every
    side-index kind, in the three gate combinations that can coexist."""
    text = ("id LONG, text STRING, url STRING",
            [(1, "alpha beta gamma delta\n\nshared tail words here",
              "https://a.example/1"),
             (2, "epsilon zeta eta theta iota", "https://b.example/2")],
            [(10, "kappa lambda mu nu xi\n\nshared tail words here",
              "https://a.example/3"),
             (11, "omicron pi rho sigma tau", "https://c.example/4")])
    vecs = ("id LONG, embedding ARRAY<DOUBLE>",
            [(1, [1.0] + [0.0] * 7), (2, [0.0, 1.0] + [0.0] * 6)],
            [(10, [0.0, 0.0, 1.0] + [0.0] * 5),
             (11, [0.0] * 7 + [1.0])])
    return [
        (*text, {"dedup_keys": ("text",), "dedup_order_col": "id",
                 "near_dedup": {"id_col": "id"},
                 "para_dedup": {"id_col": "id"},
                 "span_dedup": {"id_col": "id", "k": 4},
                 "domain_gate": {"url_col": "url", "min_docs": 1},
                 "dsir": {"weights": {"alpha": 1.0, "kappa": 2.0}, "k": 2,
                          "id_col": "id"}},
         {"_keys", "_banded", "_paras", "_grams", "_domains", "_gumbel"}),
        (*text, {"near_dedup": {"id_col": "id", "method": "simhash"}},
         {"_chunks"}),
        (*vecs, {"near_dedup": {"id_col": "id", "method": "semantic",
                                "vec_col": "embedding", "dim": 8,
                                "n_centroids": 2, "sample_n": 64}},
         {"_semcells", "_semcentroids"}),
    ]


def test_side_index_on_disk_layout_is_pinned(spark, tmp_path):
    """Every side-index kind keeps its on-disk contract, for a table
    that needs a bootstrap (rows committed before the gate was
    configured) and for a born-streaming table: the subdir names, the
    stamp columns and values in the manifest footer stats, the
    bootstrap ``op_detail`` tags, and the ``#keyindex-bootstrap`` txn
    app of the bootstrap commit."""
    import json as _json
    import os

    from newsmaper_etl_spark import manifest as M
    from newsmaper_etl_spark.streaming.pipeline import write_stream_manifest

    boot_app_suffix = "#keyindex-bootstrap"
    for ci, (schema, pre, batch, cfg, subs) in enumerate(_layout_configs()):
        cols = [c.split()[0] for c in schema.split(", ")]
        for mode in ("bootstrap", "born"):
            table = str(tmp_path / f"t{ci}{mode}")
            src = tmp_path / f"s{ci}{mode}"
            src.mkdir()
            if mode == "bootstrap":
                M.append(spark.createDataFrame(pre, schema), table)
            (src / "b0.json").write_text("\n".join(
                _json.dumps(dict(zip(cols, r))) for r in batch))
            app = f"layout{ci}{mode}"
            write_stream_manifest(
                spark.readStream.schema(schema).json(str(src)), table,
                str(tmp_path / f"ck{ci}{mode}"), app_id=app, **cfg,
            ).awaitTermination()

            found = {d for d in os.listdir(table)
                     if d.startswith("_") and d not in ("_manifests", "_LATEST")}
            assert found == subs, (mode, found)
            for sub in subs:
                path = os.path.join(table, sub)
                tag, stamp = _SIDE_LAYOUT[sub]
                first = M._load_manifest(path, 1)
                meta = first.get("meta") or {}
                if mode == "bootstrap" or sub == "_semcentroids":
                    assert meta.get("op_detail") == tag, (mode, sub, meta)
                    assert first.get("txns") == {app + boot_app_suffix: 0}
                else:
                    assert "op_detail" not in meta, (sub, meta)
                    assert first.get("txns") == {app: 0}
                if sub != "_semcentroids":
                    assert M.last_txn_version(path, app) == 0, (mode, sub)
                # files without row groups (empty partitions) carry no
                # footer stats; every other file carries the full stamp
                stats = [e.get("stats") or {}
                         for v in range(1, M.current_version(path) + 1)
                         for e in M._load_manifest(path, v)["files"]]
                assert stats, (mode, sub)
                assert not stamp or any(stats), (mode, sub)
                for st in filter(None, stats):
                    assert set(st) == set(stamp), (mode, sub, st)
                    for c, want in stamp.items():
                        lo, hi = st[c]
                        assert lo == hi, (sub, c, st[c])
                        assert lo == want, (sub, c, lo)


@pytest.mark.parametrize("first_gate, first_sub", [
    ("para_dedup", "_paras"),
    ("near_dedup", "_banded"),
])
def test_first_batch_replay_with_pending_grams_commit(
    spark, tmp_path, first_gate, first_sub
):
    """A born-streaming table's FIRST batch crashes after its
    ``first_sub`` commit and before its ``_grams`` commit. The replay
    pins that index to its pre-batch version 0, which means "no index",
    and fetches seen rows at data version 0, which means "no seen
    rows". It must finish and commit exactly what a crash-free run
    commits, data and side indexes alike."""
    import json as _json

    from newsmaper_etl_spark import manifest as M
    from newsmaper_etl_spark.streaming.pipeline import write_stream_manifest

    gate = {"para_dedup": {"id_col": "id"},
            "near_dedup": {"id_col": "id", "threshold": 0.5}}[first_gate]
    src = tmp_path / "fbin"
    src.mkdir()
    (src / "b0.json").write_text("\n".join(_json.dumps(d) for d in [
        {"id": 1, "text": "one two three four five\n\nalpha beta gamma"},
        {"id": 2, "text": "one two three four five\n\ndelta epsilon zeta"},
        {"id": 3, "text": "six seven eight nine ten eleven"},
    ]))

    def run(table, ck):
        stream = spark.readStream.schema("id LONG, text STRING").json(str(src))
        write_stream_manifest(
            stream, table, ck, app_id="fbq", span_dedup={"id_col": "id", "k": 4},
            **{first_gate: gate},
        ).awaitTermination()

    def state(table):
        return (
            sorted((r["id"], r["text"]) for r in M.read_table(spark, table).collect()),
            {sub: sorted(map(tuple, M.read_table(spark, f"{table}/{sub}")
                             .drop("__gk", "__psep", "__nh", "__nb", "__k")
                             .collect()))
             for sub in (first_sub, "_grams")},
        )

    clean = str(tmp_path / "clean")
    run(clean, str(tmp_path / "ck_clean"))

    crashed = str(tmp_path / "crashed")
    ck = str(tmp_path / "ck_crashed")
    with _fail_side_index_commit("_grams", "injected crash before grams commit"):
        with pytest.raises(Exception):
            run(crashed, ck)
    assert M.current_version(f"{crashed}/{first_sub}") == 1
    assert M.current_version(f"{crashed}/_grams") == 0
    run(crashed, ck)  # replay of batch 0
    assert state(crashed) == state(clean)


_W = {"good": 1.0}
_NEAR = {"text_col": "text", "within_batch": False, "id_col": "id"}

#: write_stream_manifest keyword, its minimal config, the spec it
#: selects, the normalized cfg and the telemetry label. The cfgs are the
#: dicts the sink built by hand before the specs carried the defaults.
_GATE_CONFIGS = [
    ("dedup_keys", {"cols": ["text"], "order_col": None}, "KEYS",
     {"cols": ["text"], "order_col": None}, "after_exact"),
    ("near_dedup", {"id_col": "id"}, "BANDED",
     {**_NEAR, "method": "minhash", "threshold": 0.8, "num_hashes": 16,
      "bands": 4, "k": 3, "max_candidate_ids": 100_000}, "after_near"),
    ("near_dedup", {"id_col": "id", "method": "simhash"}, "CHUNKS",
     {**_NEAR, "method": "simhash", "max_hamming": 3, "bits": 64},
     "after_near"),
    ("near_dedup", {"id_col": "id", "method": "semantic"}, "SEMCELLS",
     {**_NEAR, "method": "semantic", "vec_col": "embedding", "dim": 64,
      "threshold": 0.9, "n_centroids": 64, "n_planes": None, "n_tables": 8,
      "sample_n": 2048, "seed": 42, "max_candidate_ids": 100_000},
     "after_near"),
    ("para_dedup", {"id_col": "id"}, "PARAS",
     {"id_col": "id", "text_col": "text", "sep": "\n\n"}, "after_para"),
    ("span_dedup", {"id_col": "id"}, "GRAMS",
     {"id_col": "id", "text_col": "text", "k": 8}, None),
    ("domain_gate", {"url_col": "url", "max_docs": 5}, "DOMAINS",
     {"url_col": "url", "tokens_col": None, "min_docs": None, "max_docs": 5,
      "min_sum_tokens": None}, "after_domain"),
    ("classifier", {"weights": _W}, "CLASSIFIER",
     {"weights": _W, "bias": 0.0, "threshold": 0.5, "missing": 0.0,
      "text_col": "text", "id_col": "doc_id"}, "after_classifier"),
    ("dsir", {"weights": _W, "k": 3}, "GUMBEL",
     {"weights": _W, "k": 3, "seed": 0, "missing": 0.0, "text_col": "text",
      "id_col": "doc_id"}, None),
]

#: keyword, a config that leaves out one required entry (or is
#: otherwise invalid), the word the error must name besides the keyword
_BAD_GATE_CONFIGS = [
    ("near_dedup", {"text_col": "body"}, "id_col"),
    ("near_dedup", {"method": "simhash"}, "id_col"),
    ("near_dedup", {"method": "semantic"}, "id_col"),
    ("near_dedup", {"id_col": "id", "method": "bloom"}, "method"),
    ("para_dedup", {"sep": "\n"}, "id_col"),
    ("span_dedup", {"k": 4}, "id_col"),
    ("domain_gate", {"max_docs": 5}, "url_col"),
    ("domain_gate", {"url_col": "url"}, "threshold"),
    ("classifier", {"bias": 0.1}, "weights"),
    ("dsir", {"k": 3}, "weights"),
    ("dsir", {"weights": _W}, "k"),
    # an empty config is incomplete, not "gate off" (only None is)
    ("dedup_keys", (), "cols"),
    ("near_dedup", {}, "id_col"),
    ("para_dedup", {}, "id_col"),
    ("span_dedup", {}, "id_col"),
    ("domain_gate", {}, "url_col"),
    ("classifier", {}, "weights"),
    ("dsir", {}, "weights"),
]


@pytest.mark.parametrize(
    "keyword,raw,spec,cfg,label", _GATE_CONFIGS,
    ids=[f"{c[0]}-{c[2]}" for c in _GATE_CONFIGS],
)
def test_gate_config_normalizes_to_the_sink_contract(keyword, raw, spec,
                                                     cfg, label):
    """Each gate keyword's minimal config normalizes, on its spec, to
    the exact dict the sink committed to; near-dedup's ``id_col`` rides
    the data commits' stat columns for every method. No query starts."""
    from newsmaper_etl_spark import keyindex as K

    [(got_spec, got)] = K.gate_chain(**{keyword: raw})
    assert got_spec is getattr(K, spec)
    assert got == cfg
    assert got_spec.label == label
    assert got_spec.data_stat_col == ("id_col" if keyword == "near_dedup"
                                      else None)


def test_gate_chain_runs_in_the_documented_order():
    """domain → classifier → exact → near → para → span → dsir, whatever
    order the keywords come in."""
    from newsmaper_etl_spark import keyindex as K

    configs = {kw: raw for kw, raw, spec, _, _ in _GATE_CONFIGS
               if spec != "CHUNKS" and spec != "SEMCELLS"}
    chain = K.gate_chain(**dict(reversed(configs.items())))
    assert [s.keyword for s, _ in chain] == [
        "domain_gate", "classifier", "dedup_keys", "near_dedup",
        "para_dedup", "span_dedup", "dsir"]


@pytest.mark.parametrize(
    "keyword,raw,word", _BAD_GATE_CONFIGS,
    ids=[f"{c[0]}-{c[2]}" if c[1] else f"{c[0]}-empty"
         for c in _BAD_GATE_CONFIGS],
)
def test_gate_config_errors_raise_at_call_time(spark, tmp_path, keyword,
                                               raw, word):
    """A missing required entry (or an unknown method, or a domain gate
    with no threshold) raises ValueError naming the gate and the key
    when write_stream_manifest is called, before any query starts."""
    stream = spark.readStream.schema("id LONG, text STRING").json(
        str(tmp_path))
    with pytest.raises(ValueError, match=rf"{keyword}.*{word}"):
        write_stream_manifest(stream, str(tmp_path / "t"),
                              str(tmp_path / "ck"), **{keyword: raw})
    assert not spark.streams.active
