"""Incremental (streaming) mode of the news pipeline.

The reference is a hand-rolled micro-batch stream: a 20-minute Airflow
schedule (Main.py:23), exactly-once-by-anti-join (Load.py:22-25), and a
corrective dedup task (Main.py:28-47). Structured Streaming replaces all
three mechanisms natively:

- trigger: ``processingTime='20 minutes'`` (or ``availableNow`` for
  catch-up runs — the analog of ``catchup=False``);
- exactly-once: ``dropDuplicatesWithinWatermark`` on the composite key
  (L7) + the manifest sink (:func:`write_stream_manifest`: per-writer
  txn marks make each batch land once, its ``_keys`` index admits each
  key once) — no target anti-join scan per batch;
- late/duplicate repair: subsumed by the watermark; the batch
  ``dedup_keep_first`` remains available as a repair job.

The Transform chain is :func:`operators.newsmaper.transform_news`, the
same function the batch pipeline and the CLI call: its operators are
expression-only (the country vote is the stateless per-row tagger), so
it composes unchanged into the streaming plan — one definition of the
semantics for both modes.

State sizing at scale: the dedup state key is sha2(concat(keys)) rather
than the raw 3-column key (titles are long strings; hashing keeps state
rows ~32 bytes), and the :data:`NEWS_WATERMARK` lateness window bounds
state growth.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from newsmaper_etl_spark.operators.newsmaper import NEWS_KEY, transform_news

#: Pinned source schema for streaming article ingestion (in-flight RSS
#: items — FIXTURES.md B2; schema inference is dev-only).
ARTICLES_SCHEMA = T.StructType(
    [
        T.StructField("article_id", T.LongType(), False),
        T.StructField("id_source", T.IntegerType(), False),
        T.StructField("title", T.StringType(), False),
        T.StructField("link", T.StringType(), False),
        T.StructField("description", T.StringType(), False),
        T.StructField("media", T.StringType(), True),
        T.StructField("date", T.StringType(), False),
    ]
)


def read_article_stream(
    spark: SparkSession, source_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-based article stream (one JSON file per fetch batch — the
    streaming stand-in for the RSS poller; a Spark 4 Python DataSource
    doing live HTTP would slot in here unchanged)."""
    reader = spark.readStream.schema(ARTICLES_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(source_dir)


#: Event-time lateness window of :func:`transform_stream`'s
#: within-watermark dedup: how long its state holds a key.
NEWS_WATERMARK = "2 hours"


def transform_stream(
    articles: DataFrame, references: DataFrame, date_dim: DataFrame
) -> DataFrame:
    """:func:`transform_news` on a streaming frame + watermarked
    within-stream dedup on the composite key (L7).

    A date-dimension miss drops the article instead of failing the
    query. The target-table anti-join of batch mode is replaced by the
    dedup state + idempotent sink.
    """
    keyed = transform_news(
        articles, references, date_dim, check_misses=False
    ).withColumn("__key", F.sha2(F.concat_ws("\x1f", *NEWS_KEY), 256))
    return (
        keyed.withWatermark("pub_ts", NEWS_WATERMARK)
        .dropDuplicatesWithinWatermark(["__key"])
        .drop("__key", "pub_ts")
    )


def run_rss_stream(
    spark: SparkSession,
    sources: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    references: DataFrame,
    date_dim: DataFrame,
    trigger: dict | None = None,
    permissive: bool = True,
):
    """The COMPLETE streaming replacement for the reference's scheduler:
    rss polling stream (one fetch per feed per micro-batch) → transform
    chain → watermarked dedup → :func:`write_stream_manifest` onto the
    manifest table ``out_dir``. With
    ``trigger={'processingTime': '20 minutes'}`` this IS the reference's
    cadence (Main.py:23) minus Airflow. Each poll re-emits current feed
    items: the watermark state drops repeats within the lateness window,
    and the sink's ``_keys`` index on :data:`NEWS_KEY` admits each
    composite key at most once across the table's history — also after
    a restart on a fresh checkpoint. Per-file ``id_date`` stats are
    recorded for date-ranged reads.

    Returns the StreamingQuery (caller stops/awaits). Default trigger is
    one micro-batch (``once``) — a single poll, the test/catch-up shape.
    ``permissive`` defaults True here: an always-on poller must outlive
    one broken outlet."""
    import json

    from newsmaper_etl_spark.sources import register_rss_source

    register_rss_source(spark)
    feeds = json.dumps(
        [{"id": r["id"], "rss": r["rss"]}
         for r in sources.select("id", "rss").collect()]
    )
    articles = (
        spark.readStream.format("rss")
        .option("feeds", feeds)
        .option("permissive", str(permissive).lower())
        .load()
    )
    result = transform_stream(articles, references, date_dim)
    return write_stream_manifest(
        result, out_dir, checkpoint_dir, trigger=trigger or {"once": True},
        stat_cols=("id_date",), dedup_keys=NEWS_KEY,
    )


def tumbling_counts_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Event-time tumbling window aggregation (the streaming form of
    q_tumbling_window's epoch-div buckets)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"))
        .agg(F.count(F.lit(1)).alias("c"), F.round(F.sum("value"), 2).alias("sum_v"))
        .select(F.col("win.start").alias("win_start"), "c", "sum_v")
    )


def session_counts_stream(
    events: DataFrame, gap: str = "30 minutes", watermark: str | None = None
) -> DataFrame:
    """Event-time session windows (native session_window operator — the
    streaming form of q_session_window's lag+cumsum batch analog).

    ``watermark`` defaults to the session GAP: a watermark shorter than
    the gap would finalize and emit a session that the gap rule still
    considers open (an event arriving gap−ε later belongs to it),
    silently splitting sessions — so a caller-supplied watermark below
    the gap is rejected."""
    wm = watermark if watermark is not None else gap
    if _duration_seconds(wm) < _duration_seconds(gap):
        raise ValueError(
            f"watermark {wm!r} is shorter than the session gap {gap!r}: "
            "sessions still open under the gap rule would be finalized "
            "early and split"
        )
    return (
        events.withWatermark("ts", wm)
        .groupBy("user_id", F.session_window("ts", gap).alias("win"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("win.start").alias("session_start"), "n_events")
    )


_DURATION_UNITS = {
    "microsecond": 1e-6, "microseconds": 1e-6,
    "millisecond": 1e-3, "milliseconds": 1e-3,
    "second": 1, "seconds": 1, "minute": 60, "minutes": 60,
    "hour": 3600, "hours": 3600, "day": 86400, "days": 86400,
    "week": 604800, "weeks": 604800,
}


def _duration_seconds(s: str) -> float:
    """Parse Spark interval strings ('10 seconds', '500 milliseconds',
    '1 hour 30 minutes') for the watermark-vs-gap sanity check.
    Multi-part intervals sum; unparseable strings raise a descriptive
    ValueError instead of a raw KeyError/unpack crash."""
    tokens = s.strip().lower().split()
    if not tokens or len(tokens) % 2 != 0:
        raise ValueError(
            f"unparseable interval {s!r}: expected '<n> <unit>' pairs "
            f"(e.g. '10 seconds', '1 hour 30 minutes')"
        )
    total = 0.0
    for num, unit in zip(tokens[::2], tokens[1::2]):
        if unit not in _DURATION_UNITS:
            raise ValueError(
                f"unparseable interval {s!r}: unknown unit {unit!r} "
                f"(known: {sorted(set(_DURATION_UNITS))})"
            )
        try:
            total += float(num) * _DURATION_UNITS[unit]
        except ValueError:
            raise ValueError(
                f"unparseable interval {s!r}: non-numeric count {num!r}"
            ) from None
    return total


def correlate_streams(
    left: DataFrame,
    right: DataFrame,
    on,
    left_ts: str,
    right_ts: str,
    within: str = "30 minutes",
    watermark: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join with the event-time range bound that makes it
    STATEFUL-FINITE: right events join left events at most ``within``
    later. Both sides carry watermarks, so the state store can expire
    buffered rows once the other side's watermark passes — without the
    range condition Spark would have to buffer both streams forever.

    The attribution shape (click → purchase within N minutes) a training
    -data or analytics pipeline runs on event streams; works unchanged on
    batch frames (the time bound becomes a plain theta join).

    ``on``: a join Column condition (e.g. ``l.user_id == r.buyer_id``);
    column names must be disjoint across sides (alias beforehand).
    """
    l_w = left.withWatermark(left_ts, watermark)
    r_w = right.withWatermark(right_ts, watermark)
    cond = (
        on
        & (F.col(right_ts) >= F.col(left_ts))
        & (F.col(right_ts) <= F.col(left_ts) + F.expr(f"INTERVAL {within}"))
    )
    return l_w.join(r_w, cond, how)


#: Output/state schemas for the custom stateful operator below.
_SOURCE_STATS_OUT = T.StructType(
    [
        T.StructField("id_source", T.IntegerType(), False),
        T.StructField("n_total", T.LongType(), False),
        T.StructField("n_batch", T.LongType(), False),
        T.StructField("last_pub_ts", T.TimestampType(), True),
    ]
)
_SOURCE_STATS_STATE = T.StructType(
    [
        T.StructField("n_total", T.LongType(), False),
        T.StructField("last_pub_us", T.LongType(), True),
    ]
)


def stateful_source_stats(articles: DataFrame) -> DataFrame:
    """Custom stateful operator (SURVEY §2.10: the flatMapGroupsWithState
    surface): per-source CUMULATIVE article count + latest publication
    timestamp, carried across micro-batches — and across RESTARTS — in
    the state store via ``applyInPandasWithState``.

    This is the operator class Structured Streaming's built-ins can't
    express (the running total spans arbitrarily many batches; windowed
    aggs reset, dropDuplicates only filters). State per key is two longs,
    so a million sources cost ~32 MB of store — the shape that scales.

    Input needs ``id_source`` and ``pub_ts`` columns (post-parse).
    """
    import pandas as pd

    def _update(key, pdfs, state):
        n_batch = 0
        max_us = None
        for pdf in pdfs:
            n_batch += len(pdf)
            ts = pd.to_datetime(pdf["pub_ts"]).dropna()
            if len(ts):
                batch_max = ts.max().value // 1000  # ns → µs
                max_us = batch_max if max_us is None else max(max_us, batch_max)
        if state.exists:
            n_total, last_us = state.get
        else:
            n_total, last_us = 0, None
        n_total += n_batch
        if max_us is not None:
            last_us = max_us if last_us is None else max(last_us, max_us)
        state.update((n_total, last_us))
        out_ts = pd.Timestamp(last_us, unit="us") if last_us is not None else pd.NaT
        yield pd.DataFrame(
            {
                "id_source": [key[0]],
                "n_total": [n_total],
                "n_batch": [n_batch],
                "last_pub_ts": [out_ts],
            }
        )

    return (
        articles.select("id_source", "pub_ts")
        .groupBy("id_source")
        .applyInPandasWithState(
            _update,
            outputStructType=_SOURCE_STATS_OUT,
            stateStructType=_SOURCE_STATS_STATE,
            outputMode="update",
            timeoutConf="NoTimeout",
        )
    )


def write_stream_manifest(
    df: DataFrame,
    table: str,
    checkpoint_dir: str,
    trigger: dict | None = None,
    stat_cols: tuple[str, ...] = (),
    app_id: str | None = None,
    compact_every: int | None = None,
    compact_min_bytes: int = 32 * 1024 * 1024,
    merge_schema: bool = False,
    dedup_keys: tuple[str, ...] | None = None,
    dedup_order_col: str | None = None,
    near_dedup: dict | None = None,
    span_dedup: dict | None = None,
    para_dedup: dict | None = None,
    domain_gate: dict | None = None,
    classifier: dict | None = None,
    dsir: dict | None = None,
    telemetry: bool = False,
):
    """Exactly-once streaming sink onto a manifest-committed table
    (newsmaper_etl_spark/manifest.py) via ``foreachBatch``.

    The gate keywords — ``domain_gate``, ``classifier``, ``dedup_keys``
    (with ``dedup_order_col``), ``near_dedup`` (``method`` "minhash",
    "simhash" or "semantic"), ``para_dedup``, ``span_dedup`` and the
    ``dsir`` side output — each configure one stage of
    :data:`keyindex.CHAIN` and run in that order: domain → classifier →
    exact → near → para → span → dsir. Each stage's keys, defaults, side
    table and place in the chain are documented once, at its
    :class:`keyindex.SideIndex` spec; a config missing a required key
    raises ValueError at call time. A batch reads side tables, never the
    corpus snapshot (a table predating a side table pays one bootstrap
    scan). Each side table commits right after the data commit, under
    its own txn mark, from the batch AS COMMITTED (post every gate), so
    it covers exactly what the corpus holds. A crash between the data
    commit and an index commit leaves that index one batch behind; the
    foreachBatch replay repairs it (the data append skips via its mark,
    the index append proceeds via its own) and reads every side table
    and the data table at their pre-batch versions
    (keyindex.replay_version), so it re-derives exactly what the
    original run committed.

    Spark's foreachBatch contract is at-least-once: after a crash
    between "user function ran" and "checkpoint advanced", the SAME
    batch id is replayed. Each commit advances a per-WRITER high-water
    mark ``txn=(app_id, batch_id)`` in the manifest (Delta's txn
    action); a replayed batch at or below the mark skips instead of
    double-appending. The identity is the (app_id, batch_id) PAIR —
    batch ids alone are meaningless across queries, so a different
    pipeline (its own app_id / checkpoint) writing to the same table is
    never silently dropped. ``app_id`` defaults to the checkpoint
    location, which IS the streaming query's identity: a rolled-back or
    crash-replayed checkpoint keeps its id (replays skip), a brand-new
    checkpoint is a brand-new writer (its batches land). The mark rides
    the LATEST manifest, so the check is O(1) per batch and survives
    vacuum. Combined with the atomic pointer-flip commit (readers never
    see a half-batch), the table observes each micro-batch exactly
    once, without relying on the parquet file-sink's _spark_metadata
    log — and the output stays readable by the snapshot / time-travel /
    pruning API instead of only by Spark's file-sink-aware reader.

    Crash windows: a writer dying between the manifest CLAIM and the
    pointer flip leaves its own claim blocking the next version — the
    replay detects that case via the claim's txn mark and clears it
    (manifest.repair_claimed_orphan) before retrying, so the query
    self-heals instead of raising ConcurrentWriteError forever.
    A claim held by a DIFFERENT writer is a genuine race and still
    raises.

    ``merge_schema=True`` forwards additive schema evolution to the
    manifest commits: a RESTARTED query whose source gained a column
    (stream schemas are pinned per query run, so evolution happens
    across restarts) appends with the wider schema instead of failing
    every batch; dropped/retyped columns still fail loudly
    (manifest._check_schema).

    ``telemetry=True`` records per-batch GATE COUNTS in the data
    commit's manifest meta — ``{"gates": {"input": n, "after_exact":
    n, "after_near": n, "committed": n}}`` (``input``, ``committed`` and
    the ``label`` of each configured spec that has one) — the "what did
    my dedup gates drop last night?" audit, readable without a Spark
    job via :func:`ingest_history`. The counts
    cost no Spark job: each stage's output (the persisted input, a lazy
    classifier filter, an indexed gate's materialized frame) is counted
    by an ``Observation`` on the next job that reads it — the next
    indexed gate's eager ``localCheckpoint``, or the data commit's
    write, which also counts ``committed``; a gate that returns its
    input unchanged carries the previous count. A replayed batch whose
    data commit already landed records nothing. The drift telemetry
    riding the semantic index commits (keyindex.semantic_drift_history)
    is separate and always on.

    ``compact_every=N`` runs :func:`manifest.compact` after every Nth
    committed batch — the maintenance a 20-minute-micro-batch table
    needs forever (each batch adds small files; a year of that is ~10⁵
    objects whose per-file open cost dominates scans). Riding it on the
    writer keeps the single-writer assumption: compaction commits
    through the same optimistic protocol, a lost race (e.g. a second
    pipeline on the same table) skips this cycle and retries at the
    next, and a compact FAILURE never fails the batch — the data is
    already durably committed; compaction only rearranges bytes.
    """
    import os as _os

    from newsmaper_etl_spark import keyindex as K
    from newsmaper_etl_spark import manifest as M

    app = app_id or f"stream:{_os.path.abspath(checkpoint_dir)}"

    exact = None if dedup_keys is None else {"order_col": dedup_order_col}
    if dedup_keys:
        exact["cols"] = list(dedup_keys)
    chain = K.gate_chain(
        domain_gate=domain_gate, classifier=classifier, dedup_keys=exact,
        near_dedup=near_dedup, para_dedup=para_dedup, span_dedup=span_dedup,
        dsir=dsir,
    )
    indexes = [(spec, cfg) for spec, cfg in chain if spec.sub is not None]
    data_stat_cols = tuple(stat_cols) + tuple(
        cfg[spec.data_stat_col] for spec, cfg in chain
        if spec.data_stat_col and cfg[spec.data_stat_col] not in stat_cols
    )

    def _commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_id = int(batch_id)
        main_done = batch_id <= M.last_txn_version(table, app)
        if main_done and all(
            batch_id <= M.last_txn_version(spec.path(table), app)
            for spec, _ in indexes
        ):
            return  # data and every index committed: pure replay
        spark = batch_df.sparkSession
        # Replay with a pending INDEX commit (crash between the data
        # commit and a later index commit): every read below sees the
        # PRE-batch state the original run saw (keyindex.replay_version)
        data_version = (
            K.replay_version(table, app, batch_id) if main_done else None
        )
        for spec, cfg in indexes:
            # one-time bootstrap for a table that predates the index,
            # BEFORE the data commit so the snapshot is pre-batch
            K.ensure_index_bootstrap(spec, spark, table, cfg, app,
                                     version=data_version)
        # read the micro-batch's source ONCE: every count, gate and commit
        # below reads the cached rows, and every indexed gate returns its
        # input or an eagerly materialized frame, so no gate plan re-runs
        # (and dropDuplicates can't keep different survivors for the data
        # commit and an index append)
        src = batch_df = batch_df.persist()
        # telemetry: each stage's row count, observed on the next job
        # that reads the stage (no count() job of its own)
        counts: dict[str, Observation] = {}

        def observed(df: DataFrame, label: str | None) -> DataFrame:
            if not telemetry or main_done or label is None:
                return df
            counts[label] = Observation()
            return df.observe(counts[label], F.count(F.lit(1)).alias("n"))

        try:
            batch_df = observed(batch_df, "input")
            for spec, cfg in chain:
                if spec.gate is not None:
                    index_version = (
                        K.replay_version(spec.path(table), app, batch_id)
                        if main_done and spec.sub is not None else None
                    )
                    # looked up at call time: a wrapper installed on the
                    # keyindex attribute sees every gate run
                    batch_df = getattr(K, spec.gate)(
                        batch_df, table, cfg, index_version, data_version)
                batch_df = observed(batch_df, spec.label)
            if not main_done:
                def meta() -> dict:
                    out = {"app": app, "batch_id": batch_id}
                    if counts:
                        out["gates"] = {label: int(o.get["n"])
                                        for label, o in counts.items()}
                    return out

                K.txn_append(observed(batch_df, "committed"), table, app,
                             batch_id, stat_cols=data_stat_cols, meta=meta,
                             merge_schema=merge_schema)
            for spec, cfg in indexes:
                # index rows of the batch AS COMMITTED (post every gate)
                K.append_batch_index(spec, batch_df, table, cfg, app,
                                     batch_id)
        finally:
            src.unpersist()
        if compact_every and (batch_id + 1) % int(compact_every) == 0:
            for spec, cfg in indexes:
                _maintain(lambda: K.compact_index(spec, spark, table, cfg),
                          "index compaction")
            _maintain(lambda: M.compact(spark, table,
                                        min_file_bytes=compact_min_bytes),
                      "compaction cycle")

    writer = (
        df.writeStream.foreachBatch(_commit_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    trigger = trigger or {"availableNow": True}
    return writer.trigger(**trigger).start()


def _maintain(fn, what: str) -> None:
    """Run one maintenance step (compaction) of a durably-committed
    batch. It never fails the batch: compaction only rearranges bytes.
    A lost race (e.g. a second pipeline on the same table) skips this
    cycle; any other failure (corrupt file, transient job error) is
    surfaced to the driver log. Both retry at the next cycle."""
    from newsmaper_etl_spark import manifest as M

    try:
        fn()
    except M.ConcurrentWriteError:
        pass
    except Exception as e:  # noqa: BLE001 — see docstring
        import sys

        print(
            f"write_stream_manifest: {what} failed (will retry next "
            f"cycle): {e}",
            file=sys.stderr,
        )


def ingest_history(table: str) -> list[dict]:
    """The per-batch gate telemetry recorded by
    ``write_stream_manifest(telemetry=True)``, oldest first: one entry
    per data commit that carried counts — {version, batch_id, input,
    after_exact?, after_near?, committed}. Driver-side manifest walk,
    no Spark job (the :func:`keyindex.semantic_drift_history`
    pattern)."""
    from newsmaper_etl_spark import manifest as M

    out: list[dict] = []
    for v in range(1, M.current_version(table) + 1):
        try:
            m = M._load_manifest(table, v)
        except FileNotFoundError:  # vacuumed
            continue
        meta = m.get("meta") or {}
        if "gates" in meta:
            entry = {"version": v, "batch_id": meta.get("batch_id")}
            entry.update(meta["gates"])
            out.append(entry)
    return out
