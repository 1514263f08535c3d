"""Scalar functions (string/date/math/array/json), timestamp parsing,
time-bucketed windows, and the pandas-UDF parity check.

Covers SURVEY.md §2.8 (F1–F9), §2.9 (UDF surface), §2.10 (batch-checkable
streaming analogs). Reference semantics re-expressed (citations into
/root/reference):

- token hygiene (only ``, ; '`` → space; split on single space; ledger L4)
  dags/Transform.py:15-17 → F.translate + F.split(col, ' ', -1)
- multi-format RFC-822 timestamp parse (ledger L9)
  dags/Transform.py:50-58 → coalesce of to_timestamp patterns (see
  operators/newsmaper.py for the pipeline version)
- date part explosion  dags/Transform.py:61-68 → F.year/month/...
- coalesce/'null' sentinel (L6)  dags/Extract.py:24 → F.coalesce
- default-on-no-match (L1)       dags/Transform.py:27-28 → F.when/otherwise

Scale notes: everything here is a built-in JVM expression inside
whole-stage codegen — no Python in the hot path. The single pandas_udf is
the sanctioned extension example and is hash-checked against the native
expression (q_pandas_udf_parity).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from newsmaper_etl_spark.io import load_table
from newsmaper_etl_spark.registry import query


# --------------------------------------------------------------------------
# String functions
# --------------------------------------------------------------------------

@query(
    "q_string_funcs",
    oracle="""
        SELECT p_partkey,
               lower(p_name) AS lname,
               replace(replace(replace(p_name, ',', ' '), ';', ' '), '''', ' ') AS cleaned,
               p_brand || ' ' || p_type AS brand_type,
               length(p_name) AS name_len,
               trim(substring(p_name, 1, 10)) AS name10
        FROM part
    """,
    tags=("F1", "F2", "F4"),
)
def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F.translate reproduces the reference's exact replace-3-chars hygiene
    (Transform.py:15-16: only ``, ; '`` become spaces — L4)."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.lower("p_name").alias("lname"),
        F.translate("p_name", ",;'", "   ").alias("cleaned"),
        F.concat_ws(" ", "p_brand", "p_type").alias("brand_type"),
        F.length("p_name").alias("name_len"),
        F.trim(F.substring("p_name", 1, 10)).alias("name10"),
    )


@query(
    "q_string_split",
    oracle="SELECT p_partkey, split_part(p_type, ' ', 1) AS first_tok FROM part",
    tags=("F3",),
)
def q_string_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split on a literal single space (NOT \\s+) — Transform.py:17
    semantics where consecutive spaces yield empty tokens."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey", F.split("p_type", " ", -1).getItem(0).alias("first_tok")
    )


# --------------------------------------------------------------------------
# Timestamp / date functions
# --------------------------------------------------------------------------

@query(
    "q_ts_parse",
    oracle="""
        SELECT event_id,
               strftime(
                   strptime(strftime(ts, '%Y-%m-%d %H:%M:%S'), '%Y-%m-%d %H:%M:%S'),
                   '%Y-%m-%d %H:%M:%S'
               ) AS ts_rt
        FROM events
    """,
    tags=("F5", "L9"),
)
def q_ts_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String→timestamp→string round trip (UTC session tz on the Spark
    side makes wall-clock text identical to DuckDB's naive timestamps)."""
    ev = load_table(spark, sf_dir, "events")
    fmt = "yyyy-MM-dd HH:mm:ss"
    return ev.select(
        "event_id",
        F.date_format(
            F.to_timestamp(F.date_format("ts", fmt), fmt), fmt
        ).alias("ts_rt"),
    )


@query(
    "q_date_parts",
    oracle="""
        SELECT CAST(EXTRACT(YEAR FROM ts) AS INTEGER)  AS y,
               CAST(EXTRACT(MONTH FROM ts) AS INTEGER) AS m,
               CAST(EXTRACT(DAY FROM ts) AS INTEGER)   AS d,
               CAST(EXTRACT(HOUR FROM ts) AS INTEGER)  AS h,
               COUNT(*) AS c
        FROM events
        GROUP BY 1, 2, 3, 4
    """,
    tags=("F6",),
)
def q_date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-part explosion (Transform.py:61-68) + grouped counts."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            F.year("ts").alias("y"),
            F.month("ts").alias("m"),
            F.dayofmonth("ts").alias("d"),
            F.hour("ts").alias("h"),
        )
        .groupBy("y", "m", "d", "h")
        .agg(F.count(F.lit(1)).alias("c"))
    )


# --------------------------------------------------------------------------
# Conditionals / null handling / arrays / math / json
# --------------------------------------------------------------------------

@query(
    "q_coalesce",
    oracle="SELECT event_id, COALESCE(NULLIF(props, ''), 'null') AS media FROM events",
    tags=("F7", "L6"),
)
def q_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's 'null'-string sentinel fallback chain
    (Extract.py:14-24) as a single coalesce expression."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.coalesce(F.nullif(F.col("props"), F.lit("")), F.lit("null")).alias("media"),
    )


@query(
    "q_case_when",
    oracle="""
        SELECT event_id,
               CASE WHEN value > 50 THEN 'hi' ELSE 'lo' END AS bucket
        FROM events
    """,
    tags=("F7", "L1"),
)
def q_case_when(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Default-on-no-match (Transform.py:27-28's id_country=1 fallback)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.when(F.col("value") > 50, F.lit("hi")).otherwise(F.lit("lo")).alias("bucket"),
    )


@query(
    "q_array_contains",
    oracle="""
        SELECT vec_id, label FROM embeddings
        WHERE list_contains([1, 3, 5, 7], label)
    """,
    tags=("F8",),
)
def q_array_contains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact element membership (Transform.py:21-23's ``word in list`` —
    element equality, never substring)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.filter(
        F.array_contains(F.array(F.lit(1), F.lit(3), F.lit(5), F.lit(7)), F.col("label"))
    ).select("vec_id", "label")


@query(
    "q_math_round",
    oracle="""
        SELECT l_orderkey, l_linenumber,
               ROUND(l_discount * 100, 1) AS disc_pct,
               ROUND(ABS(l_discount - 0.05), 4) AS dev,
               CAST(FLOOR(l_extendedprice) AS BIGINT) AS price_floor,
               CAST(CEIL(l_extendedprice)  AS BIGINT) AS price_ceil
        FROM lineitem
    """,
    tags=("F9",),
)
def q_math_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_discount") * 100, 1).alias("disc_pct"),
        F.round(F.abs(F.col("l_discount") - 0.05), 4).alias("dev"),
        F.floor("l_extendedprice").alias("price_floor"),
        F.ceil("l_extendedprice").alias("price_ceil"),
    )


@query(
    "q_json_extract",
    oracle="SELECT event_id, json_extract_string(props, '$.k') AS k_val FROM events",
    tags=("F9",),
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row JSON path extraction over the events.props string column
    (the reference only reads JSON wholesale at import — S5)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id", F.get_json_object("props", "$.k").alias("k_val")
    )


@query(
    "q_from_json",
    oracle="""
        SELECT event_type,
               CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
               COUNT(*) AS n
        FROM events GROUP BY event_type
    """,
    tags=("F9",),
)
def q_from_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-projecting JSON parse (JsonToStructs, not per-path string
    extraction): from_json with a pinned DDL schema, then typed field
    access feeding an aggregate — the operator a pipeline uses when a
    JSON column has known structure."""
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.withColumn("__j", F.from_json("props", "k INT"))
    return parsed.groupBy("event_type").agg(
        F.sum(F.col("__j.k")).alias("sum_k"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "q_map_funcs",
    oracle="""
        SELECT event_id,
               CAST(len(json_keys(props)) + 1 AS INTEGER) AS n_keys,
               array_to_string(
                   list_sort(list_append(json_keys(props), 'type_len')), ',')
                   AS keys_sorted,
               CAST(props->>'k' AS INTEGER) AS k_val,
               CAST((CASE WHEN CAST(props->>'k' AS INTEGER) > 50
                          THEN 1 ELSE 0 END)
                    + (CASE WHEN len(event_type) > 50 THEN 1 ELSE 0 END)
                    AS INTEGER) AS n_big
        FROM events
    """,
    tags=("F9",),
)
def q_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIXTURE-SHAPE oracle: the SQL twin hard-codes the testdata's
    props shape (single integer key, no 'type_len' collision) — the
    Spark side is the general map surface; a regenerated events table
    with richer props would need the oracle extended in lockstep.

    MapType surface (the F9 family member with no other query):
    from_json to a typed map, map_concat with a constructed entry,
    map_keys/element_at access, and a (k, v) -> bool map_filter — all
    JVM expressions. The oracle mirrors the map through DuckDB's JSON
    functions (json_keys / ->> extraction)."""
    ev = load_table(spark, sf_dir, "events")
    m = F.map_concat(
        F.from_json("props", "map<string,int>"),
        F.create_map(F.lit("type_len"), F.length("event_type")),
    )
    tmp = ev.withColumn("__m", m)
    return tmp.select(
        "event_id",
        F.size("__m").cast("int").alias("n_keys"),
        F.array_join(F.sort_array(F.map_keys("__m")), ",").alias("keys_sorted"),
        F.element_at("__m", F.lit("k")).cast("int").alias("k_val"),
        F.size(
            F.map_filter("__m", lambda k, v: v > 50)
        ).cast("int").alias("n_big"),
    )


# --------------------------------------------------------------------------
# Time-bucketed windows (batch-checkable streaming analogs, §2.10)
# --------------------------------------------------------------------------

@query(
    "q_tumbling_window",
    oracle="""
        SELECT CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) AS bucket,
               COUNT(*) AS c,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(30,10))), 2) AS DOUBLE) AS sum_v
        FROM events
        GROUP BY 1
    """,
    tags=("STREAM",),
)
def q_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1h tumbling window as epoch-div buckets (engine-portable form of
    ``F.window(ts, '1 hour')``; streaming/pipeline.py uses the real one)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            F.floor(F.unix_timestamp("ts") / 3600).cast("bigint").alias("bucket"),
            "value",
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("c"), F.round(
            F.sum(F.col("value").cast("decimal(30,10)")), 2
        ).cast("double").alias("sum_v"))
    )


@query(
    "q_sliding_window",
    oracle="""
        WITH starts AS (
            SELECT value,
                   unnest([
                       CAST(FLOOR(epoch(ts) / 1800) AS BIGINT) * 1800,
                       CAST(FLOOR(epoch(ts) / 1800) AS BIGINT) * 1800 - 1800
                   ]) AS win_start
            FROM events
        )
        SELECT win_start, COUNT(*) AS c, CAST(ROUND(SUM(CAST(value AS DECIMAL(30,10))), 2) AS DOUBLE) AS sum_v
        FROM starts GROUP BY win_start
    """,
    tags=("STREAM",),
)
def q_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1h window sliding by 30min: every event lands in exactly two
    windows → explode the two window starts, then aggregate."""
    ev = load_table(spark, sf_dir, "events")
    half = F.floor(F.unix_timestamp("ts") / 1800).cast("bigint") * 1800
    return (
        ev.select(
            F.explode(F.array(half, half - 1800)).alias("win_start"), "value"
        )
        .groupBy("win_start")
        .agg(F.count(F.lit(1)).alias("c"), F.round(
            F.sum(F.col("value").cast("decimal(30,10)")), 2
        ).cast("double").alias("sum_v"))
    )


@query(
    "q_session_window",
    oracle="""
        WITH flagged AS (
            SELECT user_id, event_id, ts, value,
                   CASE WHEN epoch(ts) - epoch(LAG(ts) OVER (
                           PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                        )) > 1800 OR LAG(ts) OVER (
                           PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                        ) IS NULL
                        THEN 1 ELSE 0 END AS new_sess
            FROM events
        ),
        sessed AS (
            SELECT user_id, value, ts,
                   CAST(SUM(new_sess) OVER (
                       PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS session_id
            FROM flagged
        )
        SELECT user_id, session_id, COUNT(*) AS n_events,
               strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
               strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end
        FROM sessed GROUP BY user_id, session_id
    """,
    tags=("STREAM",),
)
def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (gap > 30 min) via lag + running sum — the batch
    analog of ``F.session_window``; one shuffle on user_id covers both
    window passes."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # FRACTIONAL epoch seconds, like the oracle's epoch(ts):
    # unix_timestamp() truncates to whole seconds, so a true gap of
    # 1800.8 s computed as floor(cur)−floor(prev)=1800 would NOT split
    # the session while the oracle does — a boundary-straddling latent
    # divergence on sub-second timestamps
    # (NTZ → TIMESTAMP first: Spark won't cast TIMESTAMP_NTZ straight
    # to double; the session is pinned UTC so the epoch shift is
    # identical on both rows and cancels in the difference)
    ts_s = F.col("ts").cast("timestamp").cast("double")
    gap = ts_s - F.lag(ts_s).over(w)
    flagged = ev.withColumn(
        "new_sess",
        F.when(gap.isNull() | (gap > 1800), F.lit(1)).otherwise(F.lit(0)),
    )
    sessed = flagged.withColumn("session_id", F.sum("new_sess").over(wsum))
    return sessed.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
    )


# --------------------------------------------------------------------------
# Pandas UDF parity (§2.9)
# --------------------------------------------------------------------------

def _double_qty_udf():
    """Vectorized x*2 — Arrow-batched, exact in float64 (×2 is a power of
    two, so the native-expression oracle matches bit-for-bit). Built
    lazily: pandas_udf registration needs an active SparkContext."""

    @F.pandas_udf("double")
    def _double_qty(s: pd.Series) -> pd.Series:
        return s * 2.0

    return _double_qty


@query(
    "q_pandas_udf_parity",
    oracle="SELECT l_orderkey, l_linenumber, l_quantity * 2 AS q2 FROM lineitem",
    tags=("UDF",),
)
def q_pandas_udf_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sanctioned scalar-UDF path (pandas_udf, Arrow) hash-checked
    against the equivalent native expression — the engine's guarantee that
    its extension mechanism doesn't change semantics."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        _double_qty_udf()(F.col("l_quantity")).alias("q2"),
    )
