"""The reference pipeline's domain operators, re-expressed Spark-first.

Each function is a pure DataFrame→DataFrame operator (lazy, no collects
but the keyword dictionary's), so the whole reference DAG (SURVEY.md
§3.1) composes into ONE Catalyst plan. :func:`transform_news` is the one
place the Transform chain is composed — the batch pipeline, the CLI and
the stream all call it:

    transform_news = tag_country_expr(tokenize_text(resolve_date_key(
        explode_date_parts(parse_pubdate(articles)))))
    run_pipeline   = transform_news |> append_new_rows(existing)

Semantics pinned to the reference (citations are paths in the reference
repo, ledger items from SURVEY.md §2.11):

- parse_pubdate      dags/Transform.py:50-58  (L9: wall-clock fields, tz
                     offset NOT applied in oracle mode)
- explode_date_parts dags/Transform.py:61-68
- resolve_date_key   dags/Transform.py:36-47  (L5: miss is fatal)
- tokenize_text      dags/Transform.py:15-17,33 (L4: only ``, ; '`` →
                     space; split on single literal space; lowercase)
- tag_country_expr   dags/Transform.py:14-29  (L1 default id 1; L2 lowest
                     id wins per word; L3 tie-break count DESC, id ASC);
                     ``tag_country`` is the join+rank form of the same
                     vote, kept as the reference the tests and
                     ``sql_functions`` check it against
- transform_news     dags/Transform.py:86-88  (projection to the fact
                     layout)
- append_new_rows    dags/Load.py:8-28        (L7 composite key anti-join)
- dedup_keep_first   dags/Main.py:28-47       (L7: lowest id survives)
- generate_date_dim  closes the reference's Setup.py gap (dim never
                     populated — SURVEY.md §3.2)

Scale notes: dims and the keyword dictionary broadcast; the only fact-side
shuffles are the dedup window (keyed on the dup key) and nothing else.
`sha2` key-hashing keeps anti-join/dedup state narrow when titles are long.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

#: Final fact-table layout (reference COLUMNS, Transform.py:9-10 + rename
#: at Transform.py:87).
NEWS_COLUMNS = (
    "id_country",
    "id_source",
    "id_date",
    "title",
    "link",
    "description",
    "media",
)

#: Composite dedup/append key — ledger L7 (Load.py:22, Main.py:30).
NEWS_KEY = ("id_source", "id_date", "title")

#: RFC-822 wall-clock formats, tz token stripped (ledger L9): the
#: reference extracts Y/M/D/H from the *printed* wall clock, never
#: normalizing to UTC; 4-digit year first, then 2-digit (Transform.py:52-57).
_TZ_TOKEN = r"\s+(\+|-)[0-9]{4}$|\s+[A-Za-z]{2,5}$"
#: Spark's post-3.0 parser refuses day-of-week fields when *parsing*
#: ('EEE' is format-only), so the weekday prefix is stripped instead.
_WEEKDAY = r"^[A-Za-z]{3},\s*"
_WALLCLOCK_FMTS = ("dd MMM yyyy HH:mm:ss", "dd MMM yy HH:mm:ss")


def parse_pubdate(
    df: DataFrame, col: str = "date", out: str = "pub_ts", strict: bool = False
) -> DataFrame:
    """Multi-format RFC-822 parse with fallback chain.

    oracle mode (default): reproduce the reference — fields come from the
    printed wall clock (an aware datetime's ``.hour`` is local to its
    offset; the ``%Z`` branch is naive anyway), so strip the tz token and
    parse the rest. strict mode: honor the offset and normalize to UTC.
    """
    no_weekday = F.regexp_replace(F.col(col), _WEEKDAY, "")
    if strict:
        attempts = [
            F.try_to_timestamp(no_weekday, F.lit("dd MMM yyyy HH:mm:ss Z")),
            F.try_to_timestamp(no_weekday, F.lit("dd MMM yyyy HH:mm:ss zzz")),
            F.try_to_timestamp(no_weekday, F.lit("dd MMM yy HH:mm:ss Z")),
        ]
    else:
        stripped = F.regexp_replace(no_weekday, _TZ_TOKEN, "")
        attempts = [
            F.try_to_timestamp(stripped, F.lit(fmt)) for fmt in _WALLCLOCK_FMTS
        ]
    return df.withColumn(out, F.coalesce(*attempts))


def explode_date_parts(df: DataFrame, ts_col: str = "pub_ts") -> DataFrame:
    """Derive the date-dimension lookup fields (Transform.py:61-68).

    Column names match the reference's ``date`` dim DDL (sql/date.sql:3-6):
    hours/day/month/year (minute/second derived too, unused by the dim).
    """
    return (
        df.withColumn("year", F.year(ts_col))
        .withColumn("month", F.month(ts_col))
        .withColumn("day", F.dayofmonth(ts_col))
        .withColumn("hours", F.hour(ts_col))
        .withColumn("minute", F.minute(ts_col))
        .withColumn("second", F.second(ts_col))
    )


def resolve_date_key(
    df: DataFrame, date_dim: DataFrame, check_misses: bool = True
) -> DataFrame:
    """Surrogate-key lookup against the time dimension.

    The reference issues one SELECT per row (Transform.py:38-41, N+1);
    here: one broadcast hash join on the 4-col key. ``check_misses``
    preserves the fail-on-miss contract (L5, Transform.py:42-46) by
    folding a ``raise_error`` guard into the projected key — the check
    runs inside the SAME job as the real work (no eager pre-count that
    would double the pre-join scan at scale); a miss aborts the action
    with the L5 message.
    """
    dim = date_dim.select(
        F.col("id").alias("id_date"), "hours", "day", "month", "year"
    )
    joined = df.join(F.broadcast(dim), on=["hours", "day", "month", "year"], how="left")
    if check_misses:
        guard = F.when(
            F.col("id_date").isNull(),
            F.raise_error(
                F.lit(
                    "date dimension miss: an article's (hours, day, month, "
                    "year) has no surrogate row (reference raises at "
                    "Transform.py:42-46)"
                )
            ).cast("int"),
        ).otherwise(F.col("id_date"))
        return joined.withColumn("id_date", guard)
    return joined.filter(F.col("id_date").isNotNull())


def tokenize_text(
    df: DataFrame, cols: tuple[str, ...] = ("title", "description"), out: str = "tokens"
) -> DataFrame:
    """Reference token hygiene, exactly (L4): concat with single space,
    only ``, ; '`` replaced by spaces, lowercase, split on ONE literal
    space (consecutive separators yield empty tokens — harmless, they
    never appear in the dictionary)."""
    text = F.lower(F.translate(F.concat_ws(" ", *cols), ",;'", "   "))
    return df.withColumn(out, F.split(text, " ", -1))


def flatten_references(references: DataFrame, strict: bool = False) -> DataFrame:
    """references(id, name, words:array<string>) → (kw, id) with the L2
    rule pinned: a keyword claimed by several countries resolves to the
    LOWEST id. oracle mode keeps mixed-case entries unmatchable (L4);
    strict mode lowercases the dictionary."""
    kw = F.explode("words").alias("kw")
    flat = references.select(kw, "id")
    if strict:
        flat = flat.select(F.lower("kw").alias("kw"), "id")
    return flat.groupBy("kw").agg(F.min("id").alias("ref_id"))


def tag_country(
    df: DataFrame,
    references: DataFrame,
    row_key: str = "article_id",
    default_id: int = 1,
    strict: bool = False,
    tokens_col: str = "tokens",
) -> DataFrame:
    """Majority-vote country tagging (Transform.py:14-29).

    explode tokens → broadcast-join the flattened dictionary → count votes
    per (row, country) → rank with the pinned tie-break (count DESC, id
    ASC — L3) → rn=1, default id on no match (L1).

    The dictionary side is tiny → broadcast; the exploded token stream
    aggregates map-side before its only shuffle (on row_key).

    Skew posture: the explode→join is broadcast (no shuffle to skew); the
    vote groupBy partial-aggregates map-side, so a heavy row_key arrives
    at the shuffle already collapsed to ≤|dictionary| rows; the rank
    window partitions on row_key with ≤|dictionary| rows each. No salting
    needed anywhere in this operator — the skew-sensitive window is
    dedup_keep_first's (see its ``salt`` flag).
    """
    refs_flat = flatten_references(references, strict=strict)
    tokens = df.select(row_key, F.explode(tokens_col).alias("word"))
    votes = tokens.join(
        F.broadcast(refs_flat), tokens.word == refs_flat.kw, how="inner"
    )
    counted = votes.groupBy(row_key, "ref_id").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy(row_key).orderBy(F.desc("cnt"), F.asc("ref_id"))
    winners = (
        counted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(row_key, F.col("ref_id"))
    )
    return df.join(winners, on=row_key, how="left").withColumn(
        "id_country", F.coalesce(F.col("ref_id"), F.lit(default_id))
    ).drop("ref_id")


def reference_keyword_map(references: DataFrame, strict: bool = False) -> dict[str, int]:
    """Collect the (tiny, broadcast-sized by contract) keyword dictionary
    to a driver dict with the L2 rule applied (lowest id per keyword).
    The one sanctioned collect in the pipeline: the reference loads this
    same dictionary into worker memory at import (Transform.py:11).

    The ``(id, words)`` rows are collected as they are and flattened on
    the driver — the same map as :func:`flatten_references` (NULL and
    empty ``words`` contribute nothing, NULL ids lose to any id,
    ``strict`` lowercases), without its explode + groupBy jobs: a
    ``VALUES`` dictionary collects with no Spark job at all."""
    out: dict = {}
    for rid, words in references.select("id", "words").collect():
        for kw in words or ():
            if strict and kw is not None:
                kw = kw.lower()
            if kw not in out or out[kw] is None or (
                rid is not None and rid < out[kw]
            ):
                out[kw] = rid
    return out


def tag_country_expr(
    df: DataFrame,
    kw_to_id: dict[str, int],
    default_id: int = 1,
    tokens_col: str = "tokens",
) -> DataFrame:
    """Majority-vote tagging as pure per-row expressions — zero shuffles.

    Because each row carries its own token array, the whole vote (match →
    count per country → argmax with the L3 tie-break) happens inside one
    projection with map/array higher-order functions. Streaming-safe
    (stateless) and strictly better than the join form at scale whenever
    the dictionary fits in a literal/broadcast map. Tie-break encoding:
    array_min over (-count, id) structs = (count DESC, id ASC).
    """
    if not kw_to_id:
        return df.withColumn("id_country", F.lit(default_id))
    kv = [x for k in sorted(kw_to_id) for x in (F.lit(k), F.lit(kw_to_id[k]))]
    kw_map = F.create_map(*kv)
    matched = F.filter(
        F.transform(F.col(tokens_col), lambda w: F.try_element_at(kw_map, w)),
        lambda x: x.isNotNull(),
    )
    candidates = F.array_distinct(matched)
    best = F.array_min(
        F.transform(
            candidates,
            lambda cid: F.struct(
                (-F.size(F.filter(matched, lambda x: x == cid))).alias("neg"),
                cid.alias("id"),
            ),
        )
    )
    return df.withColumn(
        "id_country", F.coalesce(best["id"], F.lit(default_id))
    )


def append_new_rows(
    new: DataFrame, existing: DataFrame, keys: tuple[str, ...] = NEWS_KEY
) -> DataFrame:
    """Idempotent-append filter: keep only rows whose composite key is
    absent from the target (Load.py:8-25) — a hash left-anti join instead
    of the reference's O(n·m) Python loop. Broadcast-eligible when the
    existing-keys side is small; otherwise a key-partitioned anti join.

    Keys compare NULL-SAFELY: a plain equi-join never matches NULL = NULL,
    so a row with a NULL key component (a title-less article) would be
    re-appended on EVERY run — the idempotence contract must treat NULL
    keys the way dedup_keep_first's window does (equal to each other)."""
    from functools import reduce

    existing_keys = existing.select(*keys).dropDuplicates(list(keys))
    ex = existing_keys.alias("__ex")
    nw = new.alias("__nw")
    cond = reduce(
        lambda a, b: a & b,
        [F.col(f"__nw.{k}").eqNullSafe(F.col(f"__ex.{k}")) for k in keys],
    )
    return nw.join(ex, on=cond, how="left_anti")


def dedup_keep_first(
    df: DataFrame,
    keys: tuple[str, ...] = NEWS_KEY,
    order_col: str = "id",
    salt: int | None = None,
) -> DataFrame:
    """Keep-first dedup: survivors have the lowest ``order_col`` per key
    (L7; replaces the scan + per-row DELETE loop at Main.py:28-47 with one
    window over one shuffle).

    ``salt=N`` enables the skew-hardened two-phase form: AQE splits skewed
    JOIN partitions but not skewed WINDOW partitions, so a heavy-hitter
    key (one title carrying 10% of the corpus) serializes into a single
    task. Phase 1 ranks within (keys, salt) — the hot key fans out over N
    tasks and keeps ≤N candidate rows; phase 2 ranks the ≤N·|keys|
    candidates per key. min-by is decomposable, so the result is
    IDENTICAL to the unsalted window for any N.
    """
    if salt and salt > 1:
        w1 = Window.partitionBy(*keys, "__salt").orderBy(F.asc(order_col))
        cand = (
            df.withColumn(
                "__salt", F.pmod(F.xxhash64(F.col(order_col)), F.lit(salt))
            )
            .withColumn("__rn", F.row_number().over(w1))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        w2 = Window.partitionBy(*keys).orderBy(F.asc(order_col))
        return (
            cand.withColumn("__rn", F.row_number().over(w2))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "__salt")
        )
    w = Window.partitionBy(*keys).orderBy(F.asc(order_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


#: The schema generate_date_dim emits. Readers of the written dim pass
#: it to ``spark.read.schema`` so no parquet schema-inference job runs.
DATE_DIM_DDL = "id INT, hours INT, day INT, month INT, year INT"


def generate_date_dim(
    spark: SparkSession, start: str, end: str
) -> DataFrame:
    """Hour-grain time dimension, *generated* (the reference creates the
    table but never fills it — SURVEY.md §3.2). Surrogate id is the
    deterministic yyyymmddhh so regeneration is stable across runs/scales."""
    hours = spark.sql(
        f"""
        SELECT explode(sequence(
            timestamp'{start}', timestamp'{end}', interval 1 hour
        )) AS h
        """
    )
    return hours.select(
        (
            F.year("h") * 1000000
            + F.month("h") * 10000
            + F.dayofmonth("h") * 100
            + F.hour("h")
        ).cast("int").alias("id"),
        F.hour("h").alias("hours"),
        F.dayofmonth("h").alias("day"),
        F.month("h").alias("month"),
        F.year("h").alias("year"),
    )


def transform_news(
    articles: DataFrame,
    references: DataFrame,
    date_dim: DataFrame,
    strict: bool = False,
    check_misses: bool = True,
) -> DataFrame:
    """The reference Transform (Transform.py:14-88) as one lazy plan:
    parse the pubDate, look up its date key, tokenize, tag the country
    by per-row vote (default id 1), project to the fact layout.

    Returns :data:`NEWS_COLUMNS` plus ``pub_ts``, the parsed event time
    (the stream's watermark column). ``strict`` fixes the reference's
    pinned bugs (L4/L9); ``check_misses`` keeps a date-dimension miss
    fatal (L5) instead of dropping the row. The expression tagger is
    stateless, so the same plan is legal on a streaming frame."""
    df = parse_pubdate(articles, strict=strict)
    df = explode_date_parts(df)
    df = resolve_date_key(df, date_dim, check_misses=check_misses)
    df = tokenize_text(df)
    df = tag_country_expr(df, reference_keyword_map(references, strict=strict))
    return df.select(*NEWS_COLUMNS, "pub_ts")


def run_pipeline(
    articles: DataFrame,
    references: DataFrame,
    date_dim: DataFrame,
    news_existing: DataFrame,
    strict: bool = False,
    check_misses: bool = True,
) -> DataFrame:
    """The full reference DAG as one lazy plan: returns the NEW fact rows
    (what the reference INSERTs at Load.py:28), in :data:`NEWS_COLUMNS`
    order."""
    news = transform_news(articles, references, date_dim, strict=strict,
                          check_misses=check_misses)
    return append_new_rows(news.drop("pub_ts"), news_existing)
