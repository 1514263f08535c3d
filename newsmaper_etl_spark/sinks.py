"""Batch sinks + warehouse bootstrap (SURVEY.md §2.1 S6/S7/S8).

The reference appends with ``to_sql(if_exists='append')`` (Load.py:28,
Setup.py:60) onto DDL-created tables (Setup.py:26-53) and repairs
duplicates with per-row DELETEs (Main.py:43-47). Parquet has no
transactional DELETE/append, so the rebuild's contracts are:

- ``append_news``   idempotent append: anti-join against the live table's
                    keys (the reference's Load semantics, L7) then a
                    plain parquet append — rerunning the same batch adds
                    zero rows.
- ``rewrite_dedup`` the maintenance path (Main.py:28-47): one window per
                    key, overwrite with survivors — set-oriented, no
                    per-row round trips. Two forms: the rename-swap here
                    (whole-table rewrite, narrow non-atomic window +
                    recover_rewrite), and the fully atomic
                    ``rewrite_dedup_tx`` / ``append_news_tx`` on the
                    manifest-committed table format
                    (newsmaper_etl_spark/manifest.py — snapshot pointer
                    flip, time travel, footer-stats file skipping,
                    vacuum). ``rewrite_dedup_tx`` scans only the key
                    columns to find the files holding a duplicated key,
                    rewrites just those and carries every other file by
                    reference; a key-unique table gets no commit, and
                    the rewrite does not compact (``manifest.compact``
                    does).
- ``bootstrap``     creates the warehouse layout: all four tables seeded
                    (the reference *creates* the ``date`` dim but never
                    fills it — Setup.py's gap, SURVEY §3.2 — and its
                    countries seed is syntactically broken after 4 of 12
                    rows, ledger L8; both closed here).

At scale: ``news`` is written partitioned by ``id_date``'s date prefix so
star-join queries get partition pruning; appends touch only new
partitions' files.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from newsmaper_etl_spark.operators.newsmaper import (
    NEWS_KEY,
    append_new_rows,
    dedup_keep_first,
    generate_date_dim,
)

#: The reference's 12-row countries seed (sample_countries.sql:1-13 —
#: rows 5-12 are dangling statements there, L8; seeded in full here with
#: the SERIAL ids 1..12 a correct INSERT would have produced).
COUNTRIES_SEED = (
    (1, "France", "Paris"),
    (2, "Italie", "Rome"),
    (3, "Egypte", "Le Caire"),
    (4, "Argentine", "Buenos Aires"),
    (5, "Hongrie", "Budapest"),
    (6, "Ukraine", "Kiev"),
    (7, "Russie", "Moscou"),
    (8, "Israel", "Jerusalem"),
    (9, "Etats-Unis", "Washington"),
    (10, "Chine", "Pekin"),
    (11, "Inde", "New Delhi"),
    (12, "Venezuela", "Caracas"),
)

_NEWS_DDL = (
    "id_country INT, id_source INT, id_date INT, "
    "title STRING, link STRING, description STRING, media STRING"
)
#: Partition column: the yyyymmdd prefix of the yyyymmddhh surrogate —
#: day-grain directories, so appends touch only new days and date-ranged
#: reads prune at the file listing (see read_news_for_dates).
_PART_COL = "p_date"
_NEWS_DDL_STORED = _NEWS_DDL + f", {_PART_COL} INT"


def news_path(warehouse_dir: str) -> str:
    return os.path.join(warehouse_dir, "news")


def _with_partition(df: DataFrame) -> DataFrame:
    return df.withColumn(_PART_COL, F.expr("id_date div 100").cast("int"))


def read_news(spark: SparkSession, warehouse_dir: str) -> DataFrame:
    return (
        spark.read.schema(_NEWS_DDL_STORED)
        .parquet(news_path(warehouse_dir))
        .drop(_PART_COL)
    )


def read_news_for_dates(
    spark: SparkSession, warehouse_dir: str, from_key: int, to_key: int
) -> DataFrame:
    """Date-ranged read with PARTITION PRUNING: the filter lands on the
    partition column, so only the covered day directories are listed and
    scanned (at 100 TB the difference between reading a week and reading
    the table). Keys are yyyymmddhh surrogates, bounds inclusive."""
    df = spark.read.schema(_NEWS_DDL_STORED).parquet(news_path(warehouse_dir))
    return df.filter(
        (F.col(_PART_COL) >= from_key // 100) & (F.col(_PART_COL) <= to_key // 100)
    ).filter((F.col("id_date") >= from_key) & (F.col("id_date") <= to_key)).drop(
        _PART_COL
    )


def append_news(
    spark: SparkSession, new_rows: DataFrame, warehouse_dir: str
) -> int:
    """Idempotent append (Load.py:8-28): anti-join on the composite key
    against the existing table, append only the novel rows — into
    day-grain partitions, so an append only creates/extends the days it
    carries. Returns the appended count (the reference logs it,
    Load.py:27)."""
    path = news_path(warehouse_dir)
    existing = read_news(spark, warehouse_dir)
    novel = append_new_rows(new_rows.select(*_news_columns()), existing, NEWS_KEY)
    # observe() counts the appended rows ON the write job itself — one
    # pass, no post-write re-listing of the table (a before/after count
    # is a full file listing per micro-append at warehouse scale)
    obs = Observation()
    staged = _with_partition(novel).observe(obs, F.count(F.lit(1)).alias("n"))
    staged.write.partitionBy(_PART_COL).mode("append").parquet(path)
    return int(obs.get["n"])


def rewrite_dedup(spark: SparkSession, warehouse_dir: str) -> None:
    """Maintenance dedup (Main.py:28-47): keep-first per composite key,
    rewrite the table with survivors. The window orders by a stable row
    fingerprint of the full tuple (parquet rows carry no SERIAL id), so
    the survivor choice is deterministic.

    Crash-safe two-phase rewrite: survivors stream into a STAGING
    directory (so the job never overwrites the path it is reading — no
    whole-table localCheckpoint materialization either), then the swap is
    two directory renames. A crash anywhere during the write leaves the
    live table untouched; only the rename pair itself is a non-atomic
    window, and :func:`recover_rewrite` rolls a half-swap back. On a
    transactional table format this is a single ``DELETE WHERE``; on
    object stores the swap becomes a manifest/pointer flip."""
    path = news_path(warehouse_dir)
    staging = _write_survivors_staged(spark, warehouse_dir)
    _swap_table_dir(path, staging)


def _write_survivors_staged(spark: SparkSession, warehouse_dir: str) -> str:
    """Phase 1: compute keep-first survivors and write them to a staging
    dir next to the live table. Returns the staging path; the live table
    is not touched."""
    df = read_news(spark, warehouse_dir)
    ordered = df.withColumn(
        "__ord", F.xxhash64(*[F.coalesce(F.col(c).cast("string"), F.lit("")) for c in df.columns])
    )
    survivors = dedup_keep_first(ordered, NEWS_KEY, order_col="__ord").drop("__ord")
    staging = news_path(warehouse_dir) + f".staging-{uuid.uuid4().hex[:8]}"
    _with_partition(survivors).write.partitionBy(_PART_COL).mode("overwrite").parquet(staging)
    return staging


def _swap_table_dir(path: str, staging: str) -> None:
    """Phase 2: retire the live dir and promote staging via two renames."""
    retired = path + ".old"
    if os.path.exists(retired):
        shutil.rmtree(retired)
    os.rename(path, retired)
    os.rename(staging, path)
    shutil.rmtree(retired)


def recover_rewrite(warehouse_dir: str) -> None:
    """Roll back a crash inside :func:`_swap_table_dir`'s rename window:
    if the live dir is missing, restore the retired copy; drop any
    leftover staging dirs (safe to re-run anytime)."""
    path = news_path(warehouse_dir)
    retired = path + ".old"
    if not os.path.exists(path) and os.path.exists(retired):
        os.rename(retired, path)
    parent, base = os.path.dirname(path), os.path.basename(path)
    for d in os.listdir(parent):
        if d.startswith(base + ".staging-"):
            shutil.rmtree(os.path.join(parent, d))


def bootstrap(
    spark: SparkSession,
    warehouse_dir: str,
    sources: DataFrame | None = None,
    references: DataFrame | None = None,
    date_start: str = "2023-01-01 00:00:00",
    date_end: str = "2023-12-31 23:00:00",
) -> dict[str, str]:
    """Create + seed the warehouse (Setup.py:18-65, gaps closed).

    Writes countries (full 12-row seed — L8), sources (caller-provided or
    the fixture registry), the GENERATED hour-grain date dim, an optional
    references dictionary, and an empty news table. Returns table→path.
    """
    from newsmaper_etl_spark import fixtures as FX

    paths: dict[str, str] = {}

    # SQL VALUES (LocalRelation), not createDataFrame over a Python list —
    # the pickle path would launch Python workers for a 12-row literal
    countries = FX.values_df(
        spark, list(COUNTRIES_SEED), ["id", "name", "capital"]
    )
    paths["countries"] = os.path.join(warehouse_dir, "countries")
    countries.write.mode("overwrite").parquet(paths["countries"])

    src = sources if sources is not None else FX.sources_df(spark)
    paths["sources"] = os.path.join(warehouse_dir, "sources")
    src.write.mode("overwrite").parquet(paths["sources"])

    dim = generate_date_dim(spark, date_start, date_end)
    paths["date"] = os.path.join(warehouse_dir, "date")
    dim.write.mode("overwrite").parquet(paths["date"])

    if references is not None:
        paths["references"] = os.path.join(warehouse_dir, "references")
        references.write.mode("overwrite").parquet(paths["references"])

    empty_news = spark.createDataFrame([], _NEWS_DDL_STORED)
    paths["news"] = news_path(warehouse_dir)
    empty_news.write.partitionBy(_PART_COL).mode("overwrite").parquet(paths["news"])
    return paths


def write_bucketed(
    df: DataFrame,
    table: str,
    buckets: int,
    bucket_cols: tuple[str, ...],
    sort_cols: tuple[str, ...] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist as a BUCKETED table (hash-clustered files per bucket
    column, optionally sorted within buckets).

    The 100 TB payoff: two tables bucketed on the same key with the same
    bucket count join with ZERO exchange — the shuffle happened once at
    write time and is amortized over every subsequent join/aggregation on
    that key (verified in tests/test_plans.py by asserting the join plan
    has no Exchange). This is the managed-table path (`saveAsTable` —
    bucket metadata lives in the catalog; plain `.parquet()` writes can't
    carry it)."""
    writer = df.write.format("parquet").mode(mode).bucketBy(buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def _news_columns() -> tuple[str, ...]:
    return (
        "id_country",
        "id_source",
        "id_date",
        "title",
        "link",
        "description",
        "media",
    )


# --------------------------------------------------------------------------
# Manifest-committed variants (transactional upgrade of the paths above —
# see newsmaper_etl_spark/manifest.py for the protocol)
# --------------------------------------------------------------------------

def append_news_tx(
    spark: SparkSession, new_rows: DataFrame, table: str,
    partitioned: bool = False,
) -> int:
    """Transactional idempotent append: same anti-join contract as
    :func:`append_news`, committed as one manifest pointer flip instead
    of bare directory appends — a crash mid-write leaves the previous
    snapshot fully intact and readers never see a half-batch. Per-file
    ``id_date`` min/max land in the manifest, so date-ranged reads prune
    files without partition directories. Returns the appended count.

    ``partitioned=True`` additionally lays batches out in day-grain
    Hive subdirs (``p_date=yyyymmdd/``) and records each file's exact
    partition value on its manifest entry — date-ranged reads then prune
    on recorded values, no footer stats needed, and appends only create
    the days they carry (the manifest analog of :func:`append_news`'s
    partitionBy; the layout choice is committed and enforced table-wide)."""
    from newsmaper_etl_spark import manifest as M

    novel = new_rows.select(*_news_columns())
    # pin the base: the anti-join decides novelty against THIS snapshot,
    # so the commit must fail (ConcurrentWriteError) if another writer
    # lands in between — not silently re-append rows it couldn't see
    base = M.current_version(table)
    if base > 0:
        existing = M.read_table(spark, table, version=base)
        # re-project: the anti-join moves its key columns to the front,
        # and the manifest's schema contract pins column ORDER too
        novel = append_new_rows(
            novel.select(*_news_columns()),
            existing.select(*_news_columns()),
            NEWS_KEY,
        ).select(*_news_columns())
    if partitioned:
        novel = _with_partition(novel)
    obs = Observation()
    staged = novel.observe(obs, F.count(F.lit(1)).alias("n"))
    M.append(
        staged, table, stat_cols=("id_date",), base_version=base,
        partition_by=((_PART_COL,) if partitioned else ()),
    )
    return int(obs.get["n"])


def rewrite_dedup_tx(spark: SparkSession, table: str) -> int:
    """Transactional maintenance dedup: the atomic form of
    :func:`rewrite_dedup`'s two-rename swap, rewriting only the live
    files that hold a duplicated key. No recovery hook needed.

    Cost model: one scan of the pinned snapshot reads only the key
    columns and each row's file, and finds the files of every key with
    more than one row (NULL key components group together, as in the
    window). A key-unique table gets NO commit: the base version is
    returned, as :func:`manifest.compact` does. Otherwise only those
    files are read back, deduped keep-first (same ``__ord`` hash as the
    full rewrite) and published with :func:`manifest.overwrite` as a
    partial replace — every other file is carried into the new snapshot
    by reference. Every row of a duplicated key lies in a rewritten file
    and every other key already has one row, so the survivors equal a
    full rewrite's. The rewrite does not compact the table: each call
    adds the survivors of its rewritten files as new files, and
    :func:`manifest.compact` is the tool for small files.

    The commit's ``meta`` records ``files_replaced`` and
    ``rows_dropped`` (observed on the write job; see
    :func:`manifest.history`). Returns the new version (the base
    version when there was nothing to drop)."""
    from newsmaper_etl_spark import manifest as M

    # pin the base: survivors are computed from THIS snapshot's file
    # list; an interleaved append must fail this rewrite, not vanish
    base = M.current_version(table)
    manifest = M._load_manifest(table, base)
    touched = _files_with_duplicate_keys(spark, table, manifest)
    if not touched:
        return base
    df = M._read_entries(spark, table, manifest, touched)
    seen, kept = Observation(), Observation()
    ordered = df.observe(seen, F.count(F.lit(1)).alias("n")).withColumn(
        "__ord",
        F.xxhash64(*[
            F.coalesce(F.col(c).cast("string"), F.lit("")) for c in df.columns
        ]),
    )
    survivors = (
        dedup_keep_first(ordered, NEWS_KEY, order_col="__ord")
        .drop("__ord")
        .observe(kept, F.count(F.lit(1)).alias("n"))
    )
    return M.overwrite(
        survivors, table, stat_cols=("id_date",), base_version=base,
        # a maintenance rewrite preserves the table's committed Hive layout
        partition_by=tuple(manifest.get("partition_by") or ()),
        meta=lambda: {
            "files_replaced": len(touched),
            "rows_dropped": int(seen.get["n"]) - int(kept.get["n"]),
        },
        replaces=touched,
    )


def _files_with_duplicate_keys(
    spark: SparkSession, table: str, manifest: dict
) -> list[dict]:
    """The live entries of ``manifest`` that hold a row of a duplicated
    :data:`NEWS_KEY` — one scan of the key columns and the file path.
    Scanned paths are URI-encoded; each is decoded and mapped to its
    entry exactly, and a path that maps to no entry raises (skipping it
    would leave its duplicates in place)."""
    from urllib.parse import unquote, urlparse

    from newsmaper_etl_spark import manifest as M

    if not manifest["files"]:
        return []
    # one set of files per duplicated key, merged by a global aggregate:
    # the driver receives at most one path per live file
    scanned = (
        M._read_entries(spark, table, manifest, manifest["files"])
        .select(*NEWS_KEY, F.col("_metadata.file_path").alias("__file"))
        .groupBy(*NEWS_KEY)
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.collect_set("__file").alias("__files"),
        )
        .filter(F.col("__n") > 1)
        .agg(F.array_distinct(F.flatten(F.collect_list("__files"))))
        .first()[0]
    )
    by_path = {
        os.path.abspath(os.path.join(table, e["path"])): e
        for e in manifest["files"]
    }
    touched = []
    for uri in scanned:
        path = os.path.abspath(unquote(urlparse(uri).path))
        if path not in by_path:
            raise ValueError(
                f"scan of {table} read {uri}, which is no live file of "
                "the snapshot"
            )
        touched.append(by_path[path])
    return sorted(touched, key=lambda e: e["path"])


def read_news_tx_for_dates(
    spark: SparkSession, table: str, from_key: int, to_key: int
) -> DataFrame:
    """Date-ranged snapshot read with MANIFEST-level file skipping: on a
    day-partitioned table (append_news_tx partitioned=True) files prune
    by their RECORDED partition value — exact, no footer read; otherwise
    by footer id_date min/max. Either way the skip happens before Spark
    plans the scan (the tx analog of :func:`read_news_for_dates`'s
    partition pruning, at file grain)."""
    from newsmaper_etl_spark import manifest as M

    # pin the layout probe and the read to ONE version: a commit landing
    # between two separate current_version() calls could make the layout
    # decision and the snapshot disagree (and read_table would re-load
    # the same manifest a second time)
    version = M.current_version(table)
    m = M._load_manifest(table, version)
    if _PART_COL in (m.get("partition_by") or []):
        df = M.read_table(
            spark, table, version=version,
            prune=(_PART_COL, from_key // 100, to_key // 100),
        ).drop(_PART_COL)
    else:
        df = M.read_table(
            spark, table, version=version, prune=("id_date", from_key, to_key)
        )
    return df.filter(
        (F.col("id_date") >= from_key) & (F.col("id_date") <= to_key)
    )
