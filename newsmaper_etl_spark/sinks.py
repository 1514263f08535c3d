"""Batch sinks + warehouse bootstrap (SURVEY.md §2.1 S6/S7/S8).

The reference appends with ``to_sql(if_exists='append')`` (Load.py:28,
Setup.py:60) onto DDL-created tables (Setup.py:26-53) and repairs
duplicates with per-row DELETEs (Main.py:43-47). Here the ``news`` fact
table has one format, the manifest-committed table
(newsmaper_etl_spark/manifest.py — snapshot pointer flip, time travel,
file skipping, vacuum), and every contract is one atomic commit:

- ``append_news_tx``         idempotent append: anti-join against the
                             pinned snapshot's keys (the reference's
                             Load semantics, L7) — rerunning the same
                             batch adds zero rows. ``partitioned=True``
                             lays rows out in day-grain ``p_date``
                             partitions (the CLI's product table).
- ``rewrite_dedup_tx``       keep-first maintenance (Main.py:28-47): one
                             window per key, set-oriented, no per-row
                             round trips. After its own last commit and
                             only ``append_news_tx`` appends it reads
                             just the files those appends added; after
                             any other history it scans the key columns
                             to find the files holding a duplicated key.
                             It rewrites just those files and carries
                             every other by reference; a key-unique
                             table gets no commit, and the rewrite does
                             not compact (``manifest.compact`` does).
- ``read_news_tx_for_dates`` date-ranged read: files prune on their
                             recorded ``p_date`` value or footer
                             ``id_date`` range before Spark plans the
                             scan.
- ``bootstrap``              creates the warehouse: the dims seeded (the
                             reference *creates* the ``date`` dim but
                             never fills it — Setup.py's gap, SURVEY
                             §3.2 — and its countries seed is
                             syntactically broken after 4 of 12 rows,
                             ledger L8; both closed here) and an empty
                             ``news`` manifest table.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from newsmaper_etl_spark import manifest as M
from newsmaper_etl_spark.operators.newsmaper import (
    NEWS_COLUMNS,
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

#: Partition column: the yyyymmdd prefix of the yyyymmddhh surrogate —
#: day-grain directories, so appends touch only the days they carry and
#: date-ranged reads prune on recorded values (see read_news_tx_for_dates).
_PART_COL = "p_date"
#: ``meta`` key of an :func:`append_news_tx` commit: the version its
#: anti-join read (see rewrite_dedup_tx's window path)
_ANTI_JOIN_BASE = "anti_join_base"


def news_path(warehouse_dir: str) -> str:
    return os.path.join(warehouse_dir, "news")


def _with_partition(df: DataFrame) -> DataFrame:
    return df.withColumn(_PART_COL, F.expr("id_date div 100").cast("int"))


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
    references dictionary, and an empty ``news`` manifest table (version
    0: directories only, no Spark job). Returns table→path.
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

    paths["news"] = news_path(warehouse_dir)
    M.create_table(paths["news"])
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


def append_news_tx(
    spark: SparkSession, new_rows: DataFrame, table: str,
    partitioned: bool = False,
) -> int:
    """Transactional idempotent append (Load.py:8-28): anti-join on the
    composite key against the pinned snapshot, then only the novel rows
    are committed as one manifest pointer flip — a crash mid-write leaves
    the previous snapshot fully intact and readers never see a
    half-batch. Per-file ``id_date`` min/max land in the manifest, so
    date-ranged reads prune files without partition directories. Only
    :data:`NEWS_COLUMNS` of ``new_rows`` are written (``transform_news``'s
    ``pub_ts`` is dropped). Returns the appended count.

    ``partitioned=True`` additionally lays batches out in day-grain
    Hive subdirs (``p_date=yyyymmdd/``) and records each file's exact
    partition value on its manifest entry — date-ranged reads then prune
    on recorded values, no footer stats needed, and appends only create
    the days they carry (the layout choice is committed and enforced
    table-wide).

    The commit's ``meta`` records ``anti_join_base``, the version the
    anti-join read (the commit's own base): no row of such an append
    shares a key with a row committed before it, which is what lets
    :func:`rewrite_dedup_tx` read only the files these appends added.
    Rows that share a key within the batch (in-feed copies) are all
    appended; the keep-first rewrite removes them. A batch with no novel
    row (a replay) still commits, with no data file."""
    novel = new_rows.select(*NEWS_COLUMNS)
    # pin the base: the anti-join decides novelty against THIS snapshot,
    # so the commit must fail (ConcurrentWriteError) if another writer
    # lands in between — not silently re-append rows it couldn't see
    base = M.current_version(table)
    if base > 0:
        existing = M.read_table(spark, table, version=base)
        novel = append_new_rows(novel, existing, NEWS_KEY)
    if partitioned:
        novel = _with_partition(novel)
    obs = Observation()
    staged = novel.observe(obs, F.count(F.lit(1)).alias("n"))
    M.append(
        staged, table, stat_cols=("id_date",), base_version=base,
        partition_by=((_PART_COL,) if partitioned else ()),
        meta={_ANTI_JOIN_BASE: base},
    )
    return int(obs.get["n"])


def rewrite_dedup_tx(spark: SparkSession, table: str) -> int:
    """Transactional maintenance dedup (Main.py:28-47): keep-first per
    composite key, rewriting only live files that can hold a duplicated
    key. The keep-first ranking orders by a stable fingerprint of the
    full row (parquet rows carry no SERIAL id), so the survivor choice is
    deterministic. A crash before the pointer flip leaves the base
    snapshot live; the orphaned survivor files are reclaimed by
    :func:`manifest.vacuum`.

    Cost model — which files are read depends on the commits since the
    table was last known key-unique:

    - **Window path.** The *anchor* is the latest commit this function
      made (its ``meta`` carries ``files_replaced`` and
      ``rows_dropped``); its snapshot is key-unique. When every commit
      after it is an :func:`append_news_tx` append (``meta`` carries
      ``anti_join_base``, its commit's base), each of those appends
      anti-joined against the whole snapshot before it, so no row
      appended since the anchor shares a key with a row committed before
      it. Every row of a duplicated key then lies in the *window*: the
      entries live at the pinned base and not at the anchor. Only the
      window is read (one pass, no key scan), deduped keep-first and
      written as a partial replace of the window entries — 2 Spark
      jobs, against 5 on the fallback (3 for its key scan). When the
      counts observed on the write show that nothing was dropped, the
      written files are deleted and nothing is committed. A base that
      is the anchor itself has an empty window: no job.
    - **Fallback.** Any other history — no anchor (the table was never
      rewritten), any other commit after the anchor (a compaction, a
      stream batch, a foreign :func:`manifest.append`, an overwrite), or
      a manifest :func:`manifest.vacuum` dropped — takes the whole-table
      path: one scan of the key columns and each row's file finds the
      files of every key with more than one row (NULL key components
      group together, as in the keep-first ranking); only those files
      are read back, deduped keep-first and published as a partial
      replace.

    Either way every other file is carried into the new snapshot by
    reference, a key-unique table gets NO commit (the base version is
    returned, as :func:`manifest.compact` does) and the survivors equal
    a whole-table keep-first rewrite's. The rewrite does not compact the
    table: each call adds the survivors of its rewritten files as new
    files, and :func:`manifest.compact` is the tool for small files
    (after which the next rewrite takes the fallback).

    The commit's ``meta`` records ``files_replaced`` and
    ``rows_dropped`` (observed on the write job; see
    :func:`manifest.history`). Returns the new version (the base
    version when there was nothing to drop)."""
    # pin the base: survivors are computed from THIS snapshot's file
    # list; an interleaved append must fail this rewrite, not vanish
    base = M.current_version(table)
    manifest = M._load_manifest(table, base)
    window = _dedup_window(table, manifest)
    entries = (
        window if window is not None
        else _files_with_duplicate_keys(spark, table, manifest)
    )
    if not entries:
        return base
    survivors, meta = _keep_first(spark, table, manifest, entries)
    return M.overwrite(
        survivors, table, stat_cols=("id_date",), base_version=base,
        # a maintenance rewrite preserves the table's committed Hive layout
        partition_by=tuple(manifest.get("partition_by") or ()),
        meta=meta, replaces=entries,
    )


def _dedup_window(table: str, manifest: dict) -> list[dict] | None:
    """The live entries of ``manifest`` that were not live at the
    anchor (see :func:`rewrite_dedup_tx`), or None when the commits
    since the anchor do not prove that every duplicated key lies among
    them. Walks the manifests back from ``manifest``: driver-side, no
    Spark job."""
    m = manifest
    while m["version"] > 0:
        v, meta = m["version"], m.get("meta") or {}
        if m.get("op") == "overwrite" and {
            "files_replaced", "rows_dropped"
        } <= meta.keys():
            anchored = {e["path"] for e in m["files"]}
            return [e for e in manifest["files"] if e["path"] not in anchored]
        if m.get("op") != "append" or meta.get(_ANTI_JOIN_BASE) != v - 1:
            return None
        try:
            m = M._load_manifest(table, v - 1)
        except FileNotFoundError:
            return None  # vacuumed
    return None


def _keep_first(
    spark: SparkSession, table: str, manifest: dict, entries: list[dict]
) -> tuple[DataFrame, Callable[[], dict | None]]:
    """The keep-first survivors of the rows of ``entries``, and the
    rewrite's commit ``meta`` for :func:`manifest.overwrite` — a callable,
    as the rows read and kept are observed on the write job. It returns
    None (abandon the rewrite) when no row was dropped."""
    df = M._read_entries(spark, table, manifest, entries)
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

    def meta() -> dict | None:
        dropped = int(seen.get["n"]) - int(kept.get["n"])
        if not dropped:
            return None
        return {"files_replaced": len(entries), "rows_dropped": dropped}

    return survivors, meta


def _files_with_duplicate_keys(
    spark: SparkSession, table: str, manifest: dict
) -> list[dict]:
    """The live entries of ``manifest`` that hold a row of a duplicated
    :data:`NEWS_KEY` — one scan of the key columns and the file path.
    Scanned paths are URI-encoded; each is decoded and mapped to its
    entry exactly, and a path that maps to no entry raises (skipping it
    would leave its duplicates in place)."""
    from urllib.parse import unquote, urlparse

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
    plans the scan: partition pruning at file grain."""
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
