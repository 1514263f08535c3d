"""Manifest-committed table protocol (newsmaper_etl_spark/manifest.py):
atomic commits, snapshot isolation, time travel, conflict detection,
footer-stats file skipping, vacuum — plus the transactional news sink
variants built on it.
"""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from newsmaper_etl_spark import manifest as M
from newsmaper_etl_spark.fixtures import values_df


def _news_rows(spark, keys):
    rows = [
        (1, 1, 2023010100 + k, f"title{k}", f"link{k}", f"desc{k}", "m")
        for k in keys
    ]
    return values_df(
        spark, rows,
        ["id_country", "id_source", "id_date", "title", "link", "description", "media"],
    )


def test_append_and_read_roundtrip(spark, tmp_path):
    t = str(tmp_path / "t1")
    df = values_df(spark, [(1, "a"), (2, "b")], ["id", "v"])
    v = M.append(df, t, stat_cols=("id",))
    assert v == 1
    got = sorted((r["id"], r["v"]) for r in M.read_table(spark, t).collect())
    assert got == [(1, "a"), (2, "b")]
    v2 = M.append(values_df(spark, [(3, "c")], ["id", "v"]), t, stat_cols=("id",))
    assert v2 == 2
    assert M.read_table(spark, t).count() == 3


def test_crashed_write_is_invisible(spark, tmp_path):
    """A batch written WITHOUT a commit (crash before the pointer flip)
    must not change what readers see; vacuum reclaims the orphans —
    but only past the retention window (ADVICE r04): a fresh
    unreferenced batch could be a LIVE writer's staged-but-uncommitted
    data, so the default age guard keeps it."""
    t = str(tmp_path / "t2")
    M.append(values_df(spark, [(1, "a")], ["id", "v"]), t)
    # simulate a writer dying after data write, before _commit
    M._write_batch(values_df(spark, [(99, "zz")], ["id", "v"]), t, [])
    assert [r["id"] for r in M.read_table(spark, t).collect()] == [1]
    assert M.vacuum(t, keep_versions=1) == 0  # default retention: kept
    deleted = M.vacuum(t, keep_versions=1, retain_seconds=0)
    assert deleted >= 1  # quiesced-writers reclaim: the orphan is gone
    assert [r["id"] for r in M.read_table(spark, t).collect()] == [1]


def test_overwrite_is_snapshot_isolated_and_time_travels(spark, tmp_path):
    t = str(tmp_path / "t3")
    M.append(values_df(spark, [(1, "a"), (1, "a"), (2, "b")], ["id", "v"]), t)
    live = M.read_table(spark, t)  # resolved against v1's file list
    M.overwrite(live.distinct(), t)
    assert M.read_table(spark, t).count() == 2          # v2: deduped
    assert M.read_table(spark, t, version=1).count() == 3  # time travel
    hist = M.history(t)
    assert [h["op"] for h in hist] == ["append", "overwrite"]


def test_concurrent_commit_single_winner(spark, tmp_path):
    t = str(tmp_path / "t4")
    M.append(values_df(spark, [(1, "a")], ["id", "v"]), t)
    base = M.current_version(t)
    files_a = M._write_batch(values_df(spark, [(2, "b")], ["id", "v"]), t, [])
    files_b = M._write_batch(values_df(spark, [(3, "c")], ["id", "v"]), t, [])
    prev = M._load_manifest(t, base)["files"]
    M._commit(t, base, prev + files_a, op="append")  # writer A wins
    with pytest.raises(M.ConcurrentWriteError):
        M._commit(t, base, prev + files_b, op="append")  # B must not clobber
    ids = sorted(r["id"] for r in M.read_table(spark, t).collect())
    assert ids == [1, 2]


def test_stats_pruning_skips_files(spark, tmp_path):
    """Two appends with disjoint id ranges → a range read resolves to
    only the matching snapshot files, before Spark plans the scan."""
    t = str(tmp_path / "t5")
    M.append(
        values_df(spark, [(i, "lo") for i in range(10)], ["id", "v"]).coalesce(1),
        t, stat_cols=("id",),
    )
    M.append(
        values_df(spark, [(i, "hi") for i in range(1000, 1010)], ["id", "v"]).coalesce(1),
        t, stat_cols=("id",),
    )
    all_files = M.read_table(spark, t).inputFiles()
    pruned = M.read_table(spark, t, prune=("id", 1000, 2000))
    assert len(pruned.inputFiles()) < len(all_files)
    assert pruned.count() == 10
    # files without recorded stats are conservatively KEPT
    unpruned = M.read_table(spark, t, prune=("v", 0, 1))  # no stats for v? strings recorded
    assert unpruned.count() >= 10


def test_vacuum_respects_retention(spark, tmp_path):
    t = str(tmp_path / "t6")
    M.append(values_df(spark, [(1, "a")], ["id", "v"]), t)
    M.overwrite(values_df(spark, [(2, "b")], ["id", "v"]), t)
    M.vacuum(t, keep_versions=1)
    assert M.read_table(spark, t).count() == 1  # live snapshot intact
    with pytest.raises(FileNotFoundError):
        M.read_table(spark, t, version=1).count()  # v1 manifest dropped


def test_append_news_tx_idempotent(spark, tmp_path):
    from newsmaper_etl_spark.sinks import append_news_tx

    t = str(tmp_path / "news_tx")
    batch = _news_rows(spark, [0, 1, 2])
    assert append_news_tx(spark, batch, t) == 3
    assert append_news_tx(spark, batch, t) == 0  # rerun: zero novel rows
    assert append_news_tx(spark, _news_rows(spark, [2, 3]), t) == 1
    assert M.read_table(spark, t).count() == 4


def test_rewrite_dedup_tx_atomic(spark, tmp_path):
    from newsmaper_etl_spark.sinks import rewrite_dedup_tx

    t = str(tmp_path / "news_tx2")
    M.append(_news_rows(spark, [0, 1]), t, stat_cols=("id_date",))
    M.append(_news_rows(spark, [1, 2]), t, stat_cols=("id_date",))  # dup key 1
    v = rewrite_dedup_tx(spark, t)
    deduped = M.read_table(spark, t)
    assert deduped.count() == 3
    assert M.read_table(spark, t, version=v - 1).count() == 4  # old snapshot intact


def test_rewrite_dedup_tx_crash_before_commit_leaves_table_readable(
    spark, tmp_path, monkeypatch
):
    """Dying after the survivors are written and before the pointer flip
    leaves the base snapshot live; a rerun drops the duplicate, and vacuum
    reclaims the orphaned survivor files."""
    from newsmaper_etl_spark.sinks import rewrite_dedup_tx

    t = str(tmp_path / "news_crash")
    M.append(_news_rows(spark, [0, 1]), t, stat_cols=("id_date",))
    M.append(_news_rows(spark, [1, 2]), t, stat_cols=("id_date",))  # dup key 1

    def data_files():
        return {
            os.path.join(d, n)
            for d, _, names in os.walk(os.path.join(t, "data"))
            for n in names if n.endswith(".parquet")
        }

    before = data_files()

    def crash(*_args, **_kwargs):
        raise RuntimeError("crash before the pointer flip")

    monkeypatch.setattr(M, "_commit", crash)
    with pytest.raises(RuntimeError, match="pointer flip"):
        rewrite_dedup_tx(spark, t)
    monkeypatch.undo()
    orphans = data_files() - before
    assert orphans  # the survivors were written, never referenced
    assert M.current_version(t) == 2
    assert M.read_table(spark, t).count() == 4  # the base version's rows

    v = rewrite_dedup_tx(spark, t)
    assert v == 3
    assert M.read_table(spark, t).count() == 3
    M.vacuum(t, retain_seconds=0)
    assert not orphans & data_files()
    assert M.read_table(spark, t).count() == 3


def test_read_news_tx_for_dates_prunes(spark, tmp_path):
    from newsmaper_etl_spark.sinks import append_news_tx, read_news_tx_for_dates

    t = str(tmp_path / "news_tx3")
    append_news_tx(spark, _news_rows(spark, [0, 1]).coalesce(1), t)
    append_news_tx(spark, _news_rows(spark, [50, 51]).coalesce(1), t)
    out = read_news_tx_for_dates(spark, t, 2023010150, 2023010151)
    assert out.count() == 2
    assert len(out.inputFiles()) < len(M.read_table(spark, t).inputFiles())


def test_append_rejects_schema_drift(spark, tmp_path):
    """A drifted producer must fail at COMMIT time, not poison reads
    over mixed files; overwrite() performs intentional evolution and
    old snapshots stay readable via time travel."""
    t = str(tmp_path / "t7")
    M.append(values_df(spark, [(1, "a")], ["id", "v"]), t)
    with pytest.raises(ValueError, match="schema mismatch"):
        M.append(values_df(spark, [(2.5, "b")], ["id", "v"]), t)  # id double
    with pytest.raises(ValueError, match="schema mismatch"):
        M.append(values_df(spark, [(2, "b", 1)], ["id", "v", "extra"]), t)
    assert M.read_table(spark, t).count() == 1
    M.overwrite(values_df(spark, [(2, "b", 1)], ["id", "v", "extra"]), t)
    assert len(M.read_table(spark, t).columns) == 3
    assert len(M.read_table(spark, t, version=1).columns) == 2


def test_prune_to_empty_returns_typed_empty_df(spark, tmp_path):
    """A no-match prune is an empty RESULT, not an error — the schema
    comes from the manifest record."""
    t = str(tmp_path / "t8")
    M.append(values_df(spark, [(1, "a")], ["id", "v"]).coalesce(1), t, stat_cols=("id",))
    out = M.read_table(spark, t, prune=("id", 1000, 2000))
    assert out.count() == 0
    assert out.columns == ["id", "v"]


def test_vacuum_on_empty_table_is_noop(tmp_path):
    t = str(tmp_path / "t9")
    M.create_table(t)
    assert M.vacuum(t) == 0


def test_repair_unblocks_crashed_claim(spark, tmp_path):
    """A writer that crashed between manifest claim and pointer flip
    leaves its version claimed; repair() removes the orphan so the next
    commit can proceed (run only with no writers active)."""
    t = str(tmp_path / "t10")
    M.append(values_df(spark, [(1, "a")], ["id", "v"]), t)
    # simulate: claim v2's manifest, die before flipping _LATEST
    import json as _json

    with open(M._manifest_path(t, 2), "w") as f:
        _json.dump({"version": 2, "files": []}, f)
    with pytest.raises(M.ConcurrentWriteError):
        M.append(values_df(spark, [(2, "b")], ["id", "v"]), t)
    assert M.repair(t) == 1
    M.append(values_df(spark, [(2, "b")], ["id", "v"]), t)
    assert M.read_table(spark, t).count() == 2


def test_repair_sweeps_root_latest_temp(spark, tmp_path):
    """A crash between staging `_LATEST.tmp-<hex>` and os.replace leaves
    the temp in the table ROOT; repair() must sweep it (ADVICE r04 —
    vacuum ignores the root, so these otherwise accumulate forever)."""
    t = str(tmp_path / "t12")
    M.append(values_df(spark, [(1, "a")], ["id", "v"]), t)
    orphan = os.path.join(t, "_LATEST.tmp-deadbeef")
    with open(orphan, "w") as f:
        f.write("2")
    assert M.repair(t) == 1
    assert not os.path.exists(orphan)
    assert M.current_version(t) == 1  # the real pointer is untouched


def test_repair_claimed_orphan_is_writer_scoped(spark, tmp_path):
    """repair_claimed_orphan clears ONLY this writer's own crashed claim
    (matched by txn mark) — another writer's live claim is left alone."""
    import json as _json

    t = str(tmp_path / "t13")
    M.append(values_df(spark, [(1, "a")], ["id", "v"]), t, txn=("me", 0))
    # simulate MY crash between claim and flip for txn 1
    with open(M._manifest_path(t, 2), "w") as f:
        _json.dump({"version": 2, "files": [], "txns": {"me": 1}}, f)
    assert M.repair_claimed_orphan(t, "someone_else", 1) is False
    assert M.repair_claimed_orphan(t, "me", 0) is False  # wrong txn
    assert os.path.exists(M._manifest_path(t, 2))
    assert M.repair_claimed_orphan(t, "me", 1) is True
    assert not os.path.exists(M._manifest_path(t, 2))
    # and the writer can now commit its retry
    M.append(values_df(spark, [(2, "b")], ["id", "v"]), t, txn=("me", 1))
    assert M.read_table(spark, t).count() == 2


def test_concurrent_writers_stress(tmp_path):
    """Protocol stress (VERDICT r04 'do this' #6): N threads × M commits
    each, racing the optimistic claim/flip with retry-on-conflict. The
    invariants that make the format trustworthy: the version sequence is
    gapless (every claim that won has a manifest), no committed entry is
    ever lost (files carry forward), and per-writer txn marks are
    monotone and end at each writer's last txn. Pure protocol — no Spark
    jobs — so the race window gets hammered thousands of times."""
    import threading

    t = str(tmp_path / "t14")
    M.create_table(t)
    n_writers, n_commits = 8, 25
    errors: list[Exception] = []

    def writer(wid: int) -> None:
        try:
            for i in range(n_commits):
                entry = {"path": f"data/w{wid}-{i}.parquet", "bytes": 1, "stats": {}}
                while True:
                    base = M.current_version(t)
                    prev = M._load_manifest(t, base)
                    try:
                        M._commit(
                            t, base, prev["files"] + [entry], op="append",
                            txn=(f"w{wid}", i), prev_txns=prev.get("txns"),
                        )
                        break
                    except M.ConcurrentWriteError:
                        continue  # lost the race: recompute against new base
        except Exception as e:  # noqa: BLE001 — surface in the main thread
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(w,)) for w in range(n_writers)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    total = n_writers * n_commits
    assert M.current_version(t) == total  # gapless: every commit got a version
    for v in range(1, total + 1):
        assert os.path.exists(M._manifest_path(t, v))
    final = M._load_manifest(t, total)
    paths = {e["path"] for e in final["files"]}
    assert len(paths) == total  # no committed entry was ever lost
    for w in range(n_writers):
        assert final["txns"][f"w{w}"] == n_commits - 1  # marks are cumulative
    # txn marks are monotone along the version history
    for w in range(n_writers):
        last = -1
        for v in range(1, total + 1):
            mark = int(M._load_manifest(t, v).get("txns", {}).get(f"w{w}", -1))
            assert mark >= last
            last = mark


def test_partition_values_prune_without_footer_stats(spark, tmp_path):
    """VERDICT r04 'do this' #7: a partitioned append records each
    file's exact partition value on its manifest entry; a range read
    prunes on those values with NO stat_cols recorded at all, and the
    partition column is reconstructed on read (Hive layout + basePath)."""
    t = str(tmp_path / "p1")
    df = values_df(spark, [(1, 10, "a"), (2, 20, "b")], ["id", "day", "v"])
    M.append(df, t, partition_by=("day",))  # note: no stat_cols
    M.append(
        values_df(spark, [(3, 30, "c")], ["id", "day", "v"]), t,
        partition_by=("day",),
    )
    m = M._load_manifest(t, 2)
    assert m["partition_by"] == ["day"]
    assert all(e["partition"]["day"] in (10, 20, 30) for e in m["files"])
    full = M.read_table(spark, t)
    assert sorted(full.columns) == ["day", "id", "v"]  # col reconstructed
    assert full.count() == 3
    pruned = M.read_table(spark, t, prune=("day", 25, 35))
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    assert [r["id"] for r in pruned.collect()] == [3]


def test_partition_layout_is_enforced(spark, tmp_path):
    t = str(tmp_path / "p2")
    M.append(
        values_df(spark, [(1, 10, "a")], ["id", "day", "v"]), t,
        partition_by=("day",),
    )
    with pytest.raises(ValueError, match="partitioning mismatch"):
        M.append(values_df(spark, [(2, 20, "b")], ["id", "day", "v"]), t)


def test_partition_layout_enforced_on_legacy_manifests(spark, tmp_path):
    """A manifest written BEFORE partition support has no partition_by
    key; its files are flat, so a partitioned append must fail (a mixed
    layout would break Spark's partition discovery at read time), while
    a flat append keeps working. A fileless table is still free to
    establish any layout."""
    import json
    import os

    t = str(tmp_path / "legacy")
    M.append(values_df(spark, [(1, 10, "a")], ["id", "day", "v"]), t)
    # strip the key to simulate the pre-upgrade manifest format
    v = M.current_version(t)
    path = M._manifest_path(t, v)
    with open(path) as f:
        m = json.load(f)
    del m["partition_by"]
    os.chmod(path, 0o644)
    with open(path, "w") as f:
        json.dump(m, f)
    with pytest.raises(ValueError, match="partitioning mismatch"):
        M.append(
            values_df(spark, [(2, 20, "b")], ["id", "day", "v"]), t,
            partition_by=("day",),
        )
    M.append(values_df(spark, [(3, 30, "c")], ["id", "day", "v"]), t)
    assert M.read_table(spark, t).count() == 2


def test_news_tx_partitioned_end_to_end(spark, tmp_path):
    from newsmaper_etl_spark.sinks import (
        append_news_tx, read_news_tx_for_dates, rewrite_dedup_tx,
    )

    t = str(tmp_path / "news_part")
    # ids 0/1 land on day 20230101, 150/151 on day 20230102 (the id_date
    # surrogate is yyyymmddhh; day = id_date div 100)
    assert append_news_tx(spark, _news_rows(spark, [0, 1]), t, partitioned=True) == 2
    assert append_news_tx(spark, _news_rows(spark, [150, 151]), t, partitioned=True) == 2
    assert append_news_tx(spark, _news_rows(spark, [1, 150]), t, partitioned=True) == 0
    out = read_news_tx_for_dates(spark, t, 2023010250, 2023010251)
    assert out.count() == 2
    assert len(out.inputFiles()) < len(M.read_table(spark, t).inputFiles())
    # maintenance rewrite preserves the committed layout
    v = rewrite_dedup_tx(spark, t)
    assert M._load_manifest(t, v)["partition_by"] == ["p_date"]
    assert M.read_table(spark, t).count() == 4


def test_timestamp_stat_cols_do_not_break_commit(spark, tmp_path):
    """Footer stats for non-JSON-safe types (timestamps) are skipped,
    not serialized-and-crashed; pruning then conservatively keeps the
    files."""
    t = str(tmp_path / "t11")
    df = spark.sql(
        "SELECT id, timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,id,0,0) AS ts "
        "FROM range(3)"
    )
    M.append(df, t, stat_cols=("ts", "id"))
    m = M._load_manifest(t, 1)
    assert all("ts" not in e["stats"] for e in m["files"])  # skipped, not crashed
    assert M.read_table(spark, t, prune=("ts", 0, 1)).count() == 3  # kept


# --------------------------------------------------------------------------
# keep-first maintenance: partial rewrite of the files holding a duplicate
# --------------------------------------------------------------------------

def _append_news_file(spark, t, rows, partitioned):
    """Commit ``rows`` (news tuples) as ONE file per day through the raw
    manifest append, so in-batch duplicates survive into the table."""
    from newsmaper_etl_spark.operators.newsmaper import NEWS_COLUMNS
    from newsmaper_etl_spark.sinks import _with_partition

    df = values_df(spark, rows, list(NEWS_COLUMNS)).coalesce(1)
    if partitioned:
        df = _with_partition(df)
    return M.append(
        df, t, stat_cols=("id_date",),
        partition_by=(("p_date",) if partitioned else ()),
    )


def _keep_first_rows(df):
    """The full rewrite's survivors: keep-first over the whole frame with
    the same ``__ord`` fingerprint as rewrite_dedup_tx."""
    from collections import Counter

    from newsmaper_etl_spark.operators.newsmaper import NEWS_KEY, dedup_keep_first

    ordered = df.withColumn(
        "__ord",
        F.xxhash64(*[
            F.coalesce(F.col(c).cast("string"), F.lit("")) for c in df.columns
        ]),
    )
    kept = dedup_keep_first(ordered, NEWS_KEY, order_col="__ord").drop("__ord")
    return Counter(tuple(r) for r in kept.collect())


@pytest.mark.parametrize("partitioned", [False, True], ids=["flat", "p_date"])
def test_rewrite_dedup_tx_rewrites_only_duplicate_files(spark, tmp_path, partitioned):
    """Equivalence with the full rewrite: the survivors equal keep-first
    over the whole pre-rewrite snapshot, the file without a duplicate is
    carried by reference, and time travel still reads every row."""
    from collections import Counter

    from newsmaper_etl_spark.sinks import rewrite_dedup_tx

    t = str(tmp_path / "news tx" / "t")
    d = 2023010100
    # old file: key 1 is duplicated later by the newest append; the NULL-
    # title key (1, d+99, NULL) is too
    _append_news_file(spark, t, [
        (1, 1, d + 0, "t0", "l0", "x", "m"),
        (1, 1, d + 1, "t1", "l1", "old", "m"),
        (1, 1, d + 99, None, "ln", "old", "m"),
    ], partitioned)
    # clean file: no key of it appears anywhere else (a later day)
    _append_news_file(spark, t, [
        (1, 1, d + 110, "t10", "l10", "x", "m"),
        (1, 2, d + 111, "t11", "l11", "x", "m"),
    ], partitioned)
    # newest append: a duplicate inside it (key 20), one across files
    # (key 1), and the NULL-component key again
    _append_news_file(spark, t, [
        (1, 1, d + 1, "t1", "l1b", "new", "m"),
        (1, 1, d + 20, "t20", "a", "x", "m"),
        (2, 1, d + 20, "t20", "b", "y", "m"),
        (1, 1, d + 99, None, "ln2", "new", "m"),
        (1, 1, d + 21, "t21", "l21", "x", "m"),
    ], partitioned)
    base = M.current_version(t)
    before = M._load_manifest(t, base)
    clean = [e for e in before["files"] if e["stats"]["id_date"][0] == d + 110]
    assert len(clean) == 1
    expected = _keep_first_rows(M.read_table(spark, t, version=base))

    v = rewrite_dedup_tx(spark, t)

    assert v == base + 1
    after = M._load_manifest(t, v)
    got = Counter(tuple(r) for r in M.read_table(spark, t).collect())
    assert got == expected
    assert sum(got.values()) == 7
    # the clean file is carried unchanged: path, bytes, stats, partition
    assert clean[0] in after["files"]
    replaced = [e for e in before["files"] if e not in clean]
    assert not [e for e in replaced if e in after["files"]]
    assert after["partition_by"] == (["p_date"] if partitioned else [])
    assert after["schema"] == before["schema"]
    assert after["meta"] == {"files_replaced": len(replaced), "rows_dropped": 3}
    assert M.history(t)[-1] == {
        "version": v, "op": "overwrite", "n_files": len(after["files"]),
        "meta": after["meta"],
    }
    # time travel to the pre-rewrite snapshot still reads every row
    assert M.read_table(spark, t, version=base).count() == 10


def test_rewrite_dedup_tx_clean_table_commits_nothing(spark, tmp_path):
    """A key-unique table gets no commit: the base version comes back and
    no manifest or data directory is written — and a rewrite right after
    a rewrite is a no-op too."""
    from newsmaper_etl_spark.sinks import rewrite_dedup_tx

    t = str(tmp_path / "clean tx")

    def listing():
        return (
            sorted(os.listdir(os.path.join(t, "_manifests"))),
            sorted(os.listdir(os.path.join(t, "data"))),
        )

    M.append(_news_rows(spark, [0, 1, 2]), t, stat_cols=("id_date",))
    M.append(_news_rows(spark, [3, 4]), t, stat_cols=("id_date",))
    snap = listing()
    assert rewrite_dedup_tx(spark, t) == 2
    assert listing() == snap
    M.append(_news_rows(spark, [4, 5]), t, stat_cols=("id_date",))  # dup key 4
    v = rewrite_dedup_tx(spark, t)
    assert v == 4
    assert M.read_table(spark, t).count() == 6
    snap = listing()
    assert rewrite_dedup_tx(spark, t) == v
    assert listing() == snap


def test_rewrite_dedup_tx_unmapped_scan_path_raises(spark, tmp_path, monkeypatch):
    """Scanned file paths are URI-encoded: each must map to a manifest
    entry exactly, and one that maps to none fails the rewrite instead of
    being skipped (its duplicates would silently stay live)."""
    import urllib.parse

    from newsmaper_etl_spark.sinks import rewrite_dedup_tx

    t = str(tmp_path / "space tx")
    M.append(_news_rows(spark, [0, 1]), t, stat_cols=("id_date",))
    M.append(_news_rows(spark, [1]), t, stat_cols=("id_date",))
    # without the decode, "space%20tx" names no live file
    monkeypatch.setattr(urllib.parse, "unquote", lambda s: s)
    with pytest.raises(ValueError, match="no live file"):
        rewrite_dedup_tx(spark, t)
    assert M.current_version(t) == 2


# --------------------------------------------------------------------------
# keep-first maintenance: the window path and the whole-table fallback
# --------------------------------------------------------------------------

def _round_rows(rng, history, n_new, n_reserved, n_copies, null_titles=0):
    """One seeded feed round as news tuples: ``n_new`` fresh keys (plus
    ``null_titles`` fresh NULL-title keys), ``n_reserved`` rows re-served
    from ``history`` (the anti-join drops them) and ``n_copies`` in-feed
    copies of fresh keys under another link (the anti-join keeps every
    copy). Fresh rows join ``history``."""
    fresh = []
    for i in range(n_new + null_titles):
        day = rng.randrange(1, 28)
        title = None if i >= n_new else f"t{len(history) + i}"
        fresh.append((rng.randrange(1, 12), rng.randrange(1, 4),
                      2023010000 + day * 100 + rng.randrange(24), title,
                      f"l{len(history) + i}", f"d{rng.random():.6f}", "m"))
    rows = fresh + rng.sample(history, min(n_reserved, len(history)))
    for r in rng.sample(fresh, n_copies):
        rows.append(r[:4] + (r[4] + "-copy", "syndicated", r[6]))
    history.extend(fresh)
    rng.shuffle(rows)
    return rows


def _news_df(spark, rows):
    from newsmaper_etl_spark.operators.newsmaper import NEWS_COLUMNS

    return values_df(spark, rows, list(NEWS_COLUMNS))


def _rows(spark, t):
    from collections import Counter

    return Counter(tuple(r) for r in M.read_table(spark, t).collect())


def _no_key_scan(*_args):
    raise AssertionError("the window path scanned the table's keys")


def test_rewrite_dedup_tx_window_path_equals_whole_table_path(
    spark, tmp_path, monkeypatch
):
    """Both sides of the maintenance fork on the same input: after each
    seeded append_news_tx round (re-served history, in-feed copies, NULL
    titles, a clean round, then a dirty one) the window path and a copy
    forced down the whole-table path leave the same rows. Once an anchor
    exists the window path never scans the table's keys; a clean window
    commits nothing and leaves no file behind."""
    import random
    import shutil

    from newsmaper_etl_spark import sinks

    rng = random.Random(11)
    history: list[tuple] = []
    t = str(tmp_path / "news")
    rounds = [
        (12, 0, 3, 1),   # no anchor yet: both sides take the fallback
        (6, 5, 2, 1),
        (5, 4, 0, 0),    # clean round
        (6, 6, 3, 1),    # dirty round after the clean one
    ]

    for i, (n_new, n_reserved, n_copies, nulls) in enumerate(rounds):
        rows = _round_rows(rng, history, n_new, n_reserved, n_copies, nulls)
        sinks.append_news_tx(spark, _news_df(spark, rows), t)
        twin = str(tmp_path / f"twin{i}")
        shutil.copytree(t, twin)
        base = M.current_version(t)
        listing = sorted(os.listdir(os.path.join(t, "data")))
        with monkeypatch.context() as mp:
            if i > 0:
                mp.setattr(sinks, "_files_with_duplicate_keys", _no_key_scan)
            v = sinks.rewrite_dedup_tx(spark, t)
        with monkeypatch.context() as mp:
            mp.setattr(sinks, "_dedup_window", lambda *_a: None)
            v_twin = sinks.rewrite_dedup_tx(spark, twin)
        assert _rows(spark, t) == _rows(spark, twin)
        assert (v > base) == (v_twin > base) == (n_copies > 0)
        if v > base:
            assert (M._load_manifest(t, v)["meta"]["rows_dropped"]
                    == M._load_manifest(twin, v_twin)["meta"]["rows_dropped"])
        else:
            assert sorted(os.listdir(os.path.join(t, "data"))) == listing
        got = _rows(spark, t)
        assert sum(got.values()) == len(history)  # one row per key


@pytest.mark.parametrize("after_anchor", ["foreign_append", "compact", "vacuum"])
def test_rewrite_dedup_tx_falls_back_to_whole_table(
    spark, tmp_path, monkeypatch, after_anchor
):
    """Only append_news_tx appends may follow the anchor for the window
    path: a foreign ``M.append`` (here one that re-adds a key committed
    before the anchor — outside any window), a compaction, or a
    manifest dropped by vacuum sends the rewrite down the whole-table
    path, which still leaves one row per key."""
    import random

    from newsmaper_etl_spark import sinks

    rng = random.Random(5)
    history: list[tuple] = []
    t = str(tmp_path / "news")
    sinks.append_news_tx(
        spark, _news_df(spark, _round_rows(rng, history, 8, 0, 2)), t)
    sinks.rewrite_dedup_tx(spark, t)  # the anchor
    if after_anchor == "foreign_append":
        M.append(_news_df(spark, [history[0][:4] + ("lx", "dx", "m")]), t,
                 stat_cols=("id_date",))
    elif after_anchor == "compact":
        M.compact(spark, t)
    sinks.append_news_tx(
        spark, _news_df(spark, _round_rows(rng, history, 5, 3, 2)), t)
    if after_anchor == "vacuum":
        M.vacuum(t, keep_versions=1)
    scans = []
    scan = sinks._files_with_duplicate_keys
    monkeypatch.setattr(sinks, "_files_with_duplicate_keys",
                        lambda *a: scans.append(1) or scan(*a))
    base = M.current_version(t)
    assert sinks.rewrite_dedup_tx(spark, t) == base + 1
    assert scans == [1]
    got = _rows(spark, t)
    assert sum(got.values()) == len(history)
    assert len({r[1:4] for r in got}) == len(history)


def test_rewrite_dedup_tx_window_crash_before_commit(spark, tmp_path,
                                                     monkeypatch):
    """A crash between the window path's survivor write and its pointer
    flip leaves the base snapshot readable; the rerun takes the window
    path again and drops the duplicates."""
    import random

    from newsmaper_etl_spark import sinks

    rng = random.Random(3)
    history: list[tuple] = []
    t = str(tmp_path / "news")
    sinks.append_news_tx(
        spark, _news_df(spark, _round_rows(rng, history, 6, 0, 1)), t)
    sinks.rewrite_dedup_tx(spark, t)
    sinks.append_news_tx(
        spark, _news_df(spark, _round_rows(rng, history, 6, 2, 2)), t)
    base = M.current_version(t)
    before = _rows(spark, t)

    def crash(*_args, **_kwargs):
        raise RuntimeError("crash before the pointer flip")

    monkeypatch.setattr(M, "_commit", crash)
    with pytest.raises(RuntimeError, match="pointer flip"):
        sinks.rewrite_dedup_tx(spark, t)
    monkeypatch.undo()
    assert M.current_version(t) == base
    assert _rows(spark, t) == before
    monkeypatch.setattr(sinks, "_files_with_duplicate_keys", _no_key_scan)
    assert sinks.rewrite_dedup_tx(spark, t) == base + 1
    assert sum(_rows(spark, t).values()) == len(history)


def test_zero_row_commits_add_no_file(spark, tmp_path):
    """A commit of zero rows lands (version and txn mark) but adds no
    data file and no batch directory: an empty frame, an append_news_tx
    replay, and a table whose only commit is empty still reads as a
    typed frame. A 1-row append over 4 partitions adds one file."""
    from newsmaper_etl_spark.sinks import append_news_tx

    t = str(tmp_path / "news")

    def live():
        return M._load_manifest(t, M.current_version(t))["files"]

    def listing():
        return sorted(os.listdir(os.path.join(t, "data")))

    empty = _news_rows(spark, [0]).limit(0)
    M.append(empty, t, stat_cols=("id_date",), txn=("w", 0))
    assert M.current_version(t) == 1 and live() == [] and listing() == []
    assert M.last_txn_version(t, "w") == 0
    read = M.read_table(spark, t)
    assert read.count() == 0 and read.dtypes == empty.dtypes

    assert append_news_tx(spark, _news_rows(spark, [0, 1]), t) == 2
    files, dirs = live(), listing()
    assert append_news_tx(spark, _news_rows(spark, [0, 1]), t) == 0  # replay
    assert M.current_version(t) == 3
    assert live() == files and listing() == dirs

    M.append(_news_rows(spark, [7]).repartition(4), t, stat_cols=("id_date",))
    assert len(live()) == len(files) + 1
    assert M.read_table(spark, t).count() == 3


def test_flat_batches_hold_only_manifest_entries(spark, tmp_path):
    """Every file under ``data/`` of a flat table and of its ``_keys``
    side table is a manifest entry: the batch write deletes Spark's
    ``_SUCCESS`` marker and the ``.<name>.crc`` side files, as it deletes
    zero-row files."""
    from newsmaper_etl_spark import keyindex as K

    t = str(tmp_path / "flat")
    for i, keys in enumerate(([0, 1], [2, 3, 4], [5])):
        batch = _news_rows(spark, keys).repartition(2)
        M.append(batch, t, stat_cols=("id_date",))
        assert K.append_batch_index(K.KEYS, batch, t, {"cols": ["link"]}, "w", i)
    for path in (t, K.key_index_path(t)):
        live = M._load_manifest(path, M.current_version(path))["files"]
        on_disk = {
            os.path.relpath(os.path.join(d, f), path)
            for d, _, files in os.walk(os.path.join(path, "data"))
            for f in files
        }
        assert live and on_disk == {e["path"] for e in live}


def test_overwrite_partial_replace_guards(spark, tmp_path):
    """A partial replace carries the other entries by reference, so the
    batch must match the recorded schema and layout; txn marks and
    partition_by carry forward; only live entries can be replaced; a
    moved base fails the commit."""
    t = str(tmp_path / "partial")
    cols = ["id", "day", "v"]
    M.append(values_df(spark, [(1, 20, "a")], cols), t, stat_cols=("id",),
             partition_by=("day",), txn=("writer", 3))
    M.append(values_df(spark, [(2, 21, "b")], cols), t, stat_cols=("id",),
             partition_by=("day",))
    base = M.current_version(t)
    first, second = M._load_manifest(t, base)["files"]
    with pytest.raises(ValueError, match="schema mismatch"):
        M.overwrite(
            values_df(spark, [(1, 20, "a", 1)], cols + ["extra"]), t,
            partition_by=("day",), replaces=[first],
        )
    with pytest.raises(ValueError, match="partitioning mismatch"):
        M.overwrite(values_df(spark, [(1, 20, "a")], cols), t, replaces=[first])
    with pytest.raises(ValueError, match="not live"):
        M.overwrite(
            values_df(spark, [(1, 20, "a")], cols), t, partition_by=("day",),
            replaces=[dict(first, path="data/day=20/gone.parquet")],
        )
    assert M.current_version(t) == base  # every rejection before the commit

    v = M.overwrite(
        values_df(spark, [(1, 20, "z")], cols), t, stat_cols=("id",),
        base_version=base, partition_by=("day",), replaces=[first],
        meta=lambda: {"why": "test"},
    )
    m = M._load_manifest(t, v)
    assert second in m["files"] and first not in m["files"]
    assert m["partition_by"] == ["day"]
    assert m["meta"] == {"why": "test"}
    assert M.last_txn_version(t, "writer") == 3
    assert sorted(
        (r["id"], r["day"], r["v"]) for r in M.read_table(spark, t).collect()
    ) == [(1, 20, "z"), (2, 21, "b")]

    # a commit landed since the caller's base: the rewrite must fail
    with pytest.raises(M.ConcurrentWriteError):
        M.overwrite(
            values_df(spark, [(2, 21, "y")], cols), t, base_version=base,
            partition_by=("day",), replaces=[second],
        )
    assert M.current_version(t) == v


# --------------------------------------------------------------------------
# compact() + additive schema evolution — round 6
# --------------------------------------------------------------------------

def test_compact_merges_small_files_one_commit(spark, tmp_path):
    """Five single-file appends → one compact commit: fewer live files,
    identical rows, op recorded, schema + txn marks carried forward."""
    t = str(tmp_path / "c1")
    for i in range(5):
        M.append(
            values_df(spark, [(i, f"v{i}")], ["id", "v"]).coalesce(1), t,
            stat_cols=("id",), txn=("writer", i),
        )
    before = M._load_manifest(t, M.current_version(t))
    assert len(before["files"]) == 5
    v = M.compact(spark, t)
    m = M._load_manifest(t, v)
    assert m["op"] == "compact"
    assert len(m["files"]) == 1
    assert sorted(
        (r["id"], r["v"]) for r in M.read_table(spark, t).collect()
    ) == [(i, f"v{i}") for i in range(5)]
    # exactly-once marks and schema survive the rewrite
    assert M.last_txn_version(t, "writer") == 4
    assert m["schema"] == before["schema"]
    # stat columns are re-derived: the compacted file carries id stats
    assert all("id" in e["stats"] for e in m["files"])
    # time travel still sees the pre-compact snapshot
    assert M.read_table(spark, t, version=v - 1).count() == 5


def test_compact_leaves_large_and_single_files_alone(spark, tmp_path):
    """Files ≥ min_file_bytes never rewrite; a lone small file has
    nothing to merge with; no-op returns the base version unchanged."""
    t = str(tmp_path / "c2")
    M.append(values_df(spark, [(1, "a")], ["id", "v"]).coalesce(1), t)
    v0 = M.current_version(t)
    assert M.compact(spark, t) == v0  # single small file: no-op
    M.append(values_df(spark, [(2, "b")], ["id", "v"]).coalesce(1), t)
    # min_file_bytes=0: everything counts as large → no-op again
    assert M.compact(spark, t, min_file_bytes=0) == M.current_version(t)
    paths_before = {
        e["path"] for e in M._load_manifest(t, M.current_version(t))["files"]
    }
    v = M.compact(spark, t)  # now 2 small files merge
    assert v == M.current_version(t)
    m = M._load_manifest(t, v)
    assert len(m["files"]) == 1
    assert not paths_before & {e["path"] for e in m["files"]}


def test_compact_partitioned_within_partitions(spark, tmp_path):
    """Partitioned tables compact per partition value: files of
    different partitions never merge, partition pruning still works on
    the compacted manifest."""
    t = str(tmp_path / "c3")
    for i in range(3):
        M.append(
            values_df(
                spark, [(i, "x", 1), (i, "y", 2)], ["id", "v", "p"]
            ).repartition(1),
            t, partition_by=("p",),
        )
    before = M._load_manifest(t, M.current_version(t))["files"]
    assert len(before) == 6  # 3 appends × 2 partitions
    v = M.compact(spark, t)
    m = M._load_manifest(t, v)
    assert len(m["files"]) == 2  # one per partition
    parts = sorted(e["partition"]["p"] for e in m["files"])
    assert parts == [1, 2]
    assert M.read_table(spark, t).count() == 6
    pruned = M.read_table(spark, t, prune=("p", 2, 2))
    assert pruned.count() == 3 and len(pruned.inputFiles()) == 1


def test_compact_loses_race_to_interleaved_commit(spark, tmp_path):
    """Concurrent-writer stress: a commit landing between compact's
    snapshot and its own commit fails the COMPACT (single winner), and
    the interleaved append's rows are never lost; the retry succeeds."""
    t = str(tmp_path / "c4")
    for i in range(3):
        M.append(values_df(spark, [(i, "a")], ["id", "v"]).coalesce(1), t)
    base = M.current_version(t)
    # compact pinned to the pre-append snapshot must lose
    M.append(values_df(spark, [(99, "late")], ["id", "v"]).coalesce(1), t)
    with pytest.raises(M.ConcurrentWriteError):
        M.compact(spark, t, base_version=base)
    assert sorted(r["id"] for r in M.read_table(spark, t).collect()) == [0, 1, 2, 99]
    v = M.compact(spark, t)  # fresh snapshot: wins
    assert len(M._load_manifest(t, v)["files"]) == 1
    assert sorted(r["id"] for r in M.read_table(spark, t).collect()) == [0, 1, 2, 99]


def test_merge_schema_additive(spark, tmp_path):
    """Additive evolution: a batch may ADD columns (old files read as
    null there); dropping or retyping still fails the commit."""
    t = str(tmp_path / "e1")
    M.append(values_df(spark, [(1, "a")], ["id", "v"]), t)
    # plain append with extra column still fails (evolution is opt-in)
    wide = values_df(spark, [(2, "b", 7.5)], ["id", "v", "score"])
    with pytest.raises(ValueError, match="merge_schema"):
        M.append(wide, t)
    v = M.append(wide, t, merge_schema=True)
    m = M._load_manifest(t, v)
    assert [n for n, _t in m["schema"]] == ["id", "v", "score"]
    assert m["schema"][:2] == M._load_manifest(t, 1)["schema"]  # prefix kept
    out = {r["id"]: r for r in M.read_table(spark, t).collect()}
    assert out[1]["score"] is None and float(out[2]["score"]) == 7.5
    # dropping a column is NOT additive
    with pytest.raises(ValueError, match="ADDITIVE only"):
        M.append(values_df(spark, [(3, 1.0)], ["id", "score"]), t, merge_schema=True)
    # retyping is NOT additive
    retyped = values_df(spark, [(4, 5, 1.0)], ["id", "v", "score"])
    with pytest.raises(ValueError, match="ADDITIVE only"):
        M.append(retyped, t, merge_schema=True)
    # next plain append must match the EVOLVED schema
    v3 = M.append(values_df(spark, [(5, "c", 1.5)], ["id", "v", "score"]), t)
    assert M._load_manifest(t, v3)["schema"] == m["schema"]


def test_merge_schema_then_compact_mixed_files(spark, tmp_path):
    """Compacting a table whose live files mix pre- and post-evolution
    schemas: the rewrite projects the recorded schema, so nulls for the
    added column materialize and the compacted table reads the same."""
    t = str(tmp_path / "e2")
    M.append(values_df(spark, [(1, "a")], ["id", "v"]).coalesce(1), t)
    M.append(
        values_df(spark, [(2, "b", 9.0)], ["id", "v", "score"]).coalesce(1),
        t, merge_schema=True,
    )
    v = M.compact(spark, t)
    assert len(M._load_manifest(t, v)["files"]) == 1
    out = {r["id"]: r["score"] for r in M.read_table(spark, t).collect()}
    assert out == {1: None, 2: 9.0}


def test_vacuum_reclaims_compacted_files(spark, tmp_path):
    """After compact(), the superseded small files stay on disk for
    time travel until vacuum drops the old snapshots — then they are
    reclaimed and the live compacted snapshot is untouched."""
    t = str(tmp_path / "c5")
    for i in range(4):
        M.append(values_df(spark, [(i, "x")], ["id", "v"]).coalesce(1), t)
    M.compact(spark, t)
    n_parquet_before = sum(
        len([f for f in files if f.endswith(".parquet")])
        for _, _, files in os.walk(os.path.join(t, "data"))
    )
    deleted = M.vacuum(t, keep_versions=1, retain_seconds=0)
    # ≥4 removals: the superseded parquet files plus Spark's _SUCCESS /
    # .crc markers that were never referenced by any manifest
    assert deleted >= 4
    n_after = sum(
        len([f for f in files if f.endswith(".parquet")])
        for _, _, files in os.walk(os.path.join(t, "data"))
    )
    assert n_after == n_parquet_before - 4
    assert sorted(r["id"] for r in M.read_table(spark, t).collect()) == [0, 1, 2, 3]


def test_concurrent_append_vs_compact_stress(tmp_path):
    """Appenders race a compactor on the pure protocol: every committed
    entry either survives verbatim or was rewritten by a compact that
    carried its content forward; versions stay gapless and nothing is
    lost. (compact() is exercised protocol-only here — the file merge is
    simulated — so the claim/flip race gets hammered without Spark
    jobs; the Spark-level merge semantics are covered above.)"""
    import threading

    t = str(tmp_path / "c6")
    M.create_table(t)
    n_appends = 60
    errors: list[Exception] = []
    stop = threading.Event()

    def appender() -> None:
        try:
            for i in range(n_appends):
                entry = {"path": f"data/a-{i}.parquet", "bytes": 1,
                         "stats": {}, "rows": [i]}
                while True:
                    base = M.current_version(t)
                    prev = M._load_manifest(t, base)
                    try:
                        M._commit(t, base, prev["files"] + [entry],
                                  op="append", prev_txns=prev.get("txns"))
                        break
                    except M.ConcurrentWriteError:
                        continue
        except Exception as e:  # noqa: BLE001
            errors.append(e)
        finally:
            stop.set()

    def compactor() -> None:
        try:
            c = 0
            while not stop.is_set():
                base = M.current_version(t)
                prev = M._load_manifest(t, base)
                small = [e for e in prev["files"] if "rows" in e]
                if len(small) < 2:
                    continue
                merged = {
                    "path": f"data/c-{c}.parquet",
                    "bytes": sum(e["bytes"] for e in small),
                    "stats": {},
                    "rows": sorted(r for e in small for r in e["rows"]),
                }
                rest = [e for e in prev["files"] if "rows" not in e]
                try:
                    M._commit(t, base, rest + [merged], op="compact",
                              prev_txns=prev.get("txns"))
                    c += 1
                except M.ConcurrentWriteError:
                    continue  # appender won; re-snapshot
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    ta = threading.Thread(target=appender)
    tc = threading.Thread(target=compactor)
    ta.start(); tc.start()
    ta.join(); tc.join()
    assert not errors, errors
    final = M._load_manifest(t, M.current_version(t))
    # every appended row is present exactly once, compacted or not
    all_rows = sorted(r for e in final["files"] for r in e.get("rows", []))
    assert all_rows == list(range(n_appends))
    # gapless version chain
    for v in range(1, M.current_version(t) + 1):
        assert os.path.exists(M._manifest_path(t, v))


def test_compact_order_by_makes_prune_selective(spark, tmp_path):
    """Clustered compaction: append-order files scatter every key range
    (a prune keeps all of them); compact(order_by=...) range-partitions
    the rewrite so each output file covers a disjoint range and a point
    prune opens ONE file."""
    t = str(tmp_path / "z1")
    # 4 appends, each covering the FULL key range: prune can skip nothing
    for b in range(4):
        rows = [(i, f"b{b}") for i in range(0, 1000, 4)]
        M.append(values_df(spark, rows, ["id", "v"]).coalesce(1), t,
                 stat_cols=("id",))
    before = M.read_table(spark, t, prune=("id", 10, 20))
    assert len(before.inputFiles()) == 4  # every file intersects
    v = M.compact(
        spark, t, target_file_bytes=1, order_by=("id",)
    )  # target=1 byte -> one output file per input byte-group: 4 files
    m = M._load_manifest(t, v)
    assert len(m["files"]) >= 2
    # disjoint recorded ranges: files ordered by min don't overlap
    ranges = sorted(e["stats"]["id"] for e in m["files"])
    for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2
    after = M.read_table(spark, t, prune=("id", 10, 20))
    assert len(after.inputFiles()) < 4  # clustered: strictly fewer files
    point = M.read_table(spark, t, prune=("id", 12, 12))
    assert len(point.inputFiles()) == 1  # a point lookup opens ONE file
    assert sorted(r["id"] for r in after.collect() if 10 <= r["id"] <= 20) == \
        sorted(r["id"] for r in before.collect() if 10 <= r["id"] <= 20)
    assert M.read_table(spark, t).count() == 4 * 250  # nothing lost


def test_read_table_changes_incremental(spark, tmp_path):
    """CDC-lite: the rows added between two versions come back from an
    explicit file-list diff; maintenance/overwrite commits in the range
    raise instead of producing false adds; empty delta is typed."""
    t = str(tmp_path / "cdc1")
    M.append(values_df(spark, [(1, "a")], ["id", "v"]).coalesce(1), t)
    v1 = M.current_version(t)
    M.append(values_df(spark, [(2, "b")], ["id", "v"]).coalesce(1), t)
    M.append(values_df(spark, [(3, "c")], ["id", "v"]).coalesce(1), t)
    v3 = M.current_version(t)
    delta = M.read_table_changes(spark, t, v1, v3)
    assert sorted(r["id"] for r in delta.collect()) == [2, 3]
    # empty delta: typed empty frame
    assert M.read_table_changes(spark, t, v3, v3).count() == 0
    assert M.read_table_changes(spark, t, v3).columns == ["id", "v"]
    # a compact in the range poisons file-diff deltas -> loud error
    M.compact(spark, t)
    with pytest.raises(ValueError, match="compact"):
        M.read_table_changes(spark, t, v1)
    # after re-syncing (from the compacted version) appends diff again
    v4 = M.current_version(t)
    M.append(values_df(spark, [(4, "d")], ["id", "v"]).coalesce(1), t)
    assert [r["id"] for r in M.read_table_changes(spark, t, v4).collect()] == [4]
    # a never-committed from_version is an invalid ARGUMENT (distinct
    # from the vacuumed-range diagnosis — ADVICE r06)
    with pytest.raises(ValueError, match="not a committed version"):
        M.read_table_changes(spark, t, 99, 1)
    # an inverted but otherwise valid range still reports the inversion
    with pytest.raises(ValueError, match="above"):
        M.read_table_changes(spark, t, 2, 1)


def test_compact_crash_before_commit_is_invisible(spark, tmp_path):
    """A compactor dying after writing its merged batch but before the
    pointer flip changes nothing for readers; the orphaned rewrite is
    vacuumed once quiesced."""
    t = str(tmp_path / "c7")
    for i in range(3):
        M.append(values_df(spark, [(i, "x")], ["id", "v"]).coalesce(1), t)
    v = M.current_version(t)
    # simulate the crash: do compact's write, skip its _commit
    prev = M._load_manifest(t, v)
    df = spark.read.parquet(*[os.path.join(t, e["path"]) for e in prev["files"]])
    M._write_batch(df.coalesce(1), t, [])
    assert M.current_version(t) == v  # no commit happened
    assert M.read_table(spark, t).count() == 3
    assert M.vacuum(t, keep_versions=1, retain_seconds=0) >= 1  # orphan gone
    assert M.read_table(spark, t).count() == 3
    # a retry now succeeds normally
    v2 = M.compact(spark, t)
    assert v2 == v + 1 and M.read_table(spark, t).count() == 3


def test_compact_order_by_rewrites_large_files_too(spark, tmp_path):
    """order_by widens the rewrite to EVERY file: a previously-compacted
    large file still spanning the full key range must be re-clustered,
    not kept by the size check (review find)."""
    t = str(tmp_path / "z2")
    for b in range(3):
        rows = [(i, "x" * 50) for i in range(b, 900, 3)]
        M.append(values_df(spark, rows, ["id", "v"]).coalesce(1), t,
                 stat_cols=("id",))
    # first pass: plain bin-packing -> one large(ish) append-order file
    M.compact(spark, t)
    # clustering pass with min_file_bytes=0 (every file counts as large)
    v = M.compact(spark, t, min_file_bytes=0, target_file_bytes=2_000,
                  order_by=("id",))
    m = M._load_manifest(t, v)
    assert m["op"] == "compact" and len(m["files"]) >= 2
    ranges = sorted(e["stats"]["id"] for e in m["files"])
    for (_lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # disjoint: the large file was re-clustered
    assert M.read_table(spark, t).count() == 900
    assert len(M.read_table(spark, t, prune=("id", 5, 5)).inputFiles()) == 1


def test_read_table_changes_vacuumed_range_is_actionable(spark, tmp_path):
    """A poller that fell behind the vacuum retention window gets the
    re-sync ValueError, not a raw FileNotFoundError (review find)."""
    t = str(tmp_path / "cdc2")
    for i in range(4):
        M.append(values_df(spark, [(i, "a")], ["id", "v"]).coalesce(1), t)
    M.vacuum(t, keep_versions=1, retain_seconds=0)  # drops manifests v1..v3
    with pytest.raises(ValueError, match="re-sync"):
        M.read_table_changes(spark, t, 1)


# --------------------------------------------------------------------------
# LogStore seam: the commit protocol against both adapters
# --------------------------------------------------------------------------

@pytest.mark.parametrize("store_cls", [M.PosixLogStore, M.InMemoryLogStore])
def test_commit_protocol_runs_on_both_log_stores(spark, tmp_path, store_cls):
    """The commit protocol must depend ONLY on the LogStore contract
    (conditional-put claim + atomic pointer flip), not on POSIX rename:
    the same append → conflict → read → history cycle runs bit-identical
    against the filesystem store and the in-memory conditional-put fake
    (object-store semantics: no directories, no rename). Data files stay
    on disk either way — only the LOG is abstracted."""
    prev = M.set_log_store(store_cls())
    try:
        t = str(tmp_path / "lst")
        M.append(values_df(spark, [(1, "a"), (2, "b")], ["id", "v"]), t)
        M.append(values_df(spark, [(3, "c")], ["id", "v"]), t)
        assert M.current_version(t) == 2
        got = sorted(r["id"] for r in M.read_table(spark, t).collect())
        assert got == [1, 2, 3]
        assert [h["op"] for h in M.history(t)] == ["append", "append"]
        # stale-base writer fails loudly (snapshot moved underneath it)
        with pytest.raises(M.ConcurrentWriteError):
            M._commit(t, base_version=1, files=[], op="append")
        # two racers for the same version: exactly one winner
        files = M._load_manifest(t, 2)["files"]
        M._commit(t, base_version=2, files=files, op="append")
        store = M.get_log_store()
        with pytest.raises(FileExistsError):
            store.put_if_absent(M._manifest_path(t, 3), "{}")
    finally:
        M.set_log_store(prev)


@pytest.mark.parametrize("store_cls", [M.PosixLogStore, M.InMemoryLogStore])
def test_log_store_primitive_semantics(tmp_path, store_cls):
    """The primitive contract itself: put_if_absent is one-shot (second
    writer gets FileExistsError, content is the winner's), put_atomic
    overwrites, read of a missing key raises FileNotFoundError."""
    store = store_cls()
    p = str(tmp_path / "obj")
    with pytest.raises(FileNotFoundError):
        store.read(p)
    assert not store.exists(p)
    store.put_if_absent(p, "first")
    with pytest.raises(FileExistsError):
        store.put_if_absent(p, "second")
    assert store.read(p) == "first"
    store.put_atomic(p, "replaced")
    assert store.read(p) == "replaced"
    assert store.exists(p)


@pytest.fixture()
def http_store():
    """A live MiniObjectStoreServer + HttpLogStore adapter pair — the
    THIRD LogStore adapter (VERDICT r07 'do this' #4), talking real
    HTTP on loopback."""
    from newsmaper_etl_spark.objectstore import (
        HttpLogStore,
        MiniObjectStoreServer,
    )

    srv = MiniObjectStoreServer()
    try:
        yield srv, HttpLogStore(srv.url, backoff_s=0.01)
    finally:
        srv.close()


def test_commit_protocol_runs_on_http_object_store(spark, tmp_path, http_store):
    """The full append → read → history → stale-writer → race cycle of
    test_commit_protocol_runs_on_both_log_stores, through the HTTP
    conditional-put adapter: the log lives in the emulated bucket, data
    files stay on disk (the documented object-store split)."""
    srv, store = http_store
    prev = M.set_log_store(store)
    try:
        t = str(tmp_path / "http_t")
        M.append(values_df(spark, [(1, "a"), (2, "b")], ["id", "v"]), t)
        M.append(values_df(spark, [(3, "c")], ["id", "v"]), t)
        assert M.current_version(t) == 2
        got = sorted(r["id"] for r in M.read_table(spark, t).collect())
        assert got == [1, 2, 3]
        assert [h["op"] for h in M.history(t)] == ["append", "append"]
        with pytest.raises(M.ConcurrentWriteError):
            M._commit(t, base_version=1, files=[], op="append")
        files = M._load_manifest(t, 2)["files"]
        M._commit(t, base_version=2, files=files, op="append")
        with pytest.raises(FileExistsError):
            store.put_if_absent(M._manifest_path(t, 3), "{}")
        # the log really lives in the bucket, not on disk
        assert any("_manifests" in k for k in srv.objects)
        assert not os.path.exists(os.path.join(t, "_manifests", "v0000000001.json"))
    finally:
        M.set_log_store(prev)


def test_http_log_store_primitive_semantics(http_store):
    """Same primitive contract as the POSIX/in-memory stores: one-shot
    put_if_absent, overwriting put_atomic, FileNotFoundError reads."""
    _, store = http_store
    p = "tbl/_manifests/v1.json"
    with pytest.raises(FileNotFoundError):
        store.read(p)
    assert not store.exists(p)
    store.put_if_absent(p, "first")
    with pytest.raises(FileExistsError):
        store.put_if_absent(p, "second")
    assert store.read(p) == "first"
    store.put_atomic(p, "replaced")
    assert store.read(p) == "replaced"


def test_http_store_lost_put_response_is_not_a_lost_commit(
    spark, tmp_path, http_store
):
    """THE ambiguous-outcome failure mode of conditional writes: the
    claim PUT lands server-side but the response is lost. A naive
    adapter retries, sees 412 for its OWN manifest, and reports
    ConcurrentWriteError forever; this adapter must disambiguate by
    content read-back (claims are writer-unique — uuid'd batch dirs)
    and report the commit as WON, exactly once."""
    srv, store = http_store
    prev = M.set_log_store(store)
    try:
        t = str(tmp_path / "http_lost")
        M.append(values_df(spark, [(1, "a")], ["id", "v"]), t)
        srv.drop_put_responses(1)  # next PUT: applied, response lost
        M.append(values_df(spark, [(2, "b")], ["id", "v"]), t)
        assert M.current_version(t) == 2
        got = sorted(r["id"] for r in M.read_table(spark, t).collect())
        assert got == [1, 2]  # the ambiguous commit landed exactly once
    finally:
        M.set_log_store(prev)


def test_http_store_stale_latest_read_fails_loudly_not_corruptly(
    spark, tmp_path, http_store
):
    """Eventual-consistency window: a GET of `_LATEST` serves the
    previous version. The versioned-claim protocol must turn that into
    a loud ConcurrentWriteError (stale writer computes an
    already-claimed version), never a silent overwrite — and a retry
    once the read is fresh commits cleanly."""
    srv, store = http_store
    prev = M.set_log_store(store)
    try:
        t = str(tmp_path / "http_stale")
        M.append(values_df(spark, [(1, "a")], ["id", "v"]), t)
        M.append(values_df(spark, [(2, "b")], ["id", "v"]), t)
        srv.stale_reads(10)  # `_LATEST` GETs serve v1 for a while
        assert M.current_version(t) == 1  # the stale observation
        with pytest.raises(M.ConcurrentWriteError):
            # a writer acting on that stale snapshot targets v2 — the
            # conditional claim finds it taken and dies loudly
            M._commit(t, base_version=1, files=[], op="append")
        srv.stale_reads(0)  # consistency window over: retry commits
        M.append(values_df(spark, [(3, "c")], ["id", "v"]), t)
        got = sorted(r["id"] for r in M.read_table(spark, t).collect())
        assert got == [1, 2, 3]
        assert M.current_version(t) == 3
    finally:
        M.set_log_store(prev)


def test_http_store_transient_5xx_bounded_retry(spark, tmp_path, http_store):
    """503s that do NOT apply the write: the adapter retries with
    backoff and the commit succeeds; an outage longer than the retry
    budget surfaces as a ConnectionError, not a hang or a corrupt
    table."""
    srv, store = http_store
    prev = M.set_log_store(store)
    try:
        t = str(tmp_path / "http_5xx")
        srv.fail_puts(2)
        M.append(values_df(spark, [(1, "a")], ["id", "v"]), t)
        assert M.current_version(t) == 1
        from newsmaper_etl_spark.objectstore import HttpLogStore

        impatient = HttpLogStore(srv.url, max_retries=1, backoff_s=0.01)
        srv.fail_puts(10)
        with pytest.raises(ConnectionError):
            impatient.put_atomic("k", "v")
        srv.fail_puts(0)
    finally:
        M.set_log_store(prev)


def test_read_table_changes_rejects_invalid_versions(spark, tmp_path):
    """A caller passing a negative or never-committed version must get a
    distinct invalid-argument error, NOT the 'fell behind retention'
    misdiagnosis reserved for genuinely vacuumed ranges (ADVICE r06)."""
    t = str(tmp_path / "cdc")
    M.append(values_df(spark, [(1, "a")], ["id", "v"]), t)
    with pytest.raises(ValueError, match="not a committed version"):
        M.read_table_changes(spark, t, from_version=-1)
    with pytest.raises(ValueError, match="not a committed version"):
        M.read_table_changes(spark, t, from_version=7)
    with pytest.raises(ValueError, match="not a committed version"):
        M.read_table_changes(spark, t, from_version=0, to_version=9)
    # the valid empty range still works
    assert M.read_table_changes(spark, t, from_version=1).count() == 0


def test_prune_in_multi_point_file_skipping(spark, tmp_path):
    """prune_in=(col, values): keep only files whose footer range holds
    at least one value — the scattered-id candidate fetch. Files without
    stats are conservatively kept, and kept files may still need a row
    filter (ranges lie)."""
    t = str(tmp_path / "tpin")
    for lo in (0, 1000, 2000):
        M.append(
            values_df(
                spark, [(lo + i, f"r{lo + i}") for i in range(10)], ["id", "v"]
            ).coalesce(1),
            t, stat_cols=("id",),
        )
    all_files = M.read_table(spark, t).inputFiles()
    assert len(all_files) == 3
    # ids from the first and third file only
    pruned = M.read_table(spark, t, prune_in=("id", [3, 2004, 2007]))
    assert len(pruned.inputFiles()) == 2
    assert pruned.count() == 20  # conservative: whole kept files
    # a value set missing every range keeps nothing -> typed empty frame
    none = M.read_table(spark, t, prune_in=("id", [500, 1500]))
    assert none.count() == 0 and none.columns == ["id", "v"]
    # no stats for column -> conservatively keep all files
    unpruned = M.read_table(spark, t, prune_in=("nosuch", [1]))
    assert len(unpruned.inputFiles()) == 3


def test_prune_in_type_mismatch_keeps_conservatively(spark, tmp_path):
    """ADVICE r08 (manifest.py prune_in): partition path segments are
    int-coerced on record, so a STRING-typed partition column whose
    values look numeric probes as a type mismatch — raw set membership
    silently dropped the matching files (missing rows). The fix keeps
    on type mismatch, the same conservative contract as the stats
    branch; same-typed probes still prune."""
    t = str(tmp_path / "tpmix")
    df = values_df(
        spark, [("1", "a"), ("1", "b"), ("2", "c")], ["pk", "v"]
    )
    M.append(df, t, partition_by=("pk",))
    # recorded partition values are ints (path coercion); probing with
    # the column's TRUE string values must not drop the files
    got = M.read_table(spark, t, prune_in=("pk", ["1"]))
    assert got.filter(F.col("pk") == "1").count() == 2
    # int probes (matching the recorded coercion) still prune exactly
    only1 = M.read_table(spark, t, prune_in=("pk", [1]))
    assert {r["v"] for r in only1.collect()} == {"a", "b"}
    assert M.read_table(spark, t, prune_in=("pk", [3])).count() == 0


def test_prune_in_mixed_and_null_probe_values(spark, tmp_path):
    """ADVICE r08: None-containing or mixed-type probe lists must not
    raise from sorted(); footer pruning degrades to conservative keeps
    instead."""
    t = str(tmp_path / "tpnull")
    for lo in (0, 1000):
        M.append(
            values_df(
                spark, [(lo + i, f"r{lo + i}") for i in range(5)], ["id", "v"]
            ).coalesce(1),
            t, stat_cols=("id",),
        )
    # None rides along without a TypeError; the real value still prunes
    got = M.read_table(spark, t, prune_in=("id", [3, None]))
    assert len(got.inputFiles()) == 1 and got.count() == 5
    # mixed incomparable types: pruning disabled, all files kept
    got = M.read_table(spark, t, prune_in=("id", [3, "x"]))
    assert len(got.inputFiles()) == 2
