"""Unit coverage for the scale posture in io.py: ``is_toy`` decides from
bytes on disk (never from a directory's name), ``table_rows`` counts
from parquet footers, and _tune_session keeps a user's conf. The
two-sided equivalence of the plans that branch on the posture is in
test_plans.py::test_posture_forks_agree."""

from __future__ import annotations

import os
import shutil

import pytest

from newsmaper_etl_spark import io as io_mod


def _sized_corpus(root, **table_bytes):
    """A corpus directory of sparse ``<table>.parquet`` files of the
    given sizes (``os.truncate``: nothing is written)."""
    root.mkdir()
    for name, size in table_bytes.items():
        path = root / f"{name}.parquet"
        path.touch()
        os.truncate(path, size)
    return root


def test_is_toy_reads_bytes_not_names(tmp_path):
    big = _sized_corpus(tmp_path / "sf0.001", region=2_000,
                        lineitem=40 * 2**20)
    small = _sized_corpus(tmp_path / "sf100", region=2_000,
                          lineitem=io_mod.SMALL_TABLE_BYTES)
    assert not io_mod.is_toy(str(big))  # one 40 MiB table is enough
    assert io_mod.is_toy(str(small))    # at the threshold is still small
    # a directory table counts its part files together
    parted = tmp_path / "parted"
    parted.mkdir()
    _sized_corpus(parted / "lineitem.parquet", a=20 * 2**20, b=20 * 2**20)
    assert not io_mod.is_toy(str(parted))
    # no table at all: the conservative 100 TB posture
    assert not io_mod.is_toy(str(tmp_path / "missing"))
    # a renamed copy gets the same answer as the original
    for d in (big, small):
        before = io_mod.is_toy(str(d))
        moved = d.rename(tmp_path / f"renamed-{d.name}")
        assert io_mod.is_toy(str(moved)) == before


@pytest.mark.parametrize("corpus", ["sf0.001", "sf0.1"])
def test_is_toy_same_on_renamed_and_symlinked_testdata(tmp_path, sf_dir, corpus):
    orig = os.path.join(os.path.dirname(sf_dir), corpus)
    if not os.path.isdir(orig):
        pytest.skip(f"{orig} is absent")
    linked = tmp_path / "production"
    os.symlink(orig, linked)
    renamed = tmp_path / "renamed"
    renamed.mkdir()
    for f in os.listdir(orig):
        os.symlink(os.path.join(orig, f), renamed / f)
    want = io_mod.is_toy(orig)
    assert want  # both gate corpora are small
    assert io_mod.is_toy(str(linked)) == want
    assert io_mod.is_toy(str(renamed)) == want
    if corpus == "sf0.001":
        copied = shutil.copytree(orig, tmp_path / "copy")
        assert io_mod.is_toy(str(copied)) == want


def test_table_rows_matches_spark_count(spark, sf_dir):
    emb = io_mod.load_table(spark, sf_dir, "embeddings")
    assert io_mod.table_rows(sf_dir, "embeddings") == emb.count()


def test_tune_session_keeps_user_threshold(spark):
    """The 'a value set by the user is theirs to keep' guard: a
    non-default broadcast threshold must survive _tune_session."""
    prev_flag = getattr(spark, "_newsmaper_tuned", False)
    prev_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "5m")
        spark._newsmaper_tuned = False
        io_mod._tune_session(spark, "/root/testdata/sf0.001")
        assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == "5m"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thr)
        spark._newsmaper_tuned = prev_flag
