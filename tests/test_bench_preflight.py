"""bench.py's contention pre-flight runs on the corpus its baseline was
taken on, recognized by the ``lineitem`` footer row count — not by the
directory's name."""

from __future__ import annotations

import importlib.util
import os

import pyarrow as pa
import pyarrow.parquet as pq

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bench():
    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(_ROOT, "bench.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _corpus(path, rows: int) -> str:
    path.mkdir()
    pq.write_table(pa.table({"l_orderkey": pa.array(range(rows),
                                                    pa.int64())}),
                   str(path / "lineitem.parquet"))
    return str(path)


def test_preflight_follows_lineitem_rows_not_the_dir_name(tmp_path,
                                                          monkeypatch):
    bench = _bench()
    probed = []
    monkeypatch.setattr(bench, "_probe_box",
                        lambda sf_dir: probed.append(sf_dir) or {"ok": 1})
    gate = _corpus(tmp_path / "renamed_gate_corpus",
                   bench._PREFLIGHT_LINEITEM_ROWS)
    assert bench._preflight(gate) == {"ok": 1}
    assert probed == [gate]

    other = _corpus(tmp_path / "sf0.1", 6_000)
    assert bench._preflight(other) == {
        "probes": [], "ratio": None, "contended": None}
    assert probed == [gate]
