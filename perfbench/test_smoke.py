"""Smoke test of the benchmark itself, at the smallest input sizes.

    python3 -m pytest perfbench/test_smoke.py -q     (from the repo root)

For each workload: a traced run must report every per-layer metric with
its unit and a correct verdict, and an untraced run whose expected
answers are deliberately corrupted must report every end-to-end metric
with its unit and a nonzero error rate. Four engine sessions, a few
minutes in all.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import END_TO_END, PER_LAYER  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def bench(tmp_path, workload: str, trace: int, *extra: str) -> dict:
    out = tmp_path / f"{workload}-{trace}.json"
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", str(trace),
         "--size", "tiny", "--out", str(out), *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_spec_names_what_the_harness_reports():
    assert {w["name"] for w in SPEC["workloads"]} == {"ingest", "query_mix"}
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == PER_LAYER


@pytest.mark.parametrize("workload", ["ingest", "query_mix"])
def test_traced_run_reports_every_layer_metric(tmp_path, workload):
    res = bench(tmp_path, workload, 1)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert {k: v["unit"] for k, v in res["metrics"].items()} == PER_LAYER
    assert all(isinstance(v["value"], (int, float))
               for v in res["metrics"].values())


@pytest.mark.parametrize("workload", ["ingest", "query_mix"])
def test_corrupted_answer_counts_as_error(tmp_path, workload):
    res = bench(tmp_path, workload, 0, "--corrupt-expected")
    assert {k: v["unit"] for k, v in res["metrics"].items()} == END_TO_END
    # failed operations process no items; query_mix writes nothing, so
    # its disk figure is its input's and not checked here; everything
    # else is measured
    skip = {"items_per_s"} | ({"disk_bytes_per_row"}
                              if workload == "query_mix" else set())
    assert all(v["value"] > 0 for k, v in res["metrics"].items()
               if k not in skip)
    assert not res["correct"]
    assert 0 < res["failed"] <= res["attempted"]
