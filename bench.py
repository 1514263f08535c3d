#!/usr/bin/env python
"""Benchmark harness: run every declared query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "duckdb_sec": {name: sec}, "sf": ...}.

Methodology:

- each Spark query is fully evaluated via the noop sink (computes every
  projected column, writes nothing) — count() alone would let Catalyst
  prune the work. collect()/toPandas() were measured and rejected:
  collect row-pickles large results (q_math_round 0.70→5.1 s), toPandas
  hits slow Arrow conversions on map/struct outputs, and the matching
  DuckDB .df() methodology speeds the denominator more (corpus totals:
  noop write 49.2 s, collect 61.6 s, toPandas 56.3 s; DuckDB fetchall
  10.9 → df 8.8 s — ``git show f59449b:ROUND5_NOTES.md`` §1);
- one untimed FULL-CORPUS warmup pass precedes timing (JMH-style): C2
  keeps compiling for minutes, and alphabetically-early queries were
  otherwise absorbing the warm-up tax (0.26 vs 0.08 s for the same
  floor query first-vs-later in one process);
- BEST-OF-N per query (default 3, $SPARK_GRAFT_BENCH_REPEAT): single-shot
  numbers on a contended rig were 10-20x inflated in round 1
  (q_dedup_keep_first 16.7s recorded vs 0.98s isolated); fast queries
  get extra repeats (up to 5 while the best sits under 100 ms), and a
  CONVERGENCE GUARD keeps sampling (≤8) while the two best samples
  disagree >30% — min-of-N only rejects a stall if one sample lands
  outside it;
- a SECOND-CHANCE pass re-times the worst 12 entries of BOTH engines
  after the main loops (stalls are transient; re-visiting minutes later
  de-noises exactly the entries that dominate the totals — and doing it
  for DuckDB too keeps an inflated denominator from flattering the
  ratio);
- the per-query machinery floor (job submission + scheduling + V2
  commit, measured as a best-of-7 noop write of range(1), min of a
  before/after probe) is reported as "sched_floor_sec" with
  "ratio_excl_floor" = (shared − n·floor)/duck, making the
  machinery-vs-compute split auditable per record — the raw
  ratio_vs_duckdb stays the headline gate number; "arrow_floor_sec"
  (a 1-row mapInPandas noop, ~0.19 s) discloses the same for the
  Python/Arrow-stage queries, which pay a worker handshake the JVM
  floor doesn't capture;
- the DuckDB oracle runs the SAME workload in-process (fetchall = full
  materialization), also best-of-N, so the gate ratio is computable from
  this file's output alone. A fixed probe query is timed at the start
  and the end ("duckdb_drift") so a contended rig is visible in the
  record instead of silently skewing ratio_vs_duckdb;
- failed queries are counted and surfaced ("failed": n, names in
  "failed_queries") instead of silently shrinking the total — a
  regression must not read as a speedup;
- a PER-QUERY DRIFT GUARD (VERDICT r13 'what's wrong' #2: q17/q18/q19
  jumped ~3x at sf1.0 in one best-of-2 run on unchanged code and the
  suspect numbers became the canonical record) compares each timing
  against the prior record for the SAME sf (auto-discovered next to
  this file, or $SPARK_GRAFT_BENCH_PRIOR): entries >2.5x the prior AND
  >0.3 s absolute get one more re-time round, and whatever still
  exceeds the bound is recorded in box.drift_suspects — a transient
  heals itself, a real regression is named in the record it ships in;
- stdout gets ONE JSON line: totals, the gate ratio, the drift probe,
  failure names, and the FULL per-query (spark_sec, duckdb_sec) map
  under "queries" (VERDICT r15 'do this' #2 — the r04-era worst-10
  truncation hedge left the driver's PERF comparison with per_query={}
  and n_common=0 two rounds running; the line is printed last so a
  front-truncating capture keeps it whole, ~8 KB compact).
  BENCH_LOCAL.json next to this file remains the on-disk record.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

import pandas as pd

from pyspark.sql import functions as F

from newsmaper_etl_spark.session import get_spark
from newsmaper_etl_spark.registry import QUERIES, _ensure_loaded

#: extra repeats while a query's best stays under this many seconds
FAST_CUTOFF = 0.1
FAST_REPEAT = 5

DRIFT_PROBE = "SELECT COUNT(*), SUM(l_extendedprice) FROM lineitem"

#: Queries whose DuckDB oracle is BY CONSTRUCTION far more expensive
#: than the workload (a recursive-CTE re-implementation of an iterative
#: algorithm, a composed multi-stage mega-oracle) — their denominator
#: seconds flatter the headline ratio without saying anything about
#: engine speed. The record carries ratio_excl_oracle_artifacts
#: computed WITHOUT them so the disclosure lives in the parsed record,
#: not prose (VERDICT r14 'what's wrong' #4). The raw ratio_vs_duckdb
#: stays the headline gate number.
ORACLE_ARTIFACTS = ("q_bpe_merge_rank", "q_curate_selected_planted")


def evaluate(df) -> None:
    # append, not overwrite: the overwrite path adds a truncate
    # round-trip before the write job (~20 ms per call, measured
    # best/median 0.103/0.131 vs 0.085/0.125 on a floor query) with no
    # difference in what is evaluated — noop discards rows either way
    df.write.format("noop").mode("append").save()


#: keep sampling (up to this many runs) while the two best samples
#: disagree by >30% — a contention stall on this rig can cover all of a
#: query's consecutive base repeats (observed: q_rollup 0.57 s recorded
#: vs 0.006 s typical), and min-of-N only rejects noise if at least one
#: sample landed outside the stall window. Overridable for big-SF
#: rehearsal runs, where re-sampling a 60 s query 8× is the budget:
#: SPARK_GRAFT_BENCH_CONVERGE=1 disables the guard.
CONVERGE_MAX = int(os.environ.get("SPARK_GRAFT_BENCH_CONVERGE", "8"))


def _best(fn, repeat: int) -> float | None:
    """Best-of-N with extra repeats for sub-cutoff results and a
    convergence guard against whole-window contention stalls."""
    samples: list[float] = []
    while True:
        t0 = time.perf_counter()
        fn()
        samples.append(time.perf_counter() - t0)
        n = len(samples)
        if n < repeat:
            continue
        s = sorted(samples)
        if s[0] < FAST_CUTOFF and n < FAST_REPEAT:
            continue
        # convergence needs two samples to compare; a repeat=1 run
        # (SPARK_GRAFT_BENCH_REPEAT=1) legitimately has only one
        if n < CONVERGE_MAX and len(s) > 1 and s[1] > s[0] * 1.3:
            continue
        return s[0]


#: pre-flight contention gate: the in-process DuckDB drift probe is a
#: pure-CPU benchmark needing no JVM, so it is a cheap read of BOX
#: STATE before the expensive run commits to a record. r9's record was
#: taken on a box with doubled floors and the round argued about which
#: number was real; r10's 2.31→2.54 swing was a run that STARTED with
#: the drift probe 27% over baseline. If the probe exceeds
#: _PREFLIGHT_MAX_RATIO × the healthy baseline, sleep and re-probe
#: (bounded) before starting; the attempts are recorded in the box
#: block either way.
_PREFLIGHT_BASELINE_SEC = 0.0121  # the r8-record healthy-box probe
#: ``lineitem`` rows of the corpus that baseline was taken on (sf0.1):
#: the probe scans lineitem, so only that corpus can be compared to it
_PREFLIGHT_LINEITEM_ROWS = 600_000
_PREFLIGHT_MAX_RATIO = 1.35
_PREFLIGHT_RETRIES = 4
_PREFLIGHT_SLEEP_SEC = 45


def _preflight(sf_dir: str) -> dict:
    """The pre-flight on the baseline's own corpus, recognized by its
    ``lineitem`` footer row count (no Spark job), whatever the directory
    is called. Any other corpus skips it: its probe scales with the data
    and would always (or never) read "contended"."""
    from newsmaper_etl_spark.io import table_rows

    if table_rows(sf_dir, "lineitem") != _PREFLIGHT_LINEITEM_ROWS:
        return {"probes": [], "ratio": None, "contended": None}
    return _probe_box(sf_dir)


def _probe_box(sf_dir: str) -> dict:
    from newsmaper_etl_spark.oracle import duckdb_conn

    con = duckdb_conn(sf_dir)
    con.execute(DRIFT_PROBE).fetchall()  # warm the parquet readers
    probes = []
    for attempt in range(_PREFLIGHT_RETRIES + 1):
        best = None
        for _ in range(3):
            t0 = time.perf_counter()
            con.execute(DRIFT_PROBE).fetchall()
            dt = time.perf_counter() - t0
            best = dt if best is None or dt < best else best
        probes.append(round(best, 4))
        if best <= _PREFLIGHT_MAX_RATIO * _PREFLIGHT_BASELINE_SEC:
            break
        if attempt < _PREFLIGHT_RETRIES:
            time.sleep(_PREFLIGHT_SLEEP_SEC)
    con.close()
    return {
        "probes": probes,
        "ratio": round(probes[-1] / _PREFLIGHT_BASELINE_SEC, 2),
        "contended": probes[-1] > _PREFLIGHT_MAX_RATIO * _PREFLIGHT_BASELINE_SEC,
    }


#: per-query drift bound vs the prior same-sf record: relative AND
#: absolute, so sub-floor queries (0.02 → 0.06 s) don't page anyone
_DRIFT_FACTOR = 2.5
_DRIFT_MIN_ABS_SEC = 0.3


def _load_prior(sf: float, here: str) -> dict[str, float]:
    """Prior per-query timings for the same sf, for the drift guard.
    $SPARK_GRAFT_BENCH_PRIOR overrides; otherwise the records next to
    this file are searched for a matching-sf full record."""
    explicit = os.environ.get("SPARK_GRAFT_BENCH_PRIOR")
    names = ["BENCH_LOCAL.json", "BENCH_SF1.json", "BENCH_SF3.json",
             "BENCH_SF10.json"]
    paths = [explicit] if explicit else [os.path.join(here, n) for n in names]
    for p in paths:
        if not p or not os.path.exists(p):
            continue
        try:
            with open(p) as f:
                rec = json.load(f)
        except (OSError, ValueError):
            continue
        qs = rec.get("queries")
        if abs(float(rec.get("sf", -2.0)) - sf) < 1e-9 and isinstance(qs, dict):
            return {
                k: float(v) for k, v in qs.items()
                if isinstance(v, (int, float)) and v >= 0
            }
    return {}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    preflight = _preflight(sf_dir)
    from newsmaper_etl_spark.io import is_toy

    # the scale factor is a record label only (prior-record matching and
    # the written record); every physical choice below follows is_toy
    m = re.search(r"sf([0-9]+(?:\.[0-9]+)?)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    repeat = int(os.environ.get("SPARK_GRAFT_BENCH_REPEAT", "3"))

    _ensure_loaded()
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    # Shuffle partitions sized to the benchmark scale, mirroring
    # io._tune_session. Fair fresh-process A/B (full-corpus warmup, one
    # JVM per variant) puts local[8..32] × 4..8 partitions within 3% of
    # each other at sf0.1 — the per-query floor is planning+scheduling,
    # not task width — so the only conf pinned here is the partition
    # count; executor width stays at the machine's.
    small = is_toy(sf_dir)
    spark = get_spark(
        app_name="newsmaper-bench",
        shuffle_partitions=4 if small else cpus,
    )
    if small:
        # Toy-SF physical switch (SCALE.md §Toy-SF physical switches):
        # AQE's per-stage re-optimization buys nothing at 4 shuffle
        # partitions over MB-scale data and costs a re-plan round per
        # stage — measured −16 % on a 13-query basket at sf0.1 (5.73 →
        # 4.83 s; biggest on multi-stage contract pipelines,
        # q_semantic_dedup_planted 1.40 → 1.00 s). Physical-only: plans
        # stay semantically identical, and the 100 TB posture keeps AQE
        # ON (skew-join splitting + partition coalescing are
        # load-bearing at real SF).
        spark.conf.set("spark.sql.adaptive.enabled", "false")

    # warmup: JVM + codegen + parquet footer caches
    evaluate(QUERIES["q_star_join"].fn(spark, sf_dir))
    # one untimed pass over the whole corpus (JMH-style warmup
    # iteration): C2 JIT keeps compiling scheduler/codegen paths for
    # minutes, so whichever queries ran first were absorbing the
    # warm-up tax — measured 0.26 vs 0.08 s for the same floor query
    # first-vs-later in one process. Exceptions are ignored here; the
    # timed loop below still surfaces them as failures.
    # SPARK_GRAFT_BENCH_WARMUP=0 skips the full sweep for big-SF
    # rehearsal runs, where doubling a multi-minute corpus pass buys
    # per-query polish the rehearsal doesn't need (queries there are
    # seconds-long — scheduling jitter is relatively negligible).
    if os.environ.get("SPARK_GRAFT_BENCH_WARMUP", "1") != "0":
        for _warm_name in sorted(QUERIES):
            try:
                evaluate(QUERIES[_warm_name].fn(spark, sf_dir))
            except Exception:  # noqa: BLE001
                pass
    # prewarm the Python worker pool: a cold worker boots in ~10s+ on this
    # rig and local[N] launches N at once; pay that once, outside timings
    # (workers are reused afterwards — spark.python.worker.reuse default)
    @F.pandas_udf("double")
    def _warm(s: pd.Series) -> pd.Series:
        return s * 1.0

    evaluate(
        spark.range(0, cpus * 100, 1, cpus).select(_warm(F.col("id").cast("double")))
    )

    # Self-measured per-query machinery floor: the cheapest possible
    # evaluation (noop write of a one-row, one-partition range) carries
    # everything a query pays regardless of its plan — job submission,
    # DAG scheduling, task launch, V2 write commit. DuckDB's equivalent
    # is ~1 ms in-process. Reported alongside the raw ratio as
    # ratio_excl_floor = (shared − n·floor)/duck so the machinery-vs-
    # compute split is visible in the record (tools/profile_floor.py
    # decomposes it: ~0.04 s py4j plan building + ~0.03 s job round-trip
    # + ~0.04 s V2-write/AQE stage per query at sf0.1). The raw
    # ratio_vs_duckdb remains the headline gate number.
    tiny = spark.range(1)
    floor_sec = _best(lambda: evaluate(tiny), 7) or 0.0

    # The Arrow-stage floor: a 1-row mapInPandas noop costs ~0.19 s on
    # this rig vs ~0.06 s for the JVM noop — Python-worker handshake +
    # Arrow stream setup that every mapInPandas/pandas_udf query (the 10
    # media contracts, the UDF-parity queries) pays per invocation
    # REGARDLESS of row count. Disclosed alongside sched_floor_sec so
    # the machinery-vs-compute split stays auditable for the Arrow
    # family too; not subtracted from any gate number.
    def _arrow_noop(df):
        def _id(it):
            for pdf in it:
                yield pdf
        return df.mapInPandas(_id, schema="id long")

    arrow_tiny = _arrow_noop(spark.range(1))
    arrow_floor_sec = _best(lambda: evaluate(arrow_tiny), 7) or 0.0

    timings: dict[str, float] = {}
    failed: list[str] = []
    for name in sorted(QUERIES):
        try:
            best = _best(
                lambda: evaluate(QUERIES[name].fn(spark, sf_dir)), repeat
            )
        except Exception as e:  # noqa: BLE001 — a failing query must not kill the bench
            print(f"bench: {name} FAILED: {e}", file=sys.stderr)
            best = None
        if best is None:
            timings[name] = -1.0
            failed.append(name)
        else:
            timings[name] = round(best, 3)

    # Second-chance pass: a contention stall can inflate a query even
    # through the convergence guard (all ≤8 samples inside the stall
    # window). Stalls are transient, so re-timing the worst entries
    # minutes later and keeping the min de-noises exactly the entries
    # that dominate the total. Same treatment for DuckDB below — an
    # inflated denominator would flatter the ratio just as dishonestly.
    retry = sorted(
        (n for n in timings if timings[n] >= 0),
        key=lambda n: timings[n], reverse=True,
    )[:12]
    for name in retry:
        try:
            again = _best(
                lambda: evaluate(QUERIES[name].fn(spark, sf_dir)), repeat
            )
        except Exception:  # noqa: BLE001
            continue
        if again is not None and again < timings[name]:
            timings[name] = round(again, 3)

    # Drift guard: anything far above its prior same-sf record gets one
    # more re-time round NOW (transients heal); survivors are named in
    # box.drift_suspects below so a suspect number can never silently
    # become the canonical record again.
    here = os.path.dirname(os.path.abspath(__file__))
    prior = _load_prior(sf, here)

    def _drifted(n: str) -> bool:
        t = timings.get(n, -1.0)
        return (
            t >= 0
            and n in prior
            and t > _DRIFT_FACTOR * prior[n]
            and t - prior[n] > _DRIFT_MIN_ABS_SEC
        )

    for name in [n for n in timings if _drifted(n)]:
        try:
            again = _best(
                lambda: evaluate(QUERIES[name].fn(spark, sf_dir)), repeat
            )
        except Exception:  # noqa: BLE001
            continue
        if again is not None and again < timings[name]:
            timings[name] = round(again, 3)
    drift_suspects = {
        n: [timings[n], prior[n]] for n in sorted(timings) if _drifted(n)
    }

    # DuckDB side: identical workload for every oracle-bearing query
    duck: dict[str, float] = {}
    drift: list[float] = []
    try:
        from newsmaper_etl_spark.oracle import duckdb_conn

        con = duckdb_conn(sf_dir)
        t0 = time.perf_counter()
        con.execute(DRIFT_PROBE).fetchall()
        drift.append(round(time.perf_counter() - t0, 4))
        for name in sorted(QUERIES):
            sql = QUERIES[name].oracle
            if sql is None:
                continue
            try:
                best = _best(lambda: con.execute(sql).fetchall(), repeat)
                duck[name] = round(best, 4)
            except Exception as e:  # noqa: BLE001
                print(f"bench: duckdb {name} FAILED: {e}", file=sys.stderr)
        # symmetric second-chance pass for the oracle engine
        for name in sorted(duck, key=lambda n: duck[n], reverse=True)[:12]:
            sql = QUERIES[name].oracle
            try:
                again = _best(lambda: con.execute(sql).fetchall(), repeat)
            except Exception:  # noqa: BLE001
                continue
            if again is not None and again < duck[name]:
                duck[name] = round(again, 4)
        t0 = time.perf_counter()
        con.execute(DRIFT_PROBE).fetchall()
        drift.append(round(time.perf_counter() - t0, 4))
        con.close()
    except Exception as e:  # noqa: BLE001
        print(f"bench: duckdb side unavailable: {e}", file=sys.stderr)

    # re-probe the machinery floor now that everything is fully warm and
    # take the min — a contention stall during the early probe otherwise
    # poisons ratio_excl_floor for the whole record (observed 0.119 s
    # vs the 0.02 s typical)
    floor_sec = min(floor_sec, _best(lambda: evaluate(tiny), 7) or floor_sec)

    total = round(sum(t for t in timings.values() if t >= 0), 3)
    shared = [n for n in duck if timings.get(n, -1) >= 0]
    duck_total = round(sum(duck[n] for n in shared), 3)
    spark_shared = round(sum(timings[n] for n in shared), 3)
    excess = round(
        sum(max(timings[n] - floor_sec, 0.0) for n in shared), 3
    )
    out = {
        "metric": f"declared-query wall clock (noop sink, warm JVM, best of {repeat})",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "failed": len(failed),
        "failed_queries": failed,
        "duckdb_sec": duck,
        "duckdb_total": duck_total,
        "duckdb_drift": drift,
        "spark_total_shared": spark_shared,
        "ratio_vs_duckdb": round(spark_shared / duck_total, 2) if duck_total else None,
        "sched_floor_sec": round(floor_sec, 4),
        "arrow_floor_sec": round(arrow_floor_sec, 4),
        "spark_excess_shared": excess,
        "ratio_excl_floor": round(excess / duck_total, 2) if duck_total else None,
    }
    # the same totals with the oracle-artifact queries removed from
    # BOTH sides — the harness-computed form of the "~1.59 excluding
    # the two artifact queries" disclosure (VERDICT r14 #4)
    core = [n for n in shared if n not in ORACLE_ARTIFACTS]
    duck_core = round(sum(duck[n] for n in core), 3)
    spark_core = round(sum(timings[n] for n in core), 3)
    out["oracle_artifacts"] = [n for n in shared if n in ORACLE_ARTIFACTS]
    out["ratio_excl_oracle_artifacts"] = (
        round(spark_core / duck_core, 2) if duck_core else None
    )
    # Box-state canary (VERDICT r09 'do this' #1b/#2): the r9 record was
    # taken on a degraded box (sched/arrow floors ~2x the r8 baseline,
    # DuckDB unaffected) and the round argued about which number was
    # real. Every record now carries the floor baseline it is judged
    # against and a degraded verdict, so a reader can see box state IN
    # the record instead of reconstructing it from A/B notes. Baseline
    # RE-CALIBRATED r15 (VERDICT r14 'do this' #8): the r8 floors
    # (0.0132/0.2385) predate the box reboot, and every post-reboot run
    # read 1.2-2.8x against them — "degraded" had stopped meaning
    # contention. New baseline = the r14 record's healthy post-reboot
    # run (preflight 0.89, drift_suspects empty).
    _FLOOR_BASELINE = {"sched": 0.0155, "arrow": 0.2911}
    # core count the run was taken at (the driver also re-runs the bench
    # at lower SPARK_GRAFT_CPUS to measure scaling; records from
    # different widths must not be comparable-by-accident in the
    # append-only history)
    out["cpus"] = cpus
    out["box"] = {
        "preflight": preflight,
        "floor_baseline_sec": _FLOOR_BASELINE,
        "sched_floor_ratio": round(floor_sec / _FLOOR_BASELINE["sched"], 2),
        "arrow_floor_ratio": round(
            arrow_floor_sec / _FLOOR_BASELINE["arrow"], 2
        ),
        "degraded": bool(
            floor_sec > 1.5 * _FLOOR_BASELINE["sched"]
            or arrow_floor_sec > 1.5 * _FLOOR_BASELINE["arrow"]
        ),
        "drift_suspects": drift_suspects,
        "utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    try:
        # BENCH_LOCAL.json is THE current record (single source of
        # truth); every run also appends its summary to the append-only
        # BENCH_HISTORY.jsonl so conflicting snapshots can't coexist as
        # two "current" records again (VERDICT r09 'do this' #2)
        with open(os.path.join(here, "BENCH_LOCAL.json"), "w") as f:
            json.dump(out, f, indent=1)
        hist = {k: v for k, v in out.items() if k not in ("queries", "duckdb_sec")}
        with open(os.path.join(here, "BENCH_HISTORY.jsonl"), "a") as f:
            f.write(json.dumps(hist, separators=(",", ":")) + "\n")
    except OSError:
        pass

    # stdout: one summary line, printed LAST so a front-truncating
    # capture still keeps it whole. "queries" carries the FULL
    # per-query [spark_s, duck_s] map (VERDICT r15 'do this' #2: the
    # worst-10-only map left PERF with per_query={} and n_common=0 two
    # rounds running — the driver parses THIS line, not
    # BENCH_LOCAL.json, so per-query regression and scaling ratios
    # were uncomputable). Spark-only queries carry null for duck_s;
    # failures carry -1 spark_s. ~8 KB compact JSON; BENCH_LOCAL.json
    # stays the duplicate-of-record.
    summary = {
        "metric": out["metric"],
        "value": total,
        "unit": "sec",
        "sf": sf,
        "cpus": cpus,
        "n_queries": len(timings),
        "n_shared": len(shared),
        "failed": len(failed),
        "failed_queries": failed,
        "spark_total_shared": spark_shared,
        "duckdb_total": duck_total,
        "ratio_vs_duckdb": out["ratio_vs_duckdb"],
        "sched_floor_sec": out["sched_floor_sec"],
        "arrow_floor_sec": out["arrow_floor_sec"],
        "spark_excess_shared": excess,
        "ratio_excl_floor": out["ratio_excl_floor"],
        "oracle_artifacts": out["oracle_artifacts"],
        "ratio_excl_oracle_artifacts": out["ratio_excl_oracle_artifacts"],
        "duckdb_drift": drift,
        "box": out["box"],
        "queries": {n: [timings[n], duck.get(n)] for n in sorted(timings)},
        "full_record": "BENCH_LOCAL.json",
    }
    print(json.dumps(summary, separators=(",", ":")))


if __name__ == "__main__":
    main()
