"""newsforge benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 5 --trace 0

Run from the repository root. Workloads (see workloads.py):

    ingest     one ingest cycle per operation: an RSS round through the
               reference DAG (pipeline → anti-join append → keep-first
               rewrite → date read), then one exact + MinHash-gated
               streaming micro-batch
    query_mix  one registered query per operation, noop sink

Every invocation starts the engine's session on ``local[nproc]``,
generates its inputs from ``--seed`` under a working directory inside
the checkout, warms up, runs operations in a closed loop with one client
until ``--seconds`` of wall time have passed and the workload's minimum
number of operations is done (query_mix also finishes its current
pass), checks every operation's result against the generator's answer,
stops the session and removes the working directory.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
traced and untraced operations: the traced ones record spans around
every layer call and are followed by untimed layer probes; the per-layer
metrics come from them, and ``trace.overhead_ratio`` is the traced over
the untraced median operation latency.

The last stdout line is one JSON object:
``{"correct": bool, "attempted": n, "failed": n, "metrics": {name:
{"value": v, "unit": u}}}``. A human-readable block precedes it. The
full record (environment, per-operation latencies, spans) is written to
``perfbench/out/<workload>-seed<seed>-trace<t>.json``.

Exit codes: 0 after a completed run (whatever the verdict), 2 when the
engine cannot be imported (e.g. outside a full checkout), 1 on any
other harness failure.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s", "op_p50_s": "s", "op_tail_s": "s", "items_per_s": "1/s",
    "peak_rss_mb": "MB", "disk_bytes_per_row": "B/row",
}

#: per-layer metric → unit. Values a workload does not exercise are 0.
PER_LAYER = {
    "session.start_s": "s", "session.sched_floor_s": "s",
    "session.arrow_floor_s": "s", "session.stderr_error_lines": "count",
    "sources.rss.build_s": "s", "sources.rss.read_s": "s",
    "sources.rss.feeds": "count", "sources.rss.items": "count",
    "operators.newsmaper.build_s": "s", "operators.newsmaper.exec_s": "s",
    "operators.newsmaper.novel_ratio": "ratio",
    "sinks.append_s": "s", "sinks.append_useful_ratio": "ratio",
    "sinks.rewrite_dedup_s": "s", "sinks.read_for_dates_s": "s",
    "manifest.read_table_s": "s", "manifest.append_s": "s",
    "manifest.overwrite_s": "s", "manifest.compact_s": "s",
    "manifest.versions": "count", "manifest.data_files": "count",
    "manifest.commit_retries": "count",
    "keyindex.bootstrap_s": "s", "keyindex.gate_build_s": "s",
    "keyindex.index_append_s": "s", "keyindex.compact_s": "s",
    "keyindex.index_bytes": "B", "keyindex.index_files": "count",
    "keyindex.exact_drop_ratio": "ratio", "keyindex.near_recall": "ratio",
    "streaming.trigger_s": "s", "streaming.add_batch_s": "s",
    "streaming.query_planning_s": "s", "streaming.wal_commit_s": "s",
    "streaming.reads_per_input_row": "ratio",
    "io.cached_bytes": "B",
    "spark.analysis_s": "s", "spark.optimization_s": "s",
    "spark.planning_s": "s", "spark.jobs": "count", "spark.stages": "count",
    "spark.tasks": "count", "spark.input_bytes": "B",
    "spark.shuffle_read_bytes": "B", "spark.shuffle_write_bytes": "B",
    "spark.executor_run_s": "s", "spark.gc_s": "s",
    "oracle.duckdb_s": "s", "oracle.geomean_ratio": "ratio",
    "oracle.n_over_2x": "count", "oracle.mismatches": "count",
    "trace.overhead_ratio": "ratio",
}
#: the plans/ modules query_mix draws from (see workloads.QUERY_MIX)
PLAN_MODULES = ("aggregates", "curation", "extensions", "relational",
                "sketches", "tpch", "windows")
for _m in PLAN_MODULES:
    PER_LAYER[f"plans.{_m}.build_s"] = "s"
    PER_LAYER[f"plans.{_m}.exec_s"] = "s"
#: layers whose self time (span time minus nested spans) is reported
SELF_LAYERS = ("sources.rss", "operators.newsmaper", "sinks", "manifest",
               "keyindex", "plans", "op")
for _l in SELF_LAYERS:
    PER_LAYER[f"{_l}.self_s"] = "s"

#: span name → per-layer metric (median over traced ops that made it)
SPAN_METRICS = {
    "sources.rss.build": "sources.rss.build_s",
    "operators.newsmaper.build": "operators.newsmaper.build_s",
    "sinks.append": "sinks.append_s",
    "sinks.rewrite_dedup": "sinks.rewrite_dedup_s",
    "sinks.read_for_dates": "sinks.read_for_dates_s",
    "manifest.read_table": "manifest.read_table_s",
    "manifest.append": "manifest.append_s",
    "manifest.overwrite": "manifest.overwrite_s",
    "manifest.compact": "manifest.compact_s",
    "keyindex.bootstrap": "keyindex.bootstrap_s",
    "keyindex.gate_build": "keyindex.gate_build_s",
    "keyindex.index_append": "keyindex.index_append_s",
    "keyindex.compact": "keyindex.compact_s",
}
for _m in PLAN_MODULES:
    SPAN_METRICS[f"plans.{_m}.build"] = f"plans.{_m}.build_s"
    SPAN_METRICS[f"plans.{_m}.exec"] = f"plans.{_m}.exec_s"


class Ctx:
    """What a workload sees of the run."""

    def __init__(self, spark, tracer, work, seed, rng, corrupt):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.rng = rng
        self.corrupt = corrupt


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("ingest", "query_mix"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="tiny: smallest inputs, for the benchmark's own smoke test")
    p.add_argument("--corrupt-expected", action="store_true",
                   help="perturb the expected answers (smoke test of the checks)")
    p.add_argument("--out", default=None, help="record path (default under perfbench/out)")
    return p.parse_args(argv)


def wrap_layers(tracer) -> list[str]:
    """Wrap the engine's manifest and keyindex entry points by name;
    names that no longer exist are skipped."""
    from newsmaper_etl_spark import keyindex as K
    from newsmaper_etl_spark import manifest as M

    wrapped = []
    for attr, name in (("read_table", "manifest.read_table"),
                       ("append", "manifest.append"),
                       ("overwrite", "manifest.overwrite"),
                       ("compact", "manifest.compact")):
        if tracer.wrap(M, attr, name):
            wrapped.append(f"manifest.{attr}")
    for attr in sorted(vars(K)):
        fn = getattr(K, attr)
        if not callable(fn) or attr.startswith("_") or getattr(
                fn, "__module__", "") != K.__name__:
            continue
        if attr.startswith("ensure_") and "bootstrap" in attr:
            name = "keyindex.bootstrap"
        elif attr.startswith("append_batch_"):
            name = "keyindex.index_append"
        elif attr.endswith("_batch") or attr in ("read_key_index",
                                                 "anti_join_index"):
            name = "keyindex.gate_build"
        elif attr.startswith("compact_") or attr.startswith("squash_"):
            name = "keyindex.compact"
        else:
            continue
        if tracer.wrap(K, attr, name):
            wrapped.append(f"keyindex.{attr}")
    return wrapped


def posture(spark, sf_dir: str | None) -> dict:
    """The io-layer posture this run saw (names the engine may drop are
    reported as null)."""
    from newsmaper_etl_spark import io as IO

    rec = {}
    for key, fn in (("parse_sf", "parse_sf"), ("is_toy", "is_toy")):
        f = getattr(IO, fn, None)
        rec[key] = f(sf_dir) if (f and sf_dir) else None
    f = getattr(IO, "_table_cache_on", None)
    rec["table_cache"] = f() if f else None
    for key, conf in (("aqe", "spark.sql.adaptive.enabled"),
                      ("shuffle_partitions", "spark.sql.shuffle.partitions"),
                      ("broadcast_threshold",
                       "spark.sql.autoBroadcastJoinThreshold")):
        rec[key] = spark.conf.get(conf, None)
    return rec


def run(args) -> dict:
    """Everything after the engine import; returns the record. The
    session and its JVM are stopped, and waited for, on every path."""
    import probe as P
    from newsmaper_etl_spark.session import get_spark

    record: dict = {"workload": args.workload, "seed": args.seed,
                    "seconds": args.seconds, "trace": args.trace,
                    "size": args.size}
    poller = P.RssPoller()
    poller.start()
    tracer = P.Tracer()
    t_setup = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}")
    record["env"] = {"session_start_s": time.perf_counter() - t_setup}
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        poller.add_pid(proc.pid)
    try:
        return measure(args, spark, tracer, poller, t_setup, record)
    finally:
        poller.stop()
        tracer.unwrap_all()
        spark.stop()
        if proc is not None:
            gateway.shutdown()
            try:
                proc.stdin.close()
            except OSError:
                pass
            proc.wait(timeout=60)


def measure(args, spark, tracer, poller, t_setup, record) -> dict:
    import numpy as np

    import probe as P
    from workloads import WORKLOADS

    start_s = record["env"]["session_start_s"]
    record["env"].update({
        "nproc": len(os.sched_getaffinity(0)), "seed": args.seed,
        "master": spark.sparkContext.master,
        "spark": spark.version, "python": sys.version.split()[0],
    })
    if args.trace:
        record["wrapped"] = wrap_layers(tracer)
    ctx = Ctx(spark, tracer, args.work, args.seed,
              np.random.default_rng([args.seed, 4]), args.corrupt_expected)
    wl = WORKLOADS[args.workload](ctx, args.size)
    wl.setup()
    setup_s = time.perf_counter() - t_setup
    # peak_rss_mb is the timed loop's own: set-up may hold the inputs'
    # generator and, for query_mix, the DuckDB oracle pass
    record["env"]["setup_peak_rss_mb"] = poller.reset() / 2**20
    record["env"]["setup_parts_s"] = {"session": start_s,
                                      "inputs_and_warmup": setup_s - start_s}
    record["env"]["floors_start"] = P.floors(spark)
    cursor = P.StageCursor(spark) if args.trace else None

    ops: list[dict] = []
    probes: dict[str, list[float]] = {}
    min_ops = wl.min_ops
    t_loop = time.perf_counter()
    i = 0
    while True:
        inp = wl.prepare(i)
        traced = bool(args.trace) and wl.traced(i)
        if cursor is not None and traced:
            cursor.take()  # drop stages of untimed work since the last op
        tracer.enabled, tracer.op = traced, i
        sc = spark.sparkContext
        sc.setJobDescription(f"perfbench {args.workload} op={i}")
        err = None
        t0 = time.perf_counter()
        try:
            with tracer.span("op"):
                out = wl.run(inp)
        except Exception as e:  # noqa: BLE001 — a failing op is counted, not fatal
            err, out = f"{type(e).__name__}: {e}", None
        dt = time.perf_counter() - t0
        tracer.enabled = False
        sc.setJobDescription(None)
        if err is None:
            err = wl.check(inp, out)
        rec = {"i": i, "latency_s": dt, "items": wl.items(inp),
               "traced": traced, "error": err}
        if isinstance(inp, str):
            rec["input"] = inp
        if traced and err is None:
            rec["spark"] = cursor.take()
            layer = wl.probe(inp, out)
            layer.update({f"spark.{k}": v for k, v in rec["spark"].items()})
            for k, v in layer.items():
                probes.setdefault(k, []).append(v)
        ops.append(rec)
        i += 1
        wl.after_op(i)
        if (time.perf_counter() - t_loop >= args.seconds and i >= min_ops
                and getattr(wl, "pass_done", lambda: True)()):
            break
    loop_wall = time.perf_counter() - t_loop

    # per-operation verdicts that only the end-of-run checks can give
    for idx, msg in wl.finish(ops).items():
        if 0 <= idx < len(ops):
            ops[idx]["error"] = ops[idx]["error"] or msg
    record["env"]["floors_end"] = P.floors(spark)
    record["env"]["posture"] = posture(spark, getattr(wl, "sf_dir", None))
    io_cached = P.cached_bytes(spark)
    poller.sample()

    # ---- end-to-end -----------------------------------------------------
    lat = [r["latency_s"] for r in ops if not (args.trace and r["traced"])]
    tail_v, tail_p, tail_beyond = P.tail(lat)
    op_time = sum(r["latency_s"] for r in ops)
    failed = sum(1 for r in ops if r["error"])
    e2e = {
        "setup_s": setup_s,
        "op_p50_s": P.median(lat),
        "op_tail_s": tail_v,
        "items_per_s": sum(r["items"] for r in ops if not r["error"]) / op_time,
        "peak_rss_mb": poller.peak / 2**20,
        "disk_bytes_per_row": wl.disk_bytes_per_row(),
    }
    record.update({
        "attempted": len(ops), "failed": failed,
        "error_rate": failed / len(ops), "loop_wall_s": loop_wall,
        "op_tail_percentile": tail_p, "op_tail_beyond": tail_beyond,
        "first_errors": [r["error"] for r in ops if r["error"]][:5],
        "ops": ops, "workload_records": wl.records, "end_to_end": e2e,
    })

    # ---- per-layer ------------------------------------------------------
    n_err, first_err = P.StderrCapture.error_lines(args.stderr)
    record["env"]["stderr_error_lines"] = n_err
    record["env"]["stderr_first_errors"] = first_err
    if args.trace:
        layer = dict.fromkeys(PER_LAYER, 0.0)
        per_op = tracer.per_op()
        traced_ops = [r["i"] for r in ops if r["traced"] and not r["error"]]
        for span, metric in SPAN_METRICS.items():
            vals = [per_op[o][span]["total"] for o in traced_ops
                    if span in per_op.get(o, {})]
            layer[metric] = P.median_present(vals)
        for lname in SELF_LAYERS:
            vals = []
            for o in traced_ops:
                v = sum((a["self"] for n, a in per_op.get(o, {}).items()
                         if n == lname or n.startswith(lname + ".")), 0.0)
                vals.append(v)
            layer[f"{lname}.self_s"] = P.median_present(vals)
        for k, vals in probes.items():
            layer[k] = P.median(vals)
        floors = [record["env"]["floors_start"], record["env"]["floors_end"]]
        layer.update({
            "session.start_s": start_s,
            "session.sched_floor_s": min(f["sched_floor_s"] for f in floors),
            "session.arrow_floor_s": min(f["arrow_floor_s"] for f in floors),
            "session.stderr_error_lines": float(n_err),
            "io.cached_bytes": float(io_cached),
            "manifest.commit_retries": float(sum(
                1 for s in tracer.spans
                if s.get("error") == "ConcurrentWriteError")),
        })
        layer.update(wl.layer_metrics())
        untraced = [r["latency_s"] for r in ops if not r["traced"]]
        traced_lat = [r["latency_s"] for r in ops if r["traced"]]
        layer["trace.overhead_ratio"] = (
            P.median(traced_lat) / P.median(untraced)
            if traced_lat and untraced else 0.0)
        record["per_layer"] = layer
        record["spans"] = tracer.spans
    return record


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import newsmaper_etl_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2

    import probe as P

    cpus = len(os.sched_getaffinity(0))
    args.work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(args.work, ignore_errors=True)
    os.makedirs(args.work)
    tmp = os.path.join(args.work, "tmp")
    os.makedirs(tmp)
    # everything the run writes stays inside the checkout
    os.environ.update({
        "TMPDIR": tmp, "SPARK_LOCAL_DIRS": os.path.join(args.work, "spark-local"),
        "SPARK_GRAFT_CPUS": str(cpus),
        "PYTHONPATH": os.pathsep.join(
            [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
    })
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    import tempfile

    tempfile.tempdir = tmp
    args.stderr = os.path.join(args.work, "stderr.log")
    cap = P.StderrCapture(args.stderr)
    try:
        record = run(args)
    except Exception:  # noqa: BLE001
        cap.restore()
        print(traceback.format_exc(), file=sys.stderr)
        print("perfbench: last engine stderr lines:\n" + P.StderrCapture.tail(args.stderr),
              file=sys.stderr)
        shutil.rmtree(args.work, ignore_errors=True)
        return 1
    cap.restore()
    shutil.rmtree(args.work, ignore_errors=True)

    out_path = args.out or os.path.join(
        HERE, "out", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    with open(out_path, "w") as fh:
        json.dump(record, fh, indent=1, default=str)

    e2e = record["end_to_end"]
    correct = record["failed"] == 0
    print(f"workload {args.workload}  seed {args.seed}  nproc {record['env']['nproc']}  "
          f"ops {record['attempted']}  failed {record['failed']}  "
          f"error_rate {record['error_rate']:.4f}  "
          f"verdict {'correct' if correct else 'INCORRECT'}")
    for err in record["first_errors"]:
        print(f"  error: {err}")
    for k, unit in END_TO_END.items():
        extra = ""
        if k == "op_tail_s":
            extra = (f"  (p{record['op_tail_percentile']:g}, "
                     f"{record['op_tail_beyond']} samples beyond)")
        print(f"  {k:<20} {e2e[k]:.6g} {unit}{extra}")
    if args.trace:
        for k, unit in PER_LAYER.items():
            print(f"  {k:<36} {record['per_layer'][k]:.6g} {unit}")
        metrics = {k: {"value": record["per_layer"][k], "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    print(f"  record: {os.path.relpath(out_path, ROOT)}")
    print(json.dumps({"correct": correct, "attempted": record["attempted"],
                      "failed": record["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
