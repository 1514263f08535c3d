"""The benchmark's workloads. Each is a closed loop with one client.

- :class:`Ingest`    one ingest cycle per operation: the reference DAG
                     round (``read_rss`` → ``run_pipeline`` →
                     ``append_news_tx`` → ``rewrite_dedup_tx`` →
                     ``read_news_tx_for_dates``), then one
                     ``write_stream_manifest`` micro-batch of documents
                     through the exact and MinHash gates;
- :class:`QueryMix`  one registered query per operation, evaluated
                     through the noop sink.

A workload exposes ``setup()``, ``prepare(i)`` (untimed input
generation), ``run(inp)`` (the timed operation), ``check(inp, out)``
(untimed per-operation verdict), ``traced(i)`` (which operations a
traced run traces), ``probe(inp, out)`` (untimed layer probes, traced
operations only), ``after_op(n)`` and ``finish(ops)``
(end-of-run checks, returning the failed operations). Only engine entry
points are called; internal calls are observed through the tracer's
module wrappers.
"""

from __future__ import annotations

import math
import os
import statistics
import time

from probe import catalyst_phases, noop

NEWS_DDL = ("id_country INT, id_source INT, id_date INT, title STRING, "
            "link STRING, description STRING, media STRING")
NEWS_KEY = ("id_source", "id_date", "title")


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of every regular file under ``path``."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            try:
                total += os.path.getsize(os.path.join(root, n))
                files += 1
            except OSError:
                pass
    return total, files


def observed_count(df) -> int:
    """Fully evaluate ``df`` through the noop sink and return its rows."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    noop(df.observe(obs, F.count(F.lit(1)).alias("n")))
    return int(obs.get["n"])


def manifest_summary(table: str) -> dict:
    from newsmaper_etl_spark import manifest as M

    v = M.current_version(table)
    load = getattr(M, "_load_manifest", None)
    files = len(load(table, v).get("files", [])) if load else 0
    return {"versions": v, "data_files": files}


# --------------------------------------------------------------------------
# ingest: the reference DAG round + one gated streaming micro-batch
# --------------------------------------------------------------------------


class EtlRounds:
    """The reference DAG (Main.py) against a manifest fact table."""

    def __init__(self, ctx, feeds: int, items: int, history: int) -> None:
        from newsmaper_etl_spark import fixtures as FX
        from newsmaper_etl_spark import sinks
        from gen import DIM_START, RssRounds

        self.ctx = ctx
        spark = ctx.spark
        self.wh = os.path.join(ctx.work, "wh")
        self.table = os.path.join(self.wh, "news_tx")
        self.gen = RssRounds(ctx.seed, os.path.join(ctx.work, "feeds"),
                             feeds, items)
        self.sources = FX.values_df(
            spark,
            [(s, f"outlet{s}", f"https://outlet{s}.example",
              self.gen.feed_url(s)) for s in self.gen.source_ids()],
            ["id", "name", "website", "rss"])
        self.references = FX.references_df(spark)
        end = DIM_START.replace(month=12, day=31, hour=23)
        sinks.bootstrap(spark, self.wh, sources=self.sources,
                        references=self.references,
                        date_start=str(DIM_START), date_end=str(end))
        self.empty_news = spark.createDataFrame([], NEWS_DDL)
        if history:
            path = os.path.join(ctx.work, "history.parquet")
            self.gen.write_history(path, history)
            sinks.append_news_tx(spark, spark.read.parquet(path), self.table)

    def prepare(self) -> dict:
        ans = self.gen.next_round()
        if self.ctx.corrupt:
            ans["new_rows"] += 1
        return ans

    def run(self, ans: dict) -> dict:
        from newsmaper_etl_spark import manifest as M
        from newsmaper_etl_spark import sinks
        from newsmaper_etl_spark.operators.newsmaper import run_pipeline
        from newsmaper_etl_spark.sources import read_rss
        from gen import day_key_range

        spark, span = self.ctx.spark, self.ctx.tracer.span
        with span("sources.rss.build"):
            articles = read_rss(spark, self.sources)
        date_dim = spark.read.parquet(os.path.join(self.wh, "date"))
        base = M.current_version(self.table)
        existing = (M.read_table(spark, self.table, version=base)
                    if base > 0 else self.empty_news)
        with span("operators.newsmaper.build"):
            new_rows = run_pipeline(articles, self.references, date_dim,
                                    existing)
        with span("sinks.append"):
            appended = sinks.append_news_tx(spark, new_rows, self.table)
        with span("sinks.rewrite_dedup"):
            sinks.rewrite_dedup_tx(spark, self.table)
        lo, hi = day_key_range(ans["newest_day"])
        with span("sinks.read_for_dates"):
            day_rows = observed_count(
                sinks.read_news_tx_for_dates(spark, self.table, lo, hi))
        return {"appended": appended, "day_rows": day_rows,
                "articles": articles, "new_rows": new_rows}

    def check(self, ans: dict, out: dict) -> str | None:
        if out["appended"] != ans["new_rows"]:
            return f"appended {out['appended']} != expected {ans['new_rows']}"
        if out["day_rows"] != ans["newest_day_keys"]:
            return (f"newest-day rows {out['day_rows']} != expected "
                    f"{ans['newest_day_keys']}")
        return None

    def probe(self, ans: dict, out: dict) -> dict:
        t0 = time.perf_counter()
        items = observed_count(out["articles"])
        read_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        offered = observed_count(out["new_rows"])
        pipe_s = time.perf_counter() - t0
        phases = catalyst_phases(out["new_rows"])
        return {
            "sources.rss.read_s": read_s,
            "sources.rss.feeds": float(self.gen.feeds),
            "sources.rss.items": float(items),
            "operators.newsmaper.exec_s": max(pipe_s - read_s, 0.0),
            "operators.newsmaper.novel_ratio": offered / items if items else 0.0,
            "sinks.append_useful_ratio": (
                out["appended"] / offered if offered else 0.0),
            "spark.analysis_s": phases["analysis"],
            "spark.optimization_s": phases["optimization"],
            "spark.planning_s": phases["planning"],
        }

    def rows(self) -> int:
        return len(self.gen.keys)

    def finish(self) -> tuple[str | None, dict]:
        """Committed rows equal the generator's distinct keys, and no
        duplicate key survives the rewrite."""
        from pyspark.sql import functions as F

        from newsmaper_etl_spark import manifest as M

        row = M.read_table(self.ctx.spark, self.table).agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(*NEWS_KEY).alias("k")).first()
        expected = self.rows()
        rec = {"rows": row["n"], "distinct_keys": row["k"],
               "expected_keys": expected,
               "manifest": manifest_summary(self.table)}
        if row["n"] != expected:
            return f"news table holds {row['n']} rows, feeds served {expected} keys", rec
        if row["k"] != row["n"]:
            return f"{row['n'] - row['k']} duplicate keys survived the rewrite", rec
        return None, rec


def _progress_dicts(query) -> list[dict]:
    import json

    return [json.loads(p.json) if hasattr(p, "json") else dict(p)
            for p in query.recentProgress]


class StreamBatches:
    """Exactly-once streaming ingest with exact and MinHash gates."""

    SCHEMA = "doc_id LONG, url STRING, text STRING, batch INT"

    def __init__(self, ctx, docs: int, compact_every: int) -> None:
        from gen import DocStream

        self.ctx = ctx
        self.compact_every = compact_every
        self.table = os.path.join(ctx.work, "corpus_tx")
        self.ckpt = os.path.join(ctx.work, "corpus_ckpt")
        self.gen = DocStream(ctx.seed, os.path.join(ctx.work, "stream_src"),
                             docs)
        self.batches: list[dict] = []

    def prepare(self) -> dict:
        lab = self.gen.next_batch()
        self.batches.append(lab)
        return lab

    def run(self, lab: dict) -> dict:
        from newsmaper_etl_spark.streaming.pipeline import write_stream_manifest

        stream = (self.ctx.spark.readStream.schema(self.SCHEMA)
                  .option("maxFilesPerTrigger", 1).json(self.gen.src_dir))
        q = write_stream_manifest(
            stream, self.table, self.ckpt, trigger={"availableNow": True},
            dedup_keys=("text",), dedup_order_col="doc_id",
            near_dedup={"id_col": "doc_id", "text_col": "text"},
            telemetry=True, compact_every=self.compact_every)
        q.awaitTermination()
        err = q.exception()
        if err is not None:
            raise RuntimeError(f"streaming query failed: {err}")
        return {"progress": _progress_dicts(q)}

    def check(self, lab: dict, out: dict) -> str | None:
        from newsmaper_etl_spark.streaming.pipeline import ingest_history

        hist = ingest_history(self.table)
        # this batch's entry: a call may commit several batches
        g = lab["gates"] = next((h for h in reversed(hist)
                                 if h.get("batch_id") == lab["batch"]), {})
        expected_exact = lab["rows"] - lab["exact"]
        if self.ctx.corrupt:
            expected_exact += 1
        if g.get("input") != lab["rows"]:
            return f"gate input {g.get('input')} != batch rows {lab['rows']}"
        if g.get("after_exact") != expected_exact:
            return (f"after exact gate {g.get('after_exact')} != expected "
                    f"{expected_exact}")
        if g.get("committed", -1) < lab["fresh"]:
            return f"committed {g.get('committed')} < fresh {lab['fresh']}"
        return None

    def probe(self, lab: dict, out: dict) -> dict:
        prog = [p for p in out["progress"] if p.get("numInputRows", 0) > 0]

        def dur(key: str) -> float:
            return sum(p.get("durationMs", {}).get(key, 0) for p in prog) / 1000.0

        return {
            "streaming.trigger_s": dur("triggerExecution"),
            "streaming.add_batch_s": dur("addBatch"),
            "streaming.query_planning_s": dur("queryPlanning"),
            "streaming.wal_commit_s": dur("walCommit"),
            "streaming.reads_per_input_row": (
                sum(p["numInputRows"] for p in prog) / lab["rows"]),
        }

    def rows(self) -> int:
        return sum(b.get("gates", {}).get("committed", 0) for b in self.batches)

    def finish(self) -> tuple[dict[int, str], dict]:
        """Per doc: every planted-fresh doc is committed and every exact
        copy is dropped. Returns batch → failure, and the records."""
        from newsmaper_etl_spark import keyindex as K
        from newsmaper_etl_spark import manifest as M

        ids = {r[0] for r in M.read_table(self.ctx.spark, self.table)
               .select("doc_id").collect()}
        labels = self.gen.labels
        bad_batches: dict[int, str] = {}
        near_planted = near_dropped = gate_in = exact_dropped = 0
        for b in self.batches:
            wrong = [d for d in b["ids"] if labels[d] != "near"
                     and (labels[d] == "fresh") != (d in ids)]
            near = [d for d in b["ids"] if labels[d] == "near"]
            near_planted += len(near)
            near_dropped += sum(1 for d in near if d not in ids)
            g = b.get("gates", {})
            gate_in += g.get("input", 0)
            exact_dropped += g.get("input", 0) - g.get("after_exact", 0)
            if wrong:
                bad_batches[b["batch"]] = (
                    f"batch {b['batch']}: {len(wrong)} docs with the wrong "
                    f"fate, e.g. doc {wrong[0]} ({labels[wrong[0]]})")
        idx_bytes = idx_files = 0
        for fn in ("key_index_path", "banded_index_path"):
            if hasattr(K, fn):
                nb, nf = dir_bytes(getattr(K, fn)(self.table))
                idx_bytes += nb
                idx_files += nf
        return bad_batches, {
            "near_recall": near_dropped / near_planted if near_planted else 0.0,
            "exact_drop_ratio": exact_dropped / gate_in if gate_in else 0.0,
            "index_bytes": idx_bytes, "index_files": idx_files,
            "committed_rows": len(ids),
            "manifest": manifest_summary(self.table),
        }


class Ingest:
    """One ingest cycle per operation: an ETL round, then a streaming
    micro-batch. Set-up commits a table history and runs one warm-up
    cycle on the same tables, so the timed cycles start on warmed code
    paths and tables that already hold data. The warm-up's micro-batch
    call takes two stream files (two batches), so it also compacts: one
    cold cycle warms every path a timed cycle takes.

    Stream compaction runs after every second batch: the warm-up and the
    second and fourth timed cycles compact. Half the timed
    cycles compacting puts ``op_tail_s`` (the 75th percentile of four)
    on a compacting cycle, so compaction cost moves it. A traced run
    traces cycles 1 and 2 of every four: each side of the overhead
    comparison then holds one compacting and one plain cycle."""

    name = "ingest"
    #: feeds, items per feed, docs per micro-batch, rows of table history
    SIZES = {"full": (10, 200, 500, 30000), "tiny": (2, 10, 20, 50)}
    COMPACT_EVERY = 2
    #: stream batches the warm-up cycle commits
    WARMUP_BATCHES = COMPACT_EVERY
    min_ops = 4
    #: disk_bytes_per_row is read after this many timed cycles (or the
    #: last, if fewer ran), so it does not depend on run speed
    DISK_AFTER_OPS = 4

    @staticmethod
    def traced(i: int) -> bool:
        return i % 4 in (1, 2)

    def __init__(self, ctx, size: str) -> None:
        self.ctx = ctx
        self.size = size
        self.records: dict = {}
        self._disk = (0, 0)

    def setup(self) -> None:
        feeds, items, docs, history = self.SIZES[self.size]
        self.etl = EtlRounds(self.ctx, feeds, items, history)
        self.stream = StreamBatches(self.ctx, docs, self.COMPACT_EVERY)
        etl_in = self.etl.prepare()
        labs = [self.stream.prepare() for _ in range(self.WARMUP_BATCHES)]
        try:
            etl_out = self.etl.run(etl_in)
            stream_out = self.stream.run(labs[-1])
            err = self.etl.check(etl_in, etl_out) or next(
                filter(None, (self.stream.check(lab, stream_out) for lab in labs)),
                None)
        except Exception as e:  # noqa: BLE001 — fails every timed cycle
            err = f"{type(e).__name__}: {e}"
        self.records["warmup_errors"] = [f"warm-up cycle: {err}"] if err else []

    def prepare(self, i: int) -> dict:
        return {"etl": self.etl.prepare(), "stream": self.stream.prepare()}

    def run(self, inp: dict) -> dict:
        return {"etl": self.etl.run(inp["etl"]),
                "stream": self.stream.run(inp["stream"])}

    def items(self, inp: dict) -> int:
        return inp["etl"]["items"] + inp["stream"]["rows"]

    def check(self, inp: dict, out: dict) -> str | None:
        return (self.etl.check(inp["etl"], out["etl"])
                or self.stream.check(inp["stream"], out["stream"]))

    def probe(self, inp: dict, out: dict) -> dict:
        return {**self.etl.probe(inp["etl"], out["etl"]),
                **self.stream.probe(inp["stream"], out["stream"])}

    def after_op(self, n_ops: int) -> None:
        if n_ops <= self.DISK_AFTER_OPS:
            b = dir_bytes(self.etl.table)[0] + dir_bytes(self.stream.table)[0]
            self._disk = (b, self.etl.rows() + self.stream.rows())
            self.records["disk_after_ops"] = n_ops

    def disk_bytes_per_row(self) -> float:
        b, rows = self._disk
        return b / rows if rows else 0.0

    def finish(self, ops: list[dict]) -> dict[int, str]:
        etl_err, etl_rec = self.etl.finish()
        bad_batches, stream_rec = self.stream.finish()
        self.records.update({"etl": etl_rec, "stream": stream_rec})
        self._layer = {
            "manifest.versions": float(etl_rec["manifest"]["versions"]
                                       + stream_rec["manifest"]["versions"]),
            "manifest.data_files": float(etl_rec["manifest"]["data_files"]
                                         + stream_rec["manifest"]["data_files"]),
            **{f"keyindex.{k}": float(stream_rec[k]) for k in (
                "near_recall", "exact_drop_ratio", "index_bytes", "index_files")},
        }
        whole_run = (etl_err or next(iter(self.records["warmup_errors"]), None)
                     or next((e for b, e in bad_batches.items()
                              if b < self.WARMUP_BATCHES), None))
        if whole_run:
            # the tables are cumulative: a wrong end state or a bad
            # warm-up cycle leaves every timed cycle unverified
            return {r["i"]: whole_run for r in ops}
        return {b - self.WARMUP_BATCHES: e for b, e in bad_batches.items()}

    def layer_metrics(self) -> dict[str, float]:
        """Per-layer values read from the end state (both tables)."""
        return self._layer


# --------------------------------------------------------------------------
# query_mix
# --------------------------------------------------------------------------

#: One oracle-bearing query from each of the seven largest modules of
#: plans/, the sketches one being the heaviest planted dedup/curation
#: line. (newsmaper_e2e is the ETL path ``ingest`` runs at full size;
#: asofjoin and timeops are left out to keep the set-up pass short.)
#: The seed picks the order of the passes and generates the corpus.
QUERY_MIX = (
    "q_star_join",              # plans/relational.py
    "q_group_agg",              # plans/aggregates.py
    "q_window_rank",            # plans/windows.py
    "q_tpch_q18",               # plans/tpch.py
    "q_lang_id",                # plans/extensions.py
    "q_tfidf_topterms",         # plans/curation.py
    "q_curate_corpus_planted",  # plans/sketches.py
)
TINY_MIX = ("q_star_join", "q_group_agg", "q_tpch_q18")


class QueryMix:
    """Whole passes over the mix in a seed-permuted order: every pass
    times each query once, so runs differ only in order, not in mix. At
    least two passes run."""

    name = "query_mix"

    def __init__(self, ctx, size: str) -> None:
        self.ctx = ctx
        self.size = size
        self.records: dict = {}

    def setup(self) -> None:
        from gen import write_corpus
        from newsmaper_etl_spark.registry import QUERIES, _ensure_loaded

        _ensure_loaded()
        names = QUERY_MIX if self.size == "full" else TINY_MIX
        self.specs = {n: QUERIES[n] for n in names if n in QUERIES}
        self.min_ops = 2 * len(self.specs)
        self.records["missing_queries"] = [n for n in names if n not in QUERIES]
        # the directory name carries the scale, as the engine's posture
        # reads it from there
        self.sf_dir = os.path.join(self.ctx.work, "corpus", "sf0.01")
        rows = write_corpus(self.ctx.seed, self.sf_dir, sf=0.01)
        self._disk = (dir_bytes(self.sf_dir)[0], sum(rows.values()))
        # one seeded order for every pass: with an odd-sized mix,
        # alternate tracing then covers each query once per two passes
        self.perm = [str(n) for n in self.ctx.rng.permutation(sorted(self.specs))]
        self.order: list[str] = []
        self._verify()  # also the warm-up pass

    def _verify(self) -> None:
        """Untimed pass: hash-compare every query of the mix with its
        DuckDB oracle on the same corpus, and time the oracle."""
        from newsmaper_etl_spark.oracle import compare, duckdb_conn

        mismatched, duck, detail = [], {}, {}
        con = duckdb_conn(self.sf_dir)
        try:
            for n, spec in sorted(self.specs.items()):
                sql = spec.oracle
                if self.ctx.corrupt and n == min(self.specs):
                    sql = f"SELECT * FROM ({sql}) LIMIT 0"
                try:
                    res = compare(n, spec.fn(self.ctx.spark, self.sf_dir), sql,
                                  self.sf_dir)
                    ok, why = res.ok, res.detail
                except Exception as e:  # noqa: BLE001
                    ok, why = False, f"{type(e).__name__}: {e}"
                if not ok:
                    mismatched.append(n)
                    detail[n] = why[:500]
                t0 = time.perf_counter()
                con.execute(spec.oracle).fetchall()
                duck[n] = time.perf_counter() - t0
        finally:
            con.close()
        self.records.update({"mismatches": mismatched,
                             "mismatch_detail": detail, "duckdb_s": duck})

    @staticmethod
    def traced(i: int) -> bool:
        return i % 2 == 1

    def prepare(self, i: int) -> str:
        if not self.order:
            self.order = list(self.perm)
        return self.order.pop()

    def pass_done(self) -> bool:
        return not self.order

    def run(self, name: str) -> dict:
        mod = self.specs[name].fn.__module__.rsplit(".", 1)[-1]
        span = self.ctx.tracer.span
        with span(f"plans.{mod}.build"):
            df = self.specs[name].fn(self.ctx.spark, self.sf_dir)
        with span(f"plans.{mod}.exec"):
            noop(df)
        return {"df": df}

    def items(self, name: str) -> int:
        return 1

    def check(self, name: str, out: dict) -> str | None:
        return None  # compared with the oracle once per query in set-up

    def probe(self, name: str, out: dict) -> dict:
        phases = catalyst_phases(out["df"])
        return {"spark.analysis_s": phases["analysis"],
                "spark.optimization_s": phases["optimization"],
                "spark.planning_s": phases["planning"]}

    def after_op(self, n_ops: int) -> None:
        pass

    def disk_bytes_per_row(self) -> float:
        """Bytes of the generated corpus per row. The workload writes
        nothing, so this is a fixed property of its input that no engine
        change moves; it is reported only because every run reports
        every end-to-end metric."""
        b, rows = self._disk
        return b / rows

    def finish(self, ops: list[dict]) -> dict[int, str]:
        times: dict[str, list[float]] = {n: [] for n in self.specs}
        for r in ops:
            if not r["error"]:
                times[r["input"]].append(r["latency_s"])
        duck = self.records["duckdb_s"]
        ratios = [sorted(ts)[len(ts) // 2] / duck[n]
                  for n, ts in times.items() if ts and duck.get(n)]
        self.records.update({
            "geomean_ratio": (math.exp(sum(map(math.log, ratios)) / len(ratios))
                              if ratios else 0.0),
            "n_over_2x": sum(1 for r in ratios if r > 2.0),
            "per_query_s": times,
        })
        bad = set(self.records["mismatches"])
        return {r["i"]: f"{r['input']} differs from its oracle"
                for r in ops if r["input"] in bad}

    def layer_metrics(self) -> dict[str, float]:
        rec = self.records
        return {
            "oracle.duckdb_s": statistics.median(rec["duckdb_s"].values()),
            "oracle.geomean_ratio": rec["geomean_ratio"],
            "oracle.n_over_2x": float(rec["n_over_2x"]),
            "oracle.mismatches": float(len(rec["mismatches"])),
        }


WORKLOADS = {w.name: w for w in (Ingest, QueryMix)}
