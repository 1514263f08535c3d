"""Measurement plumbing that sits OUTSIDE the engine.

- :class:`Tracer` keeps spans (name, start, end, parent, op id) in
  memory and wraps module attributes (``keyindex.*``, ``manifest.*``)
  so calls the engine makes internally are timed without editing an
  engine file. Wrappers cost one flag test when tracing is off.
- :class:`StageCursor`, :func:`catalyst_phases` and
  :func:`cached_bytes` read Spark's own status store, query-execution
  tracker and storage info through py4j; :func:`floors` probes the
  per-job scheduling and Python-worker floors.
- :class:`RssPoller` samples the resident set of the benchmark's Python
  process plus its JVM.
- :class:`StderrCapture` routes fd 2 (Python, JVM and Python-worker
  logs) to a file so ``ERROR`` lines can be counted.
"""

from __future__ import annotations

import functools
import math
import os
import re
import threading
import time
from contextlib import contextmanager

# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------


class Tracer:
    def __init__(self) -> None:
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._wrapped: list[tuple[object, str, object]] = []
        self.enabled = False
        self.op: int | None = None

    def now(self) -> float:
        return time.perf_counter() - self.t0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {"name": name, "start": self.now(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "op": self.op}
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield rec
        except BaseException as e:
            rec["error"] = type(e).__name__
            raise
        finally:
            rec["end"] = self.now()
            self._stack.pop()

    def wrap(self, module, attr: str, name: str) -> bool:
        """Replace ``module.attr`` by a span-recording wrapper. Returns
        False (and wraps nothing) when the attribute does not exist, so a
        renamed engine function drops its metric instead of the run."""
        orig = getattr(module, attr, None)
        if orig is None or not callable(orig):
            return False
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            with tracer.span(name):
                return orig(*args, **kwargs)

        setattr(module, attr, wrapper)
        self._wrapped.append((module, attr, orig))
        return True

    def unwrap_all(self) -> None:
        for module, attr, orig in reversed(self._wrapped):
            setattr(module, attr, orig)
        self._wrapped.clear()

    # -- derivations -------------------------------------------------------

    def per_op(self) -> dict[int, dict[str, dict[str, float]]]:
        """op → span name → {"total": inclusive s, "self": s minus the
        spans nested in it}."""
        children: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]] = children.get(s["parent"], 0.0) + (
                    s["end"] - s["start"])
        out: dict[int, dict[str, dict[str, float]]] = {}
        for i, s in enumerate(self.spans):
            dur = s["end"] - s["start"]
            agg = out.setdefault(s["op"], {}).setdefault(
                s["name"], {"total": 0.0, "self": 0.0})
            agg["total"] += dur
            agg["self"] += dur - children.get(i, 0.0)
        return out


def median_present(values: list[float]) -> float:
    """Median of the ops that made a call; 0.0 when none did."""
    return median(values) if values else 0.0


def median(values: list[float]) -> float:
    s = sorted(values)
    n = len(s)
    if n == 0:
        return float("nan")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def tail(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile, samples beyond). Below forty samples that would
    fall under the 75th percentile, so the count beyond shrinks to a
    quarter of the samples (at least one): four samples give their 75th
    percentile, fourteen their 78.6th."""
    s = sorted(values)
    n = len(s)
    beyond = max(1, min(10, n // 4))
    p = 1.0 - beyond / n
    # linear interpolation between closest ranks
    pos = (n - 1) * p
    lo = int(math.floor(pos))
    hi = min(lo + 1, n - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo), round(100 * p, 2), beyond


# --------------------------------------------------------------------------
# Spark status
# --------------------------------------------------------------------------


class StageCursor:
    """Reads the stages Spark completed since the previous call, from
    the status store (newest first, so only the new head is walked)."""

    _FIELDS = ("jobs", "stages", "tasks", "input_bytes", "shuffle_read_bytes",
               "shuffle_write_bytes", "executor_run_s", "gc_s")

    def __init__(self, spark) -> None:
        self.spark = spark
        self.last_stage = self._newest_stage_id()
        self.last_job = self._newest_job_id()

    def _store(self):
        return self.spark.sparkContext._jsc.sc().statusStore()

    def _stages(self):
        sc = self.spark.sparkContext
        return self._store().stageList(
            None, False, False, sc._gateway.new_array(sc._jvm.double, 0), None)

    def _newest_stage_id(self) -> int:
        st = self._stages()
        return st.apply(0).stageId() if st.size() else -1

    def _newest_job_id(self) -> int:
        jobs = self._store().jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    def take(self) -> dict[str, float]:
        out = dict.fromkeys(self._FIELDS, 0.0)
        st = self._stages()
        newest = self.last_stage
        for i in range(st.size()):
            s = st.apply(i)
            sid = s.stageId()
            if sid <= self.last_stage:
                break
            newest = max(newest, sid)
            if str(s.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            out["input_bytes"] += s.inputBytes()
            out["shuffle_read_bytes"] += s.shuffleReadBytes()
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["executor_run_s"] += s.executorRunTime() / 1000.0
            out["gc_s"] += s.jvmGcTime() / 1000.0
        self.last_stage = newest
        jobs = self._store().jobsList(None)
        newest_job = self.last_job
        for i in range(jobs.size()):
            jid = jobs.apply(i).jobId()
            if jid <= self.last_job:
                break
            newest_job = max(newest_job, jid)
            out["jobs"] += 1
        self.last_job = newest_job
        return out


def catalyst_phases(df) -> dict[str, float]:
    """Analysis / optimization / planning seconds of the frame's plan,
    timed from Python on a fresh query execution (an alias node on
    top of the frame): the same phases ``queryExecution().tracker()``
    records, at wall-clock rather than millisecond resolution."""
    t0 = time.perf_counter()
    fresh = df.alias("perfbench_probe")  # analysed on construction
    t1 = time.perf_counter()
    qe = fresh._jdf.queryExecution()
    t2 = time.perf_counter()
    qe.optimizedPlan()
    t3 = time.perf_counter()
    qe.executedPlan()
    t4 = time.perf_counter()
    return {"analysis": t1 - t0, "optimization": t3 - t2, "planning": t4 - t3}


def cached_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return int(sum(i.memSize() + i.diskSize() for i in infos))


def noop(df) -> None:
    """Full evaluation, nothing written (the engine bench's sink)."""
    df.write.format("noop").mode("append").save()


def best_of(fn, n: int) -> float:
    best = math.inf
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best


def floors(spark) -> dict[str, float]:
    """Per-job machinery floors: a one-row noop write (scheduling) and a
    one-row mapInPandas noop (Python worker + Arrow round trip)."""
    tiny = spark.range(1)

    def ident(it):
        yield from it

    arrow = spark.range(1).mapInPandas(ident, schema="id long")
    return {"sched_floor_s": best_of(lambda: noop(tiny), 3),
            "arrow_floor_s": best_of(lambda: noop(arrow), 3)}


# --------------------------------------------------------------------------
# process resources
# --------------------------------------------------------------------------


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class RssPoller:
    """Peak of (Python RSS + JVM RSS), sampled every 50 ms."""

    def __init__(self, interval: float = 0.05) -> None:
        self.interval = interval
        self.pids = [os.getpid()]
        self.peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def add_pid(self, pid: int) -> None:
        self.pids.append(pid)

    def _run(self) -> None:
        while not self._stop.is_set():
            with self._lock:
                self.sample()
            self._stop.wait(self.interval)

    def sample(self) -> None:
        self.peak = max(self.peak, sum(_rss_bytes(p) for p in self.pids))

    def reset(self) -> int:
        """Restart the peak from the current resident set; return the
        peak so far."""
        with self._lock:
            peak, self.peak = self.peak, 0
            self.sample()
        return peak

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()


_ERROR_LINE = re.compile(r"\bERROR\b")


class StderrCapture:
    """fd 2 → ``path`` until :meth:`restore`."""

    def __init__(self, path: str) -> None:
        self.path = path
        self._real = os.dup(2)
        self._fh = open(path, "wb")
        os.dup2(self._fh.fileno(), 2)

    def restore(self) -> None:
        if self._real is None:
            return
        os.dup2(self._real, 2)
        os.close(self._real)
        self._real = None
        self._fh.close()

    @staticmethod
    def error_lines(path: str) -> tuple[int, list[str]]:
        n, first = 0, []
        with open(path, errors="replace") as fh:
            for line in fh:
                if _ERROR_LINE.search(line):
                    n += 1
                    if len(first) < 5:
                        first.append(line.rstrip()[:300])
        return n, first

    @staticmethod
    def tail(path: str, n: int = 40) -> str:
        with open(path, errors="replace") as fh:
            return "".join(fh.readlines()[-n:])
