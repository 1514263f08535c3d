"""Python-worker import-cache patch: make ``importlib.invalidate_caches``
cheap when nothing changed (guide §4 — the Python boundary).

Measured with JFR and an instrumented worker (``git show
f59449b:OPTIMIZATION_r15.md`` §arrow-floor): EVERY PySpark worker task
calls ``setup_spark_files`` → ``importlib.invalidate_caches()``, and
CPython 3.10+'s ``zipimport.zipimporter.invalidate_caches`` EAGERLY
re-parses the whole zip central directory. The worker's ``sys.path`` carries pyspark.zip
(1 328 entries), the py4j zip, and the multi-MB spark-core JAR, and
``sys.path_importer_cache`` holds one zipimporter per (archive, inner
path) pair ever probed — so one task pays a dozen full directory
re-parses: **0.17–0.25 s per task on a warm, reused worker**, the
dominant cost of every Arrow/pandas-UDF stage at bench SF (the measured
~0.26 s "arrow floor"), and pure per-task overhead on any cluster whose
workers run with zip/jar PYTHONPATH entries (the standard distribution
layout), at any scale.

The patch keeps the invalidation CORRECT but lazy: re-read the archive
directory only when the archive's (mtime, size, path) actually changed —
exactly the staleness signal CPython's FileFinder uses for directories.
A changed or vanished archive still invalidates; the unchanged common
case becomes one ``os.stat``. ``sc.addPyFile`` mid-job therefore still
works: new files land in a *directory* (spark_files_dir, FileFinder
semantics untouched), and a genuinely replaced zip has a new stamp.

Installation is idempotent and happens once per process, when
``newsmaper_etl_spark.io`` is imported — and the package ``__init__``
imports it before any submodule loads. Unpickling any engine UDF on a
worker imports its module, hence the package, so every worker that has
ever run one engine Arrow task runs all later tasks without the
re-parse tax. The driver process is patched too (harmless — it calls
invalidate_caches rarely).
"""

from __future__ import annotations

import os
import zipimport

_INSTALLED = False

#: archive path → (stat stamp, parsed directory). Module-global (not
#: per-instance) because the import machinery RECREATES zipimporter
#: instances across tasks — a per-instance stamp would re-pay the parse
#: on every fresh instance, which is exactly the per-task cost observed.
#: Stamp = (st_mtime_ns, st_size, st_ino) — nanosecond mtime plus the
#: inode (ADVICE r15 #1: float st_mtime could miss a same-second,
#: same-size archive replacement; an atomic rename-replace also changes
#: the inode). Known residual bound, same as CPython's FileFinder
#: directory heuristic: an IN-PLACE rewrite that preserves size and
#: lands within the filesystem's mtime granularity is not detected.
_DIR_CACHE: dict[str, tuple[tuple[int, int, int], object]] = {}


def install() -> None:
    """Idempotently replace ``zipimport.zipimporter.invalidate_caches``
    with a stamp-checked variant (module docstring has the measured
    rationale). Safe to call from any process, any number of times.

    The patch is process-global (it alters zipimport for every zip
    import in the process, not just Spark's — ADVICE r15 #1); embedders
    that need the stdlib behavior set ``NEWSMAPER_LAZY_ZIPIMPORT=0``
    before importing the engine, which turns install() into a no-op."""
    global _INSTALLED
    if os.environ.get("NEWSMAPER_LAZY_ZIPIMPORT", "1") == "0":
        return
    if _INSTALLED or getattr(zipimport.zipimporter, "_ne_lazy_inval", False):
        _INSTALLED = True
        return
    orig = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):  # noqa: ANN001 — stdlib signature
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            _DIR_CACHE.pop(self.archive, None)
            return orig(self)
        hit = _DIR_CACHE.get(self.archive)
        if hit is not None and hit[0] == stamp and hit[1]:
            # unchanged archive: restore the parsed directory instead of
            # re-parsing the central directory (the stdlib re-parses
            # unconditionally, per instance)
            self._files = hit[1]
            zipimport._zip_directory_cache[self.archive] = hit[1]
            return None
        res = orig(self)
        files = getattr(self, "_files", None)
        if files:
            _DIR_CACHE[self.archive] = (stamp, files)
        return res

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    zipimport.zipimporter._ne_lazy_inval = True
    _INSTALLED = True
