"""workerpatch: the lazy zip-directory invalidation
(``git show f59449b:OPTIMIZATION_r15.md``).

The patch must (a) install idempotently, (b) skip the central-directory
re-parse when the archive is unchanged, and (c) STILL invalidate when
the archive actually changes — (c) is the correctness half: a stale
directory would serve imports from a replaced zip.
"""

from __future__ import annotations

import os
import zipfile
import zipimport

from newsmaper_etl_spark import workerpatch


def _make_zip(path: str, member: str, body: bytes) -> None:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(member, body)


def test_install_is_idempotent():
    workerpatch.install()
    first = zipimport.zipimporter.invalidate_caches
    workerpatch.install()
    assert zipimport.zipimporter.invalidate_caches is first
    assert getattr(zipimport.zipimporter, "_ne_lazy_inval", False)


def test_unchanged_archive_skips_reparse(tmp_path):
    workerpatch.install()
    zp = str(tmp_path / "a.zip")
    _make_zip(zp, "m1.py", b"X = 1\n")
    zi = zipimport.zipimporter(zp)
    zi.invalidate_caches()  # first call parses + stamps
    files_before = zi._files
    zi.invalidate_caches()  # unchanged: directory object is REUSED
    assert zi._files is files_before
    # a fresh instance (the per-task recreation case) also reuses it
    zi2 = zipimport.zipimporter(zp)
    zi2.invalidate_caches()
    assert zi2._files is files_before


def test_changed_archive_still_invalidates(tmp_path):
    workerpatch.install()
    zp = str(tmp_path / "b.zip")
    _make_zip(zp, "m2.py", b"X = 1\n")
    zi = zipimport.zipimporter(zp)
    zi.invalidate_caches()
    assert "m2.py" in {k for k in zi._files}
    # replace the archive with different content AND a different stamp
    _make_zip(zp, "m3.py", b"Y = 2\n")
    st = os.stat(zp)
    os.utime(zp, (st.st_atime, st.st_mtime + 5))
    zi.invalidate_caches()
    names = {k for k in zi._files}
    assert "m3.py" in names and "m2.py" not in names


def test_vanished_archive_falls_back(tmp_path):
    workerpatch.install()
    zp = str(tmp_path / "c.zip")
    _make_zip(zp, "m4.py", b"X = 1\n")
    zi = zipimport.zipimporter(zp)
    zi.invalidate_caches()
    os.remove(zp)
    # must not raise from the patch itself; stdlib semantics apply
    try:
        zi.invalidate_caches()
    except Exception as e:  # pragma: no cover - stdlib may raise here
        assert isinstance(e, Exception)
    assert zp not in workerpatch._DIR_CACHE


def test_importing_any_engine_module_installs_the_patch():
    """One install call, in ``io``: the package ``__init__`` imports it
    before any submodule, so a fresh process that imports only an
    operator module (what unpickling an engine UDF does on a worker)
    is patched."""
    import subprocess
    import sys

    code = (
        "import zipimport\n"
        "before = getattr(zipimport.zipimporter, '_ne_lazy_inval', False)\n"
        "import newsmaper_etl_spark.operators.text\n"
        "print(before, getattr(zipimport.zipimporter, '_ne_lazy_inval', False))\n"
    )
    env = {k: v for k, v in os.environ.items()
           if k != "NEWSMAPER_LAZY_ZIPIMPORT"}
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run([sys.executable, "-c", code], cwd=root, env=env,
                         capture_output=True, text=True, check=True)
    assert out.stdout.split() == ["False", "True"]
