"""``geomesa_hive_spark._worker``: the zip-directory reuse installed in
Spark Python workers. Each check runs in a fresh interpreter, so this
process's ``zipimport`` is never patched."""

import os
import subprocess
import sys
import textwrap

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# a zip holding pkg/__init__.py, pkg/m1.py and top1.py on sys.path, both
# modules imported (so the archive has two importers: its root and pkg/),
# and ``reads()``: how often zipimport has read the archive's directory
_PRELUDE = """
import importlib, os, sys, zipfile, zipimport

ARCHIVE = os.path.join(sys.argv[1], "lib.zip")

def write(*names):
    with zipfile.ZipFile(ARCHIVE + ".tmp", "w") as z:
        for n in names:
            z.writestr(n, "")
    os.replace(ARCHIVE + ".tmp", ARCHIVE)

write("pkg/__init__.py", "pkg/m1.py", "top1.py")
sys.path.insert(0, ARCHIVE)
import pkg.m1, top1
importers = [v for v in sys.path_importer_cache.values()
             if isinstance(v, zipimport.zipimporter) and v.archive == ARCHIVE]
assert len(importers) == 2, importers

_read, _reads = zipimport._read_directory, []

def _counting(path):
    _reads.append(path)
    return _read(path)

zipimport._read_directory = _counting

def reads():
    n = _reads.count(ARCHIVE)
    _reads.clear()
    return n

from geomesa_hive_spark import _worker
"""


def _run(tmp_path, body, prelude=_PRELUDE):
    env = dict(os.environ, PYTHONPATH=_ROOT)
    code = prelude + textwrap.dedent(body) + "\nprint('ok')\n"
    out = subprocess.run([sys.executable, "-c", code, str(tmp_path)], env=env,
                         capture_output=True, text=True, timeout=120)
    assert out.returncode == 0 and out.stdout.strip() == "ok", out.stderr


def test_unchanged_archive_is_not_read_again(tmp_path):
    _run(tmp_path, """
        _worker.install()
        importlib.invalidate_caches()
        assert reads() == 1      # the first importer reads, its sibling shares it
        importlib.invalidate_caches()
        assert reads() == 0
    """)


def test_rewritten_archive_is_read_once_and_seen_by_every_importer(tmp_path):
    _run(tmp_path, """
        _worker.install()
        importlib.invalidate_caches()
        write("pkg/__init__.py", "pkg/m1.py", "pkg/m2.py", "top1.py", "top2.py")
        reads()
        importlib.invalidate_caches()
        assert reads() == 1
        import pkg.m2, top2      # pkg.m2 comes through the pkg/ importer
    """)


def test_deleted_archive_gets_the_stock_behaviour(tmp_path):
    _run(tmp_path, """
        _worker.install()
        os.remove(ARCHIVE)       # before this process has stamped it
        importlib.invalidate_caches()
        assert all(i._files == {} for i in importers)
        assert ARCHIVE not in zipimport._zip_directory_cache
    """)


def test_install_wraps_once(tmp_path):
    _run(tmp_path, """
        stock = zipimport.zipimporter.invalidate_caches
        _worker.install()
        _worker.install()
        assert zipimport.zipimporter.invalidate_caches is _worker._invalidate_caches
        assert _worker._stock is stock
        importlib.invalidate_caches()
        assert reads() == 1
    """)


def test_package_import_leaves_zipimport_stock_outside_workers(tmp_path):
    """The guard only looks at ``sys.modules``: with pyspark unimportable
    the package still imports, and nothing is wrapped."""
    _run(tmp_path, """
        import sys, zipimport
        stock = zipimport.zipimporter.invalidate_caches
        sys.modules["pyspark"] = None
        import geomesa_hive_spark
        assert zipimport.zipimporter.invalidate_caches is stock
        assert "geomesa_hive_spark._worker" not in sys.modules
    """, prelude="")
