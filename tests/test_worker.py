"""The worker's stat-keyed zipimport shim, in-process: an archive on
``sys.path`` keeps its directory across ``importlib.invalidate_caches()``
while unchanged, and is re-read (new content importable) once rewritten.
The worker's heap freeze, in a subprocess: it freezes once per process."""

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from yomitoku_spark.plans.worker import install_zip_stat_shim


def _write_zip(path, value):
    # a new file renamed over the old one, as a redeploy would
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        z.writestr("shimmod.py", f"VALUE = {value!r}\n")
    os.replace(tmp, path)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    path = str(tmp_path / "lib.zip")
    _write_zip(path, 1)
    # the stock method comes back at teardown
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    reads = []
    read_directory = zipimport._read_directory

    def counting(p):
        if p == path:
            reads.append(p)
        return read_directory(p)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.syspath_prepend(path)
    monkeypatch.delitem(sys.modules, "shimmod", raising=False)
    yield path, reads
    sys.modules.pop("shimmod", None)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)


def test_unchanged_archive_is_not_reread(archive):
    path, reads = archive
    assert importlib.import_module("shimmod").VALUE == 1
    n = len(reads)
    importlib.invalidate_caches()
    assert len(reads) == n + 1  # stock zipimport: a re-read per call
    install_zip_stat_shim()
    install_zip_stat_shim()  # idempotent: never wraps itself
    importlib.invalidate_caches()  # first call records the stat
    n = len(reads)
    for _ in range(3):
        importlib.invalidate_caches()
    assert len(reads) == n
    sys.modules.pop("shimmod")
    assert importlib.import_module("shimmod").VALUE == 1


def test_rewritten_archive_is_reread(archive):
    path, reads = archive
    assert importlib.import_module("shimmod").VALUE == 1
    install_zip_stat_shim()
    importlib.invalidate_caches()
    n = len(reads)
    _write_zip(path, "rewritten")
    importlib.invalidate_caches()
    assert len(reads) == n + 1
    sys.modules.pop("shimmod")
    assert importlib.import_module("shimmod").VALUE == "rewritten"
    importlib.invalidate_caches()
    assert len(reads) == n + 1


_FREEZE_JOB = """
import gc
from yomitoku_spark.plans.worker import freeze_worker_heap

assert gc.get_freeze_count() == 0
freeze_worker_heap()
frozen = gc.get_freeze_count()
assert frozen > 1000, frozen  # the imports' objects
later = [[i] for i in range(1000)]  # would be frozen by a second freeze
freeze_worker_heap()
assert gc.get_freeze_count() == frozen, (gc.get_freeze_count(), frozen)
"""


def test_heap_freeze_once_per_process():
    """The first call freezes what the imports left; a second call in the
    same process freezes nothing more. In a subprocess, so that this
    process is never frozen."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=root)
    p = subprocess.run([sys.executable, "-c", _FREEZE_JOB], capture_output=True, text=True,
                       env=env, timeout=120)
    assert p.returncode == 0, p.stderr[-3000:]
