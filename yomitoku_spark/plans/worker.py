"""Python-worker hygiene for the fused extraction kernel.

pyspark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``worker_util.setup_spark_files``) so that files shipped with
the job become importable. Under Python 3.11 that makes every
``zipimporter`` the worker holds re-read its archive's whole central
directory — a reused worker holds about sixteen of them over
``$SPARK_HOME/python/lib/pyspark.zip`` (1328 entries), which the JVM puts
first on the worker path, so each task pays ~0.2 CPU-s before the kernel
runs. :func:`install_zip_stat_shim` keys the re-read on the archive's
(inode, size, mtime_ns): a changed archive is still re-read — the reason
pyspark invalidates — while an unchanged one keeps its directory.

The daemon that forks the workers also runs a full ``gc.collect()`` in a
reused worker after every task, which walks every object the worker's
imports left: ~73.5k objects, 43–84 ms a pass in a worker on a 4-core
host. :func:`freeze_worker_heap` moves them, once per process, to the
permanent generation that no collection walks (under 1 ms a pass).
"""

from __future__ import annotations

import gc
import os
import zipimport


def _stat_key(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def install_zip_stat_shim() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only when
    its stat changed since the last read. Idempotent; call it from code
    that runs on the Python worker, once per process is enough."""
    orig = zipimport.zipimporter.invalidate_caches
    if getattr(orig, "stat_keyed", False):
        return
    read_at: dict[str, tuple[int, int, int]] = {}  # archive → stat at its last read

    def invalidate_caches(self):
        key = _stat_key(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if key is not None and files is not None and read_at.get(self.archive) == key:
            self._files = files
            return
        orig(self)
        if key is not None:
            read_at[self.archive] = key

    invalidate_caches.stat_keyed = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def freeze_worker_heap() -> None:
    """Collect once, then freeze what survives (the imported modules and
    their objects) out of every later collection. Only the first call in
    a process freezes; call it from code that runs on the Python worker."""
    if gc.get_freeze_count() == 0:
        gc.collect()
        gc.freeze()
