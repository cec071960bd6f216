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
"""

from __future__ import annotations

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
