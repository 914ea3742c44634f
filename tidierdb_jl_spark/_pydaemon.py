"""Python worker daemon for the sessions ``get_spark`` starts
(``spark.python.daemon.module``).

Spark forks every Python-UDF worker from one daemon process per executor.
This module is pyspark's own daemon (``pyspark.daemon.manager``) with two
changes to the state the workers inherit:

- ``zipimporter.invalidate_caches`` re-reads an archive's central
  directory only when the archive's ``(mtime, size)`` has changed.  The
  worker calls ``importlib.invalidate_caches()`` at the start of every
  task, and on CPython 3.10+ that makes each zipimporter on the path
  (over a dozen for ``pyspark.zip`` alone, one per package directory)
  re-read its whole archive: 200-250 ms per task, more than most
  kernels' work.
- numpy, pandas and pyarrow are imported before the first fork and the
  heap is then frozen (``gc.freeze``), so the collection the reuse loop
  runs after every task walks only the objects that task created, not
  the whole pandas/pyarrow heap (another 45-80 ms per task).

Neither change alters what a worker computes.  The imports leave native
threads in the daemon (OpenBLAS's pool, pyarrow's jemalloc background
thread); both libraries register fork handlers and restart them in the
child on demand.
"""

from __future__ import annotations

import gc
import importlib
import os
import zipimport

_reread = getattr(zipimport.zipimporter, "invalidate_caches", None)
# archive path -> (mtime_ns, size) when its directory was last read
_stamps: dict[str, tuple[int, int] | None] = {}


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips unchanged archives."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _reread(self)
    _stamps[self.archive] = stamp


def install() -> None:
    """Patch ``zipimporter`` in this process and read every archive on
    the import path once, so forked workers start with current stamps."""
    if _reread is None:  # CPython < 3.10: invalidate_caches is a no-op
        return
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    importlib.invalidate_caches()


def main() -> None:
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    from pyspark import daemon

    install()
    gc.collect()
    gc.freeze()
    daemon.manager()


if __name__ == "__main__":
    main()
