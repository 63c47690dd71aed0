"""PySpark's worker daemon, with zip-archive directories re-read only when
the archive changed.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``), so that files
shipped with ``addPyFile`` become importable. On CPython 3.11 that call
makes every cached ``zipimport.zipimporter`` re-read its archive's whole
central directory: one importer per package imported out of
``pyspark.zip`` (1,328 entries), plus the py4j zip and the spark-core
jar that ``PythonUtils.sparkPythonPath`` puts on the worker's path -
16 reads, 26,672 entries, 0.27-0.44 s of every Python task. (Later
CPython releases make this invalidation lazy for the same reason.)

Here an importer re-reads only when its archive's mtime or size moved
since the directory it would reuse was read, so a file replaced under
the same name is still picked up. Selected by ``session.ENGINE_CONF``
(``spark.python.daemon.module``); run as ``python -m`` like
``pyspark.daemon``.
"""

from __future__ import annotations

import importlib
import os
import zipimport

#: archive path -> (mtime_ns, size) when its cached directory was read.
_read_at: dict[str, tuple[int, int] | None] = {}
_reread = zipimport.zipimporter.invalidate_caches


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that reuses the cached directory
    while the archive's stamp is the one it was read at."""
    stamp = _stamp(self.archive)
    cached = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and cached is not None and _read_at.get(self.archive) == stamp:
        self._files = cached
        return
    _reread(self)
    _read_at[self.archive] = stamp


def main() -> None:
    from pyspark import daemon

    zipimport.zipimporter.invalidate_caches = invalidate_if_changed
    # Read each archive once here, so the forked workers start stamped.
    importlib.invalidate_caches()
    daemon.manager()


if __name__ == "__main__":
    main()
