"""The engine's Python worker daemon: ``pyspark.daemon`` with a cheaper
zip-importer invalidation.

Every task a Python worker runs starts in
``pyspark/worker_util.py::setup_spark_files``, which ends with
``importlib.invalidate_caches()``. On CPython 3.11 and 3.12 that makes
every ``zipimport.zipimporter`` re-read its archive's central directory
at once. A worker that has run a pandas UDF holds one importer per
imported subpackage of ``pyspark.zip`` (16 of them, over an archive of
1328 entries), so each task re-reads the same directory 16 times.
Skipping those reads took ``gzip_compress`` over 1000 rows in 4 tasks
on 4 cores from ~430 to ~210 ms; plain Python gzips the same number of
trace payloads in ~15 ms. CPython 3.13 makes the call lazy: it only
drops the archive from ``zipimport._zip_directory_cache``.

Here an importer re-reads its archive only when the archive's
``(st_mtime_ns, st_size)`` differs from what it was when this importer
last read it, so a changed archive is still picked up. A failed
``stat`` falls back to the original call. The daemon installs the
replacement, then runs ``pyspark.daemon.manager()``; the workers it
forks inherit it.

``session.get_spark`` sets ``spark.python.daemon.module`` to this
module. The setting is static, so sessions the engine does not build
(``session.ensure_engine_conf``, ``__spark_entry__.py``) run the stock
daemon.
"""

from __future__ import annotations

import os
import zipimport

_invalidate_zip = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    try:
        st = os.stat(self.archive)
    except OSError:
        _invalidate_zip(self)
        return
    stamp = (st.st_mtime_ns, st.st_size)
    # the stamp is taken before the read: a rewrite racing the read
    # leaves an old stamp, which only costs one more read next time
    if getattr(self, "_read_stamp", None) != stamp:
        _invalidate_zip(self)
        self._read_stamp = stamp


def main() -> None:
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
