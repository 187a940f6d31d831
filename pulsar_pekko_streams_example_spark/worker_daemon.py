"""Python worker daemon whose zip importers re-read an archive only when it
has changed on disk.

pyspark's worker calls ``importlib.invalidate_caches()`` at the start of every
task (``worker_util.setup_spark_files``).  On CPython 3.11 that makes every
``zipimporter`` on the path (one per package directory inside
``pyspark.zip`` and the py4j zip, 14-18 in a pandas-UDF worker) re-read its
archive's central directory: about 0.1 s of CPU per task, for archives that
never change while the executor runs.

Importing this module wraps ``zipimport.zipimporter.invalidate_caches``: an
importer's first call reads the archive as before, and later calls re-read it
only when its ``(st_ino, st_size, st_mtime_ns)`` differs from what that
importer last read.  An archive shipped with ``addPyFile`` gets a new
importer and a rewritten archive is re-read, so imports see the same files as
before; ``FileFinder`` invalidation is untouched.  A failed ``stat`` falls
through to the stdlib method.

Run as ``python -m pulsar_pekko_streams_example_spark.worker_daemon`` (what
``spark.python.daemon.module`` does), it is ``pyspark.daemon``: the forked
workers inherit the wrapper.
"""

from __future__ import annotations

import os
import zipimport

_stdlib_invalidate = zipimport.zipimporter.invalidate_caches


def _invalidate_if_changed(self) -> None:
    try:
        st = os.stat(self.archive)
    except OSError:
        return _stdlib_invalidate(self)
    key = (st.st_ino, st.st_size, st.st_mtime_ns)
    if getattr(self, "_read_key", None) != key:
        _stdlib_invalidate(self)
        self._read_key = key


zipimport.zipimporter.invalidate_caches = _invalidate_if_changed

if __name__ == "__main__":
    from pyspark.daemon import manager

    manager()
