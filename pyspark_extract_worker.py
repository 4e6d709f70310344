"""Python worker entry for the engine's Spark sessions.

``build_session`` names this module in ``spark.python.worker.module``.
``pyspark.daemon`` imports it once and forks each worker from it, so it
sits beside the package directory: a worker imports it from the same
place it imports ``insurance_pdf_extractor_spark``. The daemon accepts
only module names that start with ``pyspark``.

Why: every Python task calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). Under Python 3.11 each
``zipimporter`` then re-reads the whole directory of its archive in
pure Python, and ``pyspark.zip`` holds thousands of entries. That cost
is paid per task, before the task reads a row. Here a zipimporter
re-reads its archive only when the archive's ``(st_ino, st_size,
st_mtime_ns)`` differs from the stamp taken at its last read. Directory
finders are invalidated as before, so a ``.py`` added with
``addPyFile`` is found; a new ``.zip`` gets a new importer and is read.

Nothing here may raise: if the daemon cannot import this module, every
Python UDF of the session fails. Only the stdlib and ``pyspark.worker``
are imported.
"""

import os
import zipimport


_reread = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self):
    # stat before the read: a rewrite during the read changes the stamp
    # again, so the next call reads once more
    try:
        st = os.stat(self.archive)
        stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
    except (OSError, ValueError):
        stamp = None
    if stamp is None or stamp != getattr(self, "_extract_stamp", None):
        _reread(self)
        self._extract_stamp = stamp


zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    # Without the daemon (``spark.python.use.daemon=false``) Spark starts
    # each worker as ``python -m <worker module>``.
    import runpy

    runpy.run_module("pyspark.worker", run_name="__main__", alter_sys=True)
else:
    from pyspark.worker import main  # noqa: F401  (the daemon calls main)
