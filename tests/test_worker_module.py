"""The Python worker entry module ``pyspark_extract_worker``: Spark
workers run it, files added with ``addPyFile`` mid-session still import,
and a zip archive is re-read only when it changed."""

from __future__ import annotations

import os
import sys
import zipfile
import zipimport

import pandas as pd
from pyspark import cloudpickle
from pyspark.sql import functions as F

WORKER_MODULE = "pyspark_extract_worker"

# workers cannot import this test module: ship its functions by value
cloudpickle.register_pickle_by_value(sys.modules[__name__])


def _run_udf(spark, fn) -> set[str]:
    """Distinct string results of ``fn()`` over eight Python tasks."""

    @F.pandas_udf("string")
    def probe(s: pd.Series) -> pd.Series:
        return s.map(lambda _: fn())

    df = spark.range(8).repartition(8)
    return {r[0] for r in df.select(probe(df.id.cast("string"))).distinct().collect()}


def _invalidate_owner() -> str:
    import zipimport as zi

    return zi.zipimporter.invalidate_caches.__module__


def test_session_workers_run_the_stamped_invalidate(spark):
    """The session's workers start from the worker module, so the conf
    cannot be dropped or misspelt without this failing."""
    assert spark.conf.get("spark.python.worker.module") == WORKER_MODULE
    assert _run_udf(spark, _invalidate_owner) == {WORKER_MODULE}


def _write_zip(path, files: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, text in files.items():
            z.writestr(name, text)


def test_add_py_file_after_tasks_still_imports(spark, tmp_path):
    """A ``.py`` lands in the SparkFiles directory that reused workers
    already list; a ``.zip`` is a new sys.path entry. Both import in a
    UDF after the session's workers have run tasks."""
    assert _run_udf(spark, _invalidate_owner) == {WORKER_MODULE}
    py = tmp_path / "extract_addpy_probe.py"
    py.write_text("VALUE = 'from-py'\n")
    zp = tmp_path / "extract_addzip_probe.zip"
    _write_zip(zp, {"extract_addzip_probe.py": "VALUE = 'from-zip'\n"})
    sc = spark.sparkContext
    sc.addPyFile(str(py))
    sc.addPyFile(str(zp))

    def imported() -> str:
        import extract_addpy_probe
        import extract_addzip_probe

        return f"{extract_addpy_probe.VALUE},{extract_addzip_probe.VALUE}"

    assert _run_udf(spark, imported) == {"from-py,from-zip"}


def test_archive_reread_only_when_changed(tmp_path, monkeypatch):
    # importing the worker module patches zipimporter in this process;
    # monkeypatch puts the method back afterwards
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    import pyspark_extract_worker  # noqa: F401

    assert zipimport.zipimporter.invalidate_caches.__module__ == WORKER_MODULE

    reads = []
    read_directory = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    arc = tmp_path / "stamped.zip"
    _write_zip(arc, {"a.py": "A = 1\n"})
    imp = zipimport.zipimporter(str(arc))
    assert len(reads) == 1  # the importer's own first read

    imp.invalidate_caches()  # no stamp yet: read and stamp
    imp.invalidate_caches()  # unchanged: no read
    imp.invalidate_caches()
    assert len(reads) == 2

    inode = os.stat(arc).st_ino
    _write_zip(arc, {"a.py": "A = 1\n", "b.py": "B = 2\n"})  # rewritten in place
    st = os.stat(arc)
    os.utime(arc, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert os.stat(arc).st_ino == inode
    assert imp.find_spec("b") is None
    imp.invalidate_caches()
    assert len(reads) == 3
    assert imp.find_spec("b") is not None
    imp.invalidate_caches()
    assert len(reads) == 3

    other = tmp_path / "other.zip"
    _write_zip(other, {"c.py": "C = 3\n"})
    zipimport.zipimporter(str(other)).invalidate_caches()  # a new archive is read
    assert reads[-2:] == [str(other), str(other)]
