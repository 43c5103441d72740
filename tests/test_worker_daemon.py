"""Change-aware zip re-reads in Spark Python workers (``worker_daemon``)."""

from __future__ import annotations

import os
import zipfile

from mircv_project_spark import worker_daemon


def _write_zip(path, names):
    with zipfile.ZipFile(path, "w") as z:
        for n in names:
            z.writestr(n, "x = 1\n")


def test_archive_is_reread_only_when_it_changes(tmp_path):
    path = str(tmp_path / "pkg.zip")
    _write_zip(path, ["a.py"])
    reads = []

    def reread(self):
        reads.append(self.archive)

    invalidate = worker_daemon._invalidate_if_changed(reread)

    class Importer:
        archive = path

    imp = Importer()
    invalidate(imp)
    invalidate(imp)
    invalidate(imp)
    assert reads == [path]
    # a replaced archive (new size and mtime) is read again
    _write_zip(path, ["a.py", "b.py"])
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    invalidate(imp)
    invalidate(imp)
    assert reads == [path, path]
    # a missing archive is left to the original method every time
    os.remove(path)
    invalidate(imp)
    invalidate(imp)
    assert reads == [path, path, path, path]


def test_patched_importer_still_sees_a_replaced_archive(tmp_path):
    """The wrapped zipimporter method itself: modules added to a
    replaced archive import after invalidation, as without the patch."""
    import zipimport

    path = str(tmp_path / "mods.zip")
    _write_zip(path, ["first_mod.py"])
    imp = zipimport.zipimporter(path)
    invalidate = worker_daemon._invalidate_if_changed(
        zipimport.zipimporter.invalidate_caches
    )
    invalidate(imp)
    assert imp.find_spec("second_mod") is None
    _write_zip(path, ["first_mod.py", "second_mod.py"])
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    invalidate(imp)
    assert imp.find_spec("second_mod") is not None


def test_every_python_worker_of_the_test_session_has_the_patch(spark):
    """The session's workers fork from ``worker_daemon``: even a task
    running only pyspark's own code (an RDD map importing nothing of
    this package) sees the change-aware re-read."""

    def probe(_):
        import zipimport

        return hasattr(zipimport.zipimporter.invalidate_caches, "_mircv_reread")

    flags = spark.sparkContext.parallelize(range(8), 4).map(probe).collect()
    assert flags == [True] * 8
