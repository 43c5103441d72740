"""``pyspark.daemon`` whose forked Python workers skip unchanged zip
re-reads before each task.

Before every task, pyspark's worker calls ``importlib.invalidate_caches()``
(``worker_util.setup_spark_files``), and on Python 3.11 that makes every
cached ``zipimporter`` re-parse its archive's whole central directory.  A
worker holds about 16 of them: one per imported package directory inside
``pyspark.zip`` (1.3k entries), py4j's zip and the spark-core jar (5.4k
entries, twice).  That is ~0.15 s of CPU per Python task, repeated for
every task although none of those archives changes, and on small inputs
it outweighs the UDF itself (a warm ``topk_from_blocks_pruned`` batch on
the sf0.001 corpus spent 16 of its 18 Python-worker CPU seconds there;
the UDF bodies took ~1 s).

``install`` keeps the re-read but makes it conditional: a zipimporter
re-reads its archive only when the file's (mtime, size) differs from its
last read, so a replaced ``--py-files`` archive is still picked up.  Run
as the daemon module, this installs it before the first fork, so it
covers every worker, including those that only run pyspark's own code
(the row conversion behind ``createDataFrame`` of a Python list).
``session.get_spark`` selects it through ``spark.python.daemon.module``
where the workers can import it (see ``session.python_daemon_module``).
"""

from __future__ import annotations

import os
import zipimport


def _archive_stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_if_changed(reread):
    def invalidate_caches(self):
        stamp = _archive_stamp(self.archive)
        if stamp is None or stamp != getattr(self, "_mircv_archive_stamp", None):
            reread(self)
            self._mircv_archive_stamp = stamp

    invalidate_caches._mircv_reread = reread
    return invalidate_caches


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` in this process."""
    cls = zipimport.zipimporter
    cls.invalidate_caches = _invalidate_if_changed(cls.invalidate_caches)


if __name__ == "__main__":
    import pyspark.daemon

    install()
    pyspark.daemon.manager()
