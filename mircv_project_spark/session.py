"""SparkSession factory with the engine's standard configuration."""

from __future__ import annotations

import os
import re
import site

from pyspark import SparkContext
from pyspark.sql import SparkSession

# local, local[N], local[*], local[N,F] / local[*,F] (F = task retries).
_LOCAL_MASTER = re.compile(r"local(?:\[(\d+|\*)\s*(?:,\s*\d+)?\])?")
_MIB = 1 << 20


def physical_memory_bytes() -> int | None:
    """Physical RAM of this host, or None where sysconf cannot say."""
    try:
        return os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    except (AttributeError, OSError, ValueError):
        return None


def driver_memory(
    master: str, cpus: int, phys_bytes: int | None, override: str | None = None
) -> str:
    """Default ``spark.driver.memory``: 1 GiB per local worker thread,
    never more than half of ``phys_bytes``.

    Threads come from ``master``: ``local`` is 1, ``local[N]`` is N,
    ``local[*]`` is ``cpus``.  A non-local master (``spark://``, ``yarn``,
    ``k8s://``, ``local-cluster[...]``) gets the ``local[*]`` value, 1 GiB
    per core of this host, under the same cap: the driver still collects
    results and runs the driver-side traversals there.  ``override``
    (``SPARK_GRAFT_DRIVER_MEM``) wins when set.  On a 32-core, 128 GiB
    host ``local[32]`` gives 32g; ``local[4]`` on 16 GiB gives 4g.
    """
    if override:
        return override
    m = _LOCAL_MASTER.fullmatch(master.strip())
    if m is None or m.group(1) == "*":
        threads = cpus
    else:
        threads = int(m.group(1) or 1)
    mib = threads * 1024
    if phys_bytes:
        mib = min(mib, phys_bytes // 2 // _MIB)
    return f"{mib // 1024}g" if mib % 1024 == 0 else f"{mib}m"


def python_daemon_module(
    master: str, cwd: str, pythonpath: str | None, jvm_running: bool
) -> str | None:
    """``spark.python.daemon.module`` for a session: ``worker_daemon``
    when every Python worker can import this package as it starts, else
    None (Spark's own ``pyspark.daemon``).

    That holds only when this call launches the JVM (``jvm_running``
    False) for a ``local``/``local[N]`` master: its workers then start
    with this process's ``cwd`` (the first entry of a ``python -m`` path)
    and ``PYTHONPATH``, and the directory (or zip) holding the package
    must be ``cwd``, a ``PYTHONPATH`` entry or a site-packages directory.
    A JVM started earlier, e.g. by ``spark-submit``, gives its workers its
    own environment, without the ``--py-files`` this process sees on its
    ``PYTHONPATH``.  Executors of any other master (``local-cluster[...]``
    included) may get the package only through ``--py-files``, which
    Spark adds per task, after the daemon has started.
    """
    if jvm_running or _LOCAL_MASTER.fullmatch(master.strip()) is None:
        return None
    here = os.path.realpath(os.path.dirname(os.path.dirname(__file__)))
    roots = [cwd, *(pythonpath or "").split(os.pathsep)]
    roots += site.getsitepackages() + [site.getusersitepackages()]
    if any(r and os.path.realpath(r) == here for r in roots):
        return f"{__package__}.worker_daemon"
    return None


def get_spark(
    app_name: str = "mircv-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession tuned for this engine.

    - Arrow enabled: every Python crossing is a vectorized pandas UDF.
    - AQE enabled (+ skew-join handling): runtime re-planning is the
      second line of defense after our explicit head-term salting.
    - shuffle partitions default to 2x cores locally; on a real cluster
      pass an explicit value sized to the input (see operators/index_build).
    - window/object-agg in-memory thresholds raised: the defaults spill
      any window partition over 4096 rows and fall back to sort-based
      aggregation past 128 hash keys — both pessimal for the docid
      window and the per-term collect_list agg on a machine with RAM to
      spare.  Memory-pressure-based spilling still applies.
    - Arrow memory pool pinned to the system allocator: pyarrow's
      bundled jemalloc madvise(MADV_HUGEPAGE)s its arenas, and on this
      sandbox kernel that feeds khugepaged collapse storms (measured
      >11 cores of pure kernel time + TLB-shootdown stalls across all
      JVM threads during wide pandas-UDF stages).  Same reason local
      dirs stay on disk rather than tmpfs: RAM-backed shuffle files
      wake khugepaged/compaction the same way.  Overridable via the
      standard ARROW_DEFAULT_MEMORY_POOL / SPARK_GRAFT_LOCAL_DIR envs.
    - driver heap from ``driver_memory``: 1 GiB per local worker
      thread, at most half of physical memory; a non-local master gets
      1 GiB per core of this host under the same cap.
      SPARK_GRAFT_DRIVER_MEM overrides it.
    - Python workers forked from ``worker_daemon`` where they can import
      it (``python_daemon_module``): it skips the zip-archive re-read
      pyspark's worker does before every task, ~0.15 s of CPU a task.
    """
    cpus = os.cpu_count() or 4
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_CPUS", cpus)) * 2

    os.environ.setdefault("ARROW_DEFAULT_MEMORY_POOL", "system")
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # 1 GiB per local worker thread (32g for local[32] on a 128 GiB
        # host) — still lean vs the 2-4 GiB/core a real cluster
        # executor gets.  A flat 12g (375 MiB/thread at local[32]) OOM'd
        # the 8x data-axis build (4M turns): stage caches + reduce-side
        # collect buffers are sized per task, and task memory must
        # scale with per-core share, not stay flat while parallelism
        # grows.  Capped at half of physical memory: a flat 32g on a
        # 16 GB host let the JVM grow past RAM until the kernel killed it.
        .config(
            "spark.driver.memory",
            driver_memory(
                master,
                cpus,
                physical_memory_bytes(),
                os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
            ),
        )
        .config("spark.ui.enabled", "false")
        # No console progress bars: the bench/driver artifacts capture a
        # bounded output tail, and the \r-escape progress spam can push
        # the headline JSON line out of that capture window.
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.windowExec.buffer.in.memory.threshold", "4194304")
        .config("spark.sql.windowExec.buffer.spill.threshold", "4194304")
        .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "131072")
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    daemon = python_daemon_module(
        master,
        os.getcwd(),
        os.environ.get("PYTHONPATH"),
        SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ,
    )
    if daemon:
        builder = builder.config("spark.python.daemon.module", daemon)
    return builder.getOrCreate()
