"""Driver-heap sizing rule of ``get_spark`` (no JVM is started here)."""

from __future__ import annotations

import pytest
from pyspark.sql import SparkSession

from mircv_project_spark import session
from mircv_project_spark.session import driver_memory

GIB = 1 << 30


def test_one_gib_per_thread_on_the_large_host():
    assert driver_memory("local[32]", cpus=32, phys_bytes=128 * GIB) == "32g"
    assert driver_memory("local[*]", cpus=32, phys_bytes=128 * GIB) == "32g"
    assert driver_memory("local", cpus=32, phys_bytes=128 * GIB) == "1g"
    assert driver_memory("local[8, 3]", cpus=32, phys_bytes=128 * GIB) == "8g"


def test_capped_at_half_of_physical_memory():
    assert driver_memory("local[4]", cpus=4, phys_bytes=16 * GIB) == "4g"
    # a 16 GB host reports a little under 16 GiB: the cap is then in MiB
    assert driver_memory("local[32]", cpus=4, phys_bytes=15 * GIB + GIB // 2) == "7936m"
    assert driver_memory("local[*]", cpus=32, phys_bytes=16 * GIB) == "8g"


def test_non_local_master_uses_host_cores_under_the_cap():
    for master in ("spark://head:7077", "yarn", "local-cluster[2,1,1024]"):
        assert driver_memory(master, cpus=16, phys_bytes=128 * GIB) == "16g"
        assert driver_memory(master, cpus=16, phys_bytes=8 * GIB) == "4g"


def test_unknown_physical_memory_leaves_the_thread_rule():
    assert driver_memory("local[4]", cpus=4, phys_bytes=None) == "4g"


def test_override_wins():
    assert driver_memory("local[32]", 32, 128 * GIB, override="3g") == "3g"
    assert driver_memory("local[4]", 4, 16 * GIB, override="12g") == "12g"


@pytest.mark.parametrize(
    "master,phys,override,want",
    [
        ("local[32]", 128 * GIB, None, "32g"),
        ("local[4]", 16 * GIB, None, "4g"),
        ("local[32]", 128 * GIB, "3g", "3g"),
    ],
)
def test_get_spark_asks_for_the_rule(monkeypatch, master, phys, override, want):
    """get_spark hands the rule's value to the builder; getOrCreate is
    stubbed to return the builder, so no JVM starts."""
    monkeypatch.setattr(session, "physical_memory_bytes", lambda: phys)
    if override is None:
        monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", override)
    monkeypatch.setenv("ARROW_DEFAULT_MEMORY_POOL", "system")
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda self: self)

    builder = session.get_spark(master=master)
    assert builder._options["spark.driver.memory"] == want


def test_python_daemon_module_only_where_workers_can_import_it(tmp_path):
    """The package's own daemon serves only a JVM this call launches for
    a local master, and only when the package sits in the workers' cwd,
    on PYTHONPATH or in site-packages; anything else keeps pyspark's."""
    import os

    here = os.path.dirname(os.path.dirname(session.__file__))
    ours = "mircv_project_spark.worker_daemon"
    for master in ("local", "local[4]", "local[*]", "local[4, 2]"):
        assert session.python_daemon_module(master, here, None, False) == ours
    assert session.python_daemon_module(
        "local[4]", str(tmp_path), os.pathsep.join(["/nowhere", here]), False
    ) == ours
    # a JVM already up (spark-submit, an earlier session) has its own env
    assert session.python_daemon_module("local[4]", here, None, True) is None
    for master in ("spark://head:7077", "yarn", "local-cluster[2,1,1024]"):
        assert session.python_daemon_module(master, here, here, False) is None
    assert session.python_daemon_module("local[4]", str(tmp_path), None, False) is None


def test_get_spark_selects_the_daemon_for_a_new_local_jvm(monkeypatch):
    import os

    from pyspark import SparkContext

    here = os.path.dirname(os.path.dirname(session.__file__))
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda self: self)
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    monkeypatch.chdir(here)
    builder = session.get_spark(master="local[2]")
    assert (
        builder._options["spark.python.daemon.module"]
        == "mircv_project_spark.worker_daemon"
    )
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "1")
    builder = session.get_spark(master="local[2]")
    assert "spark.python.daemon.module" not in builder._options
