"""default_driver_memory: the local-mode driver-heap sizing rule
(r15 optimization — guide §5 applied to the local-mode driver that
hosts every executor slot), and when get_spark applies it; the static
engine conf every get_spark builder carries, and how
apply_runtime_conf treats it on a session built elsewhere. No Spark
session: get_spark's builder options are captured instead of
launching a JVM, and apply_runtime_conf runs on a stub session. The
near-dup loop's plan-truncation default, which follows the same
local-master test, is checked on a stub session too."""

import logging

import pytest
from pyspark.sql import SparkSession

import cdk_datalake_ingest_spark.session as S


def test_env_override_wins(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert S.default_driver_memory() == "3g"


def test_scales_with_slot_count(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    val = S.default_driver_memory()
    # on any box with >= 32 GiB RAM the 32-slot formula yields
    # 256 MB/slot = 8192m; smaller boxes clamp to RAM/4 or fall back
    with open("/proc/meminfo") as f:
        mem_mb = int(f.readline().split()[1]) // 1024
    expect = min(32 * 256, mem_mb // 4)
    assert val == (f"{expect}m" if expect > 1024 else None)


def test_tiny_slot_count_keeps_stock_default(monkeypatch):
    # 4 slots -> 1024m == Spark's own default: return None, set nothing
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    assert S.default_driver_memory() is None


@pytest.fixture
def builder_options(monkeypatch, tmp_path):
    """get_spark with getOrCreate replaced by "return the options", a
    formula heap of 3g, and no user heap preset (an empty conf dir)."""
    monkeypatch.setattr(
        SparkSession.Builder, "getOrCreate", lambda self: dict(self._options)
    )
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path))
    return lambda master: S.get_spark(master=master)


@pytest.mark.parametrize("master", ["local", "local[4]", "local[*]"])
def test_plain_local_masters_get_the_heap(builder_options, master):
    assert builder_options(master)["spark.driver.memory"] == "3g"


@pytest.mark.parametrize(
    "master", ["local-cluster[2,1,1024]", "spark://host:7077", "yarn"]
)
def test_other_masters_keep_spark_default(builder_options, master):
    # local-cluster executors are separate JVMs, like a real cluster's
    assert "spark.driver.memory" not in builder_options(master)


def test_spark_driver_memory_env_wins(builder_options, monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "2g")
    assert "spark.driver.memory" not in builder_options("local[4]")


@pytest.mark.parametrize(
    "line", ["spark.driver.memory 2g", "spark.driver.memory=2g"]
)
def test_spark_defaults_conf_wins(builder_options, tmp_path, line):
    (tmp_path / "spark-defaults.conf").write_text(
        f"# user heap\nspark.executor.memory 4g\n{line}\n"
    )
    assert "spark.driver.memory" not in builder_options("local[4]")


def test_commented_spark_defaults_entry_is_ignored(builder_options, tmp_path):
    (tmp_path / "spark-defaults.conf").write_text("# spark.driver.memory 2g\n")
    assert builder_options("local[4]")["spark.driver.memory"] == "3g"


@pytest.mark.parametrize(
    "master", ["local[4]", "local-cluster[2,1,1024]", "spark://host:7077"]
)
def test_every_master_gets_the_codegen_cache_size(builder_options, master):
    # static conf: only the builder can set it, on any master
    assert builder_options(master)["spark.sql.codegen.cache.maxEntries"] == "4096"


class _StubConf:
    """A live session's conf: static keys refuse ``set`` like Spark's."""

    def __init__(self, static: dict):
        self.values = dict(static)

    def set(self, key, value):
        if key in S._STATIC_KEYS:
            raise RuntimeError(f"CANNOT_MODIFY_STATIC_CONFIG {key}")
        self.values[key] = value

    def get(self, key, default=None):
        return self.values.get(key, default)


class _StubSession:
    def __init__(self, static: dict):
        self.conf = _StubConf(static)


def _conf_warnings(caplog):
    return [r for r in caplog.records if r.name == S.__name__]


@pytest.mark.parametrize("static", [{}, {"spark.sql.codegen.cache.maxEntries": "100"}])
def test_foreign_session_warns_once_about_static_conf(caplog, static):
    caplog.set_level(logging.WARNING, logger=S.__name__)
    spark = _StubSession(static)
    for _ in range(3):  # once per gate, as queries._prep does
        S.apply_runtime_conf(spark)
    (warning,) = _conf_warnings(caplog)
    assert "spark.sql.codegen.cache.maxEntries" in warning.getMessage()
    assert all(spark.conf.values[k] == S.ENGINE_CONF[k] for k in S._RUNTIME_KEYS)
    # each session is checked on its own
    S.apply_runtime_conf(_StubSession(static))
    assert len(_conf_warnings(caplog)) == 2


def test_engine_built_session_does_not_warn(caplog):
    caplog.set_level(logging.WARNING, logger=S.__name__)
    spark = _StubSession({k: S.ENGINE_CONF[k] for k in S._STATIC_KEYS})
    S.apply_runtime_conf(spark)
    S.apply_runtime_conf(spark)
    assert _conf_warnings(caplog) == []


@pytest.mark.parametrize(
    "master,local",
    [("local[4]", True), ("local-cluster[2,1,1024]", False), ("spark://h:7077", False)],
)
def test_near_dup_loop_truncates_plans_only_on_local_masters(master, local):
    # the loop's localCheckpoint blocks die with their executor, so
    # ingest_batch truncates only where the executor is the driver
    from types import SimpleNamespace

    from cdk_datalake_ingest_spark.streaming import neardup

    assert S.is_local_master(master) is local
    spark = SimpleNamespace(sparkContext=SimpleNamespace(master=master))
    assert neardup._truncates_plans(spark) is local


@pytest.mark.parametrize(
    "master,local",
    [("local[4]", True), ("local-cluster[2,1,1024]", False), ("spark://h:7077", False)],
)
def test_snapshot_leaves_are_listed_on_the_driver_only_on_local_masters(
    master, local
):
    # a ManagedTable snapshot of up to MAX_SCOPED_PARTITIONS leaves is
    # listed without a Spark job where the driver is the executor
    from cdk_datalake_ingest_spark.operators.table import ManagedTable

    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    conf = S.local_master_conf(master)
    assert conf == ({key: str(ManagedTable.MAX_SCOPED_PARTITIONS)} if local else {})
