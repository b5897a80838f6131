"""Session-factory contracts: the driver JIT policy `get_spark`
launches its JVM with, the warehouse dir it creates only for a new
session, and the one shuffle width both `get_spark` and `ensure_conf`
derive from the session."""

from __future__ import annotations

import glob
import os
import tempfile

#: The tier-4 (C2) thresholds `session.JIT_JAVA_OPTIONS` sets: 10x the
#: JDK 17 defaults (5000, 600, 15000, 40000).
TIER4 = {
    "Tier4InvocationThreshold": "50000",
    "Tier4MinInvocationThreshold": "6000",
    "Tier4CompileThreshold": "150000",
    "Tier4BackEdgeThreshold": "400000",
}


def test_driver_jvm_runs_with_tier4_thresholds(spark, monkeypatch):
    """The live VM options of the session's JVM carry the four
    thresholds, and they come through defaultJavaOptions: `get_spark`
    sets no extraJavaOptions, which stay the caller's (Spark itself
    appends its module flags there)."""
    from pyspark.sql import SparkSession

    from ethereum_export_pipeline_spark.session import get_spark
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName(
            "com.sun.management.HotSpotDiagnosticMXBean"))
    live = {name: bean.getVMOption(name).getValue() for name in TIER4}
    assert live == TIER4

    keys = []
    config = SparkSession.Builder.config

    def recording(self, key=None, value=None, *args, **kwargs):
        keys.append(key)
        return config(self, key, value, *args, **kwargs)
    monkeypatch.setattr(SparkSession.Builder, "config", recording)
    get_spark("tests", cpus=4)
    assert "spark.driver.defaultJavaOptions" in keys
    assert "spark.driver.extraJavaOptions" not in keys
    extra = spark.sparkContext.getConf().get("spark.driver.extraJavaOptions", "")
    assert "Tier4" not in extra


def test_get_spark_on_live_session_creates_no_warehouse_dir(spark):
    """A `get_spark` call that returns the live session must not
    create (and leak) another warehouse temp dir."""
    from ethereum_export_pipeline_spark.session import get_spark
    pattern = os.path.join(tempfile.gettempdir(), "spark_graft_wh_*")
    before = set(glob.glob(pattern))
    assert get_spark("tests", cpus=4) is spark
    assert set(glob.glob(pattern)) == before


def test_shuffle_width_follows_session_not_host(spark, monkeypatch):
    """`ensure_conf` (here through an `isolated_session` child) sizes
    shuffles from the session's cores, as `get_spark` does, not from
    the host's CPU count."""
    from ethereum_export_pipeline_spark.session import isolated_session
    monkeypatch.setattr(os, "cpu_count", lambda: 64)
    want = str(max(spark.sparkContext.defaultParallelism, 4))
    assert spark.conf.get("spark.sql.shuffle.partitions") == want
    child = isolated_session(spark)
    assert child.conf.get("spark.sql.shuffle.partitions") == want
