"""SparkSession factory.

Local-mode defaults follow the tuning notes in the public Spark docs:
shuffle partitions ~ cores (not 200), AQE on (runtime coalesce + skew
join), Arrow on for the Pandas-UDF slow path, UTC session timezone so
results compare cleanly against a DuckDB oracle (naive-UTC timestamps).

``spark.sql.legacy.parquet.nanosAsLong=true`` is kept for corpus
generations whose ``events.parquet`` carries TIMESTAMP(NANOS) (the
vanilla Spark 4 Parquet reader rejects those); with the flag that
column reads as a nanosecond-epoch BIGINT. Either way
`sources.tables.with_event_time` normalizes to `ts` + `ts_ns`.
"""

from __future__ import annotations

import os

from pyspark import SparkContext
from pyspark.sql import SparkSession

from .util import scratch_dir

#: Runtime-settable confs that `ensure_conf` applies to sessions we did
#: not create (e.g. the correctness driver's session).
RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # THE round-10/11 "heavy-Arrow py-path step" fix (SCALE.md has the
    # full bisect). Spark 4.1's JVM→Python Arrow writer calls
    # ArrowWriter.sizeInBytes() PER INPUT ROW to enforce this byte cap
    # (BatchedPythonArrowInput.writeSizedBatch; the check is skipped
    # only at the Int.MaxValue sentinel). sizeInBytes walks the root
    # StructVector's children through virtual calls that HotSpot
    # devirtualizes while only the primitive vector classes are
    # loaded; the FIRST Arrow batch carrying binary/string/array
    # columns loads more ValueVector subclasses, the devirtualization
    # is invalidated JVM-wide, and every later mapInPandas pays ~2×
    # (measured: a 64-row, few-KB type-diverse batch permanently
    # stepped a fixed 8M-row canary 0.76 → 1.72 s; with the sentinel
    # the same canary reads 0.57-0.65 s before AND after). At the
    # sentinel, batches are bounded by maxRecordsPerBatch (10000) ×
    # row width — fine for this engine's media blobs (≤ KBs); a
    # 100 TB deployment pushing ~10 MB binary rows through
    # mapInPandas must lower maxRecordsPerBatch (e.g. 64) or restore
    # the byte cap for those jobs, where wide rows amortize the
    # per-row check anyway.
    "spark.sql.execution.arrow.maxBytesPerBatch": "2147483647",
}


#: HotSpot tier-4 (C2) thresholds for the JVMs `get_spark` launches,
#: at 10x the JDK 17 defaults (5000 / 600 / 15000 / 40000). A perfbench
#: run is one cold JVM of ~100-200 short jobs; with the default
#: thresholds C2 promotes the driver's only-warm Catalyst planning code
#: within the first few jobs, and in a session that short those
#: compiles never pay back (JIT compiler threads were 33.5 of 74.9
#: CPU-s of an export_convert cycle). The price is paid by sessions
#: that repeat the same operators for minutes: warm-but-not-hot code
#: runs longer in profiled C1 code (warm corpus_dedup spans +8-30%, a
#: 90-s corpus_dedup loop and `bench.py` +4-5%, the 20M-row canary
#: +15-40%). Measured per candidate in SCALE.md ("Local-session JIT
#: budget"). JVM flags only take effect at launch, so sessions
#: `ensure_conf` adopts, and cluster executors, keep their own JIT.
#: Passed as ``spark.driver.defaultJavaOptions`` so a caller's own
#: ``spark.driver.extraJavaOptions`` still applies on top.
JIT_JAVA_OPTIONS = " ".join([
    "-XX:Tier4InvocationThreshold=50000",
    "-XX:Tier4MinInvocationThreshold=6000",
    "-XX:Tier4CompileThreshold=150000",
    "-XX:Tier4BackEdgeThreshold=400000",
])


def shuffle_width(spark: SparkSession) -> int:
    """Shuffle width ~ the session's cores (Spark's 200 default wastes
    scheduling overhead on local corpora; AQE coalesces further).
    Derived from the session, never from the host, so a child of a
    `get_spark(cpus=4)` session on a 32-core host still gets 4.

    On a cluster backend with ``spark.default.parallelism`` unset,
    ``defaultParallelism`` is the executor cores registered so far
    (floor 2): a session adopted before its executors register (e.g.
    under dynamic allocation) gets the floor of 4. AQE can merge
    partitions but not split them, so set ``spark.default.parallelism``
    on such clusters."""
    return max(spark.sparkContext.defaultParallelism, 4)


def local_builder(app_name: str = "ethereum_export_pipeline_spark",
                  cpus: int | None = None) -> SparkSession.Builder:
    """The builder behind `get_spark`: local master, Arrow, driver
    memory and JIT flags, no UI, the runtime confs and, when a new
    context is being built, a warehouse dir removed at exit. Callers
    that need further static confs (the event-logged scale suites) add
    them, call ``getOrCreate`` and then set the shuffle width as
    `get_spark` does."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.driver.defaultJavaOptions", JIT_JAVA_OPTIONS)
        .config("spark.ui.enabled", "false")
    )
    if SparkContext._active_spark_context is None:
        # a new context is being built (getOrCreate would otherwise
        # hand back the live session): keep managed tables (bucketed
        # saveAsTable) out of the repo cwd, in a dir removed at exit
        builder = builder.config("spark.sql.warehouse.dir",
                                 scratch_dir("spark_graft_wh_"))
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return builder


def get_spark(app_name: str = "ethereum_export_pipeline_spark",
              cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a local SparkSession tuned for this engine
    (`local_builder`), with the shuffle width of `shuffle_width`.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all cores. On a real
    cluster the same confs apply, minus master/driver-memory and the
    driver JIT flags (`JIT_JAVA_OPTIONS`), which the cluster manager
    owns.
    """
    spark = local_builder(app_name, cpus).getOrCreate()
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_width(spark)))
    spark.sparkContext.setLogLevel("WARN")
    return spark


def isolated_session(spark: SparkSession) -> SparkSession:
    """A child session (same SparkContext, same cached data, SEPARATE
    runtime SQLConf) for work that must mutate session confs — the
    streaming entry points clamp ``spark.sql.shuffle.partitions``
    around stateful query start and flip ``partitionOverwriteMode``
    for upsert sinks. Running those on a child keeps the mutation
    invisible to any query concurrently planning on the caller's
    session (set/restore on a SHARED session has a race window).
    The child gets the same runtime confs `ensure_conf` guarantees."""
    return ensure_conf(spark.newSession())


def ensure_conf(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable confs to an externally created session.

    The correctness driver hands us its own SparkSession; these confs
    are all runtime-settable so queries behave identically there.
    Shuffle width is `shuffle_width` — results are
    partitioning-independent by the exactness rules, so it only
    affects speed.
    """
    confs = dict(RUNTIME_CONFS)
    confs["spark.sql.shuffle.partitions"] = str(shuffle_width(spark))
    for k, v in confs.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on this build — keep going
    return spark
