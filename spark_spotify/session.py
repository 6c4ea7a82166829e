"""SparkSession factory tuned for the local[N] harness but configured the way a
large cluster run would be (AQE on, UTC, sane shuffle parallelism).

At 100 TB the same settings hold: AQE re-plans shuffle partition counts and skew
joins at runtime, so the static ``spark.sql.shuffle.partitions`` is only the
initial value; session timezone is pinned UTC so event-time semantics never
depend on the submitting host (the reference mixed naive and UTC datetimes —
SURVEY.md §7.3).
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import SparkSession

from spark_spotify.functions.scratch import sweep_orphaned_tmp

_HUGE_METHOD_FLAG = "-XX:-DontCompileHugeMethods"


def _verify_jit_flag(spark: SparkSession) -> None:
    """Builder-set ``spark.driver.extraJavaOptions`` only takes effect when
    THIS process launches the JVM; under spark-submit client mode or a
    pre-existing gateway it is silently ignored — and with it the 20×
    dot-product speedup.  Ask the live JVM (HotSpotDiagnosticMXBean) whether
    the flag actually landed and warn loudly if not, so a cluster deploy
    learns at startup, not from a 40 s pair stage."""
    try:
        jvm = spark.sparkContext._jvm
        mx = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
            jvm.Class.forName(
                "com.sun.management.HotSpotDiagnosticMXBean"
            )
        )
        val = mx.getVMOption("DontCompileHugeMethods").getValue()
        if val != "false":
            warnings.warn(
                f"JVM was launched without {_HUGE_METHOD_FLAG} (builder "
                "extraJavaOptions ignored by a pre-existing JVM). Unrolled "
                "vector dot products will run INTERPRETED (~100x slower). "
                "Pass it via spark-submit --driver-java-options / "
                "--conf spark.executor.extraJavaOptions.",
                RuntimeWarning,
                stacklevel=3,
            )
    except Exception:
        pass  # diagnostics bean unavailable (non-HotSpot JVM): best effort


def get_spark(app_name: str = "spark_spotify") -> SparkSession:
    sweep_orphaned_tmp()
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # int64-micros timestamps, not the legacy INT96 default: INT96 is
        # deprecated AND carries no parquet min/max statistics, which
        # blinds the manifest data-skipping index (warehouse/manifest.py
        # _part_stats) on every timestamp column — the same setting
        # Delta/Iceberg mandate for their file-skipping stats
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # reclaim reliable-checkpoint files once their DataFrames are GC'd
        # (stable_checkpoint uses checkpoint() when a checkpoint dir is set;
        # without this a long-lived cluster session's checkpoint dir grows
        # by one output-sized relation per call, unbounded)
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        # The unrolled 64-term vector dot products generate methods past
        # the JVM's 8000-bytecode JIT ceiling, which silently run
        # INTERPRETED (~10 us per dot instead of ~0.1 us) — HotSpot's
        # DontCompileHugeMethods default.  Lifting it took the semantic-
        # dedup pair stage from 40 s to 2 s at the 10x probe and
        # accelerates every sim_*/dedup_emb_* query.  Driver option
        # covers local mode (driver == executor); the executor twin is
        # what a cluster submit must carry.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:-DontCompileHugeMethods -XX:ReservedCodeCacheSize=512m",
        )
        .config(
            "spark.executor.extraJavaOptions",
            "-XX:-DontCompileHugeMethods -XX:ReservedCodeCacheSize=512m",
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    _verify_jit_flag(spark)
    return spark


def pin_session(spark: SparkSession) -> SparkSession:
    """Pin runtime-settable confs on a session we did not create (the driver
    hands us its own session).  UTC is required for oracle hash parity."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    return spark
