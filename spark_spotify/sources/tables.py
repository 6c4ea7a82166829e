"""Parquet table catalog over the driver's synthetic warehouse.

Replaces the reference's three storage tiers (MongoDB bronze, PostgreSQL
silver/gold — SURVEY.md §1.1) with columnar Parquet scans.  Catalyst pushes
filters and prunes columns into these scans for free; at 100 TB the same reads
would hit a date-partitioned Parquet/Delta layout and get partition pruning on
top (the reference's incremental watermark scan, daily_etl_pipeline.py:132-137,
becomes a pruned partition read).
"""

from __future__ import annotations

import glob
import math
import os
from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_spotify.session import pin_session
from spark_spotify.warehouse import path_rows

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one warehouse table. Plain column-pruned, filter-pushdown parquet
    scan — never collect, never infer.

    ``events.ts`` has shipped as both parquet TIMESTAMP (current testdata,
    timestamp[us]) and TIMESTAMP(NANOS) read as a long
    (``spark.sql.legacy.parquet.nanosAsLong``, older drops).  Branch on the
    column's actual type: timestamps pass through untouched; a bigint is
    truncated ns->us — the same truncation DuckDB applies — so event-time
    values are bit-identical across engines either way.
    """
    pin_session(spark)
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        return normalize_event_ts(df)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Coerce ``events.ts`` to session-zone TIMESTAMP whatever the file wrote.

    - timestamp (LTZ): pass through;
    - timestamp_ntz (current testdata, parquet timestamp[us]
      isAdjustedToUTC=false): reinterpret in the UTC-pinned session zone —
      identical wall-clock and epoch micros;
    - bigint (legacy TIMESTAMP(NANOS) via nanosAsLong): truncate ns->us,
      matching DuckDB's own ns->us truncation.

    Shared by the batch catalog and the streaming reader so the two paths
    can never diverge again (round-1 postmortem: they did).
    """
    ts_type = dict(df.dtypes).get("ts", "")
    if ts_type == "timestamp":
        return df
    if ts_type.startswith("timestamp"):
        return df.withColumn("ts", F.to_timestamp(F.col("ts")))
    return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))


def fan_out(df: DataFrame, min_partitions: int = 32) -> DataFrame:
    """Round-robin repartition before CPU-heavy per-row work (shingling,
    hashing, gram explosion).

    Small dimension-sized tables arrive as a single parquet row group — one
    input partition — so without this every downstream per-row expression
    runs on one core no matter how wide the cluster is.  The repartition
    shuffles only the *input* rows (cheap), not the exploded output.  At
    100 TB inputs already arrive in thousands of file splits and this becomes
    a no-op: we only widen, never coalesce.

    Partition count is ESTIMATED from the scan's input files (a driver-side
    metadata call; ``df.rdd.getNumPartitions()`` would force the Python RDD
    conversion on every load).  File count alone is not enough — Spark
    packs small files together (``spark.sql.files.maxPartitionBytes`` /
    ``openCostInBytes``), so 40×1 MB files still land in ONE scan
    partition; when the sizes are locally resolvable we replay the packing
    formula, and when they are not (object-store paths) many files are
    taken at face value — the conservative direction, since widening is
    the cheap side of the trade-off."""
    files = df.inputFiles()
    if len(files) < min_partitions:
        return df.repartition(min_partitions)
    spark = df.sparkSession
    max_split = _bytes_conf(spark, "spark.sql.files.maxPartitionBytes")
    open_cost = _bytes_conf(spark, "spark.sql.files.openCostInBytes")
    total = 0
    for f in files:
        path = f.removeprefix("file:")
        if not os.path.isfile(path):
            return df  # non-local storage: trust the split count
        total += os.path.getsize(f.removeprefix("file:"))
    est = math.ceil((total + len(files) * open_cost) / max(max_split, 1))
    if est >= min_partitions:
        return df
    return df.repartition(min_partitions)


def _bytes_conf(spark: SparkSession, key: str) -> int:
    """Parse a size conf like '134217728b' / '128m' to bytes."""
    raw = str(spark.conf.get(key)).strip().lower()
    units = {"b": 1, "k": 1024, "m": 1024**2, "g": 1024**3}
    if raw and raw[-1] in units:
        return int(float(raw[:-1]) * units[raw[-1]])
    return int(raw)


def land_file(df: DataFrame, base: str, src: str, name: str) -> int:
    """Land ``df`` as ONE parquet file ``{src}/{name}.parquet`` for a
    file-source stream: written under ``{base}/stage_{name}`` and renamed
    in, so the stream never lists a partial file.  Returns the file's row
    count from its footer, so a caller asserting on the landed
    cardinality never executes the plan a second time."""
    stage = os.path.join(base, f"stage_{name}")
    df.coalesce(1).write.parquet(stage)
    part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
    dst = os.path.join(src, f"{name}.parquet")
    os.rename(part, dst)
    return path_rows(dst)


@lru_cache(maxsize=None)
def table_rows(sf_dir: str, name: str) -> int | None:
    """Exact row count from the parquet FOOTER — a driver-side metadata
    read, no Spark job — for plan-time sizing decisions (broadcast
    gating, quantizer cell counts).  Returns None when the path is not
    locally resolvable (object store); callers must then take the
    conservative branch (no broadcast / default sizing).  Cached per
    (sf_dir, table) so repeated plan construction costs nothing."""
    try:
        return path_rows(f"{sf_dir}/{name}.parquet")
    except Exception:  # unreadable footer => size unknown => no broadcast
        return None


def dim_broadcast(
    df: DataFrame, sf_dir: str, table: str, max_rows: int
) -> DataFrame:
    """Broadcast hint gated on ``table``'s parquet-footer row count: the
    hint is only attached when the dim PROVABLY fits (hints are honored
    unconditionally, so an unconditional hint on a corpus-scaled dim —
    customer/supplier/part grow with SF — would collect the whole table
    to the driver on a real cluster).  Unknown or over-bound sizes leave
    the join a plain equi-join; AQE still converts it to a broadcast at
    runtime if the built side turns out small."""
    n = table_rows(sf_dir, table)
    if n is not None and n <= max_rows:
        return F.broadcast(df)
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so Spark SQL text queries can run
    against the same catalog names the DuckDB oracle uses."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
