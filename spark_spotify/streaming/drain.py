"""One bounded stream run: every streaming query in the engine starts,
drains and stops here.

A run is an ``availableNow`` trigger, so it processes what the source
holds at start and terminates, which is what lets a streaming result
match a relational oracle.  :func:`drain` hands each micro-batch to a
``foreachBatch`` sink, optionally against a checkpoint so a later drain
resumes from the committed offsets; :func:`_run_to_memory` collects the
emitted rows into a memory table.  Both scope
``spark.sql.shuffle.partitions`` to :data:`STREAM_STATE_PARTITIONS` for
the run and restore it afterwards, and both stop the query however the
run ends.

This module imports nothing else from the package, so index maintainers
outside ``streaming/`` can use it without loading the stream gates.
"""

from __future__ import annotations

import uuid
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter

# Stateful operators allocate one state store, plus per-batch checkpoint
# commit files, PER shuffle partition, and a bounded replay does trivial
# per-partition work, so the state-partition count is pure fixed cost
# here (measured 22 s -> 5 s at sf0.1 going 32 -> 4 partitions).  On a
# real cluster state partitions are sized to executors x cores (state
# shards are the unit of parallel recovery and scale-out), not to a
# micro-batch's row count.
STREAM_STATE_PARTITIONS = 4

_PARTITIONS_CONF = "spark.sql.shuffle.partitions"


def _run(spark: SparkSession, writer: DataStreamWriter) -> None:
    """Start ``writer`` as an availableNow run under the scoped state-
    partition count, wait for it to drain, and stop it; an exception
    raised by the run (a failing sink included) propagates after the
    query is stopped and the conf restored."""
    old = spark.conf.get(_PARTITIONS_CONF)
    spark.conf.set(_PARTITIONS_CONF, str(STREAM_STATE_PARTITIONS))
    try:
        q = writer.trigger(availableNow=True).start()
        try:
            q.awaitTermination()
        finally:
            q.stop()
    finally:
        spark.conf.set(_PARTITIONS_CONF, old)


def drain(
    stream: DataFrame,
    sink: Callable[[DataFrame, int], None],
    ckpt: str | None = None,
) -> None:
    """Run ``stream`` to completion through the ``foreachBatch`` sink.
    With ``ckpt`` the run commits its source offsets there, so a second
    drain on the same ``ckpt`` hands the sink only what arrived since."""
    writer = stream.writeStream.foreachBatch(sink)
    if ckpt is not None:
        writer = writer.option("checkpointLocation", ckpt)
    _run(stream.sparkSession, writer)


def _run_to_memory(
    spark: SparkSession, streaming_df: DataFrame, prefix: str
) -> DataFrame:
    """Run ``streaming_df`` to completion in append mode into a memory
    sink and return the emitted rows."""
    name = f"{prefix}_{uuid.uuid4().hex[:12]}"
    _run(
        spark,
        streaming_df.writeStream.outputMode("append")
        .format("memory")
        .queryName(name),
    )
    return spark.table(name)


def file_stream(spark: SparkSession, schema, src: str) -> DataFrame:
    """A parquet file-source stream over the directory ``src`` that cuts
    one micro-batch per file, so each landed file is one batch."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
