"""The bounded stream run (spark_spotify/streaming/drain.py): a failing
sink surfaces to the caller with the query stopped and the session conf
restored, the run scopes the state-partition count, and a checkpointed
drain resumes from its committed offsets."""

from __future__ import annotations

import os

import pytest

from spark_spotify.functions.scratch import scratch
from spark_spotify.sources.tables import land_file
from spark_spotify.streaming.drain import (
    STREAM_STATE_PARTITIONS,
    drain,
    file_stream,
)

CONF = "spark.sql.shuffle.partitions"
SCHEMA = "id long"


@pytest.fixture
def stream_dir(spark):
    """A scratch dir holding a one-file parquet source (ids 0..2) under
    ``src``, with the session's partition count set apart from
    STREAM_STATE_PARTITIONS so a missed restore shows."""
    prior = spark.conf.get(CONF)
    spark.conf.set(CONF, str(STREAM_STATE_PARTITIONS + 3))
    try:
        with scratch("drain") as w:
            os.makedirs(os.path.join(w, "src"))
            land_file(spark.range(3), w, os.path.join(w, "src"), "f0")
            yield w
    finally:
        spark.conf.set(CONF, prior)


def test_a_failing_sink_propagates_and_leaves_nothing_running(
    spark, stream_dir
):
    before = spark.conf.get(CONF)

    def sink(batch_df, batch_id):
        raise RuntimeError("sink failed on purpose")

    with pytest.raises(Exception, match="sink failed on purpose"):
        drain(
            file_stream(spark, SCHEMA, os.path.join(stream_dir, "src")), sink
        )
    assert spark.conf.get(CONF) == before
    assert spark.streams.active == []


def test_a_checkpointed_drain_hands_the_sink_only_the_new_file(
    spark, stream_dir
):
    src = os.path.join(stream_dir, "src")
    ckpt = os.path.join(stream_dir, "ckpt")
    runs: list[list[int]] = []
    conf_in_run: set[str] = set()

    def sink(batch_df, batch_id):
        conf_in_run.add(spark.conf.get(CONF))
        runs[-1].extend(r["id"] for r in batch_df.collect())

    runs.append([])
    drain(file_stream(spark, SCHEMA, src), sink, ckpt)
    land_file(spark.range(10, 14), stream_dir, src, "f1")
    runs.append([])
    drain(file_stream(spark, SCHEMA, src), sink, ckpt)
    assert sorted(runs[0]) == [0, 1, 2]
    assert sorted(runs[1]) == [10, 11, 12, 13]
    assert conf_in_run == {str(STREAM_STATE_PARTITIONS)}
    assert spark.conf.get(CONF) == str(STREAM_STATE_PARTITIONS + 3)
