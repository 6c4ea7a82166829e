"""Structured Streaming surface (SURVEY.md §2.10).

The reference's "streaming" is a 2-hour cron micro-batch
(curl_spotify_tracker.py:358) with a watermark table
(daily_etl_pipeline.py:53-84) and idempotent re-delivery handling (:154).
Here that becomes a real Structured Streaming pipeline:

- file-source ``readStream`` over the events parquet (stand-in for a Kafka
  topic / file drop);
- ``withWatermark`` bounding late-data state (the reference's last-sync
  watermark, made an engine concept);
- tumbling-window hourly rollup in append mode (agg_daily_stats hourly twin);
- ``foreachBatch`` + merge_upsert as the exactly-once idempotent sink
  (ON CONFLICT DO NOTHING made transactional per micro-batch).

Emission semantics (append mode): a window is emitted once the final
watermark (max event time − delay) passes its end — deterministic for a
bounded availableNow run, which is what makes the oracle below possible.

Scale: state is bounded by watermark horizon × window count; the rollup
shuffles on (window, event_type) only; foreachBatch merges are delta-sized.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_spotify.functions.scratch import scratch, session_scratch
from spark_spotify.session import pin_session
from spark_spotify.sources.tables import land_file, normalize_event_ts
from spark_spotify.streaming.drain import _run_to_memory, drain, file_stream

WATERMARK_DELAY = "10 minutes"


def read_event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table.

    A streaming read needs an explicit schema; take it from a batch scan of
    the same file so the stream always sees the type the file actually wrote
    (timestamp[us] today, TIMESTAMP(NANOS)-as-long historically), then run
    the shared ``normalize_event_ts`` — one normalization path for batch and
    streaming.
    """
    pin_session(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    file_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # file streaming sources take a directory; target the single events file
    raw = (
        spark.readStream.schema(file_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_event_ts(raw)


def hourly_rollup(stream: DataFrame) -> DataFrame:
    return (
        stream.withWatermark("ts", WATERMARK_DELAY)
        .groupBy(F.window("ts", "1 hour"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("window.start").alias("hour_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def run_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive the streaming rollup to completion synchronously (availableNow +
    memory sink) and return the emitted result as a DataFrame."""
    return _run_to_memory(
        spark, hourly_rollup(read_event_stream(spark, sf_dir)), "rollup"
    )


def q_stream_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_hourly_rollup(spark, sf_dir)


SESSION_GAP = "30 minutes"


def session_rollup(stream: DataFrame) -> DataFrame:
    """Stateful session windows per user: a session extends while consecutive
    events arrive within SESSION_GAP; window end = last event + gap.  State
    per open session is bounded by the watermark horizon (closed sessions
    are evicted once the watermark passes their end)."""
    return (
        stream.withWatermark("ts", WATERMARK_DELAY)
        .groupBy(F.session_window("ts", SESSION_GAP), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "user_id",
            "n_events",
            "total_value",
        )
    )


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idempotent re-delivery, the engine way: the source stream unioned
    with itself simulates the reference's at-least-once double delivery
    (curl re-pulls the same plays every 2 h; ON CONFLICT DO NOTHING drops
    them, daily_etl_pipeline.py:154).  ``dropDuplicatesWithinWatermark``
    keys state by event_id and evicts it once the watermark passes the
    event's time — bounded state, unlike a global dropDuplicates.
    Output = each event exactly once (oracle: plain SELECT)."""
    src = read_event_stream(spark, sf_dir)
    doubled = src.unionByName(read_event_stream(spark, sf_dir))
    deduped = (
        doubled.withWatermark("ts", WATERMARK_DELAY)
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type")
    )
    return _run_to_memory(spark, deduped, "dedup")


def q_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_to_memory(
        spark, session_rollup(read_event_stream(spark, sf_dir)), "sessions"
    )


def q_stream_merge_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``foreachBatch`` + anti-join MERGE as the exactly-once idempotent
    sink (the reference's ON CONFLICT DO NOTHING per sync batch,
    daily_etl_pipeline.py:149-191, made transactional per micro-batch).
    The source is doubled to simulate at-least-once redelivery; each batch
    anti-joins its rows against the COMMITTED SNAPSHOT on event_id and
    appends only the novel delta as a new immutable part.  Output = each
    event exactly once.

    Since round 4 each micro-batch commits through the versioned
    warehouse's manifest protocol (``warehouse.commit_append``: write
    part, CAS-swing ``_latest.v{{N}}``) instead of an in-memory part list
    — so the streaming table gets the same snapshot isolation, time
    travel, VACUUM and crash-recoverable commit log as the batch
    warehouse, and a reader attached mid-stream sees only whole batches.

    Scale: each batch writes O(delta), never a table rewrite; the
    anti-join's existing side is pruned by partition/bucket on the merge
    key; parts are retired by retention/compaction (vacuum_table)."""
    from spark_spotify.warehouse import commit_append, read_table

    src = read_event_stream(spark, sf_dir)
    doubled = src.unionByName(read_event_stream(spark, sf_dir)).select(
        "event_id", "user_id", "event_type"
    )
    # the returned DataFrame reads the committed parts lazily, so cleanup
    # can't happen in-function — reclaim at interpreter exit like the
    # shared pipeline warehouse does (etl/pipeline.py)
    base = session_scratch("stream_merge")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        ss = batch_df.sparkSession
        delta = batch_df.dropDuplicates(["event_id"])
        existing = read_table(ss, base, "events_t")
        if existing is not None:
            delta = delta.join(
                existing.select("event_id"), "event_id", "left_anti"
            )
        commit_append(delta, base, "events_t", batch_id)

    drain(doubled, sink)
    out = read_table(spark, base, "events_t")
    if out is None:  # zero micro-batches (empty source)
        return spark.createDataFrame(
            [], "event_id long, user_id long, event_type string"
        )
    return out


USER_PROFILE_OUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
        T.StructField("first_ts", T.TimestampType()),
        T.StructField("last_ts", T.TimestampType()),
        T.StructField("max_value", T.DoubleType()),
    ]
)
USER_PROFILE_STATE = T.StructType(
    [
        T.StructField("n_events", T.LongType()),
        T.StructField("total_cents", T.LongType()),
        T.StructField("first_us", T.LongType()),
        T.StructField("last_us", T.LongType()),
        T.StructField("max_cents", T.LongType()),
    ]
)


def _user_profile_fn(key, pdf_iter, state):
    """Arbitrary-stateful per-user profile: accumulate exact integer cents
    (values carry <=2dp, so round(value*100) is lossless) — integer sums are
    associative and batch-order-independent, which is what lets a stateful
    Python operator hash-match a relational oracle."""
    import pandas as pd

    if state.exists:
        n, cents, first_us, last_us, max_cents = state.get
    else:
        n, cents, first_us, last_us, max_cents = 0, 0, None, None, None
    for pdf in pdf_iter:
        ts_us = pd.to_datetime(pdf["ts"]).astype("int64") // 1000
        ev_cents = pdf["value"].mul(100).round().astype("int64")
        n += len(pdf)
        cents += int(ev_cents.sum())
        b_first, b_last = int(ts_us.min()), int(ts_us.max())
        b_max = int(ev_cents.max())
        first_us = b_first if first_us is None else min(first_us, b_first)
        last_us = b_last if last_us is None else max(last_us, b_last)
        max_cents = b_max if max_cents is None else max(max_cents, b_max)
    state.update((n, cents, first_us, last_us, max_cents))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "total_value": [cents / 100.0],
            "first_ts": [pd.to_datetime(first_us, unit="us")],
            "last_ts": [pd.to_datetime(last_us, unit="us")],
            "max_value": [max_cents / 100.0],
        }
    )


def q_stream_user_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``
    (SURVEY.md §2.10 — the surface for operators Spark's built-in windows
    can't express): per-user running profile held as typed group state,
    updated per micro-batch through an Arrow-batched pandas function.

    State is five integers per user — bounded by user cardinality, not event
    volume; at 100 TB the state store shards by the groupBy key across
    executors.  A bounded availableNow run over the single-file source is
    one micro-batch, so the emitted snapshot equals the per-user aggregate
    and the relational oracle can gate it exactly (integer-cent arithmetic,
    no float accumulation order anywhere)."""
    src = read_event_stream(spark, sf_dir)
    profiled = (
        src.withWatermark("ts", WATERMARK_DELAY)
        .groupBy("user_id")
        .applyInPandasWithState(
            _user_profile_fn,
            outputStructType=USER_PROFILE_OUT,
            stateStructType=USER_PROFILE_STATE,
            outputMode="append",
            timeoutConf="NoTimeout",
        )
    )
    return _run_to_memory(spark, profiled, "profile")


def q_stream_enrich_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the event stream joined to the static
    customer dimension (broadcast) — the canonical streaming-ETL enrich
    step (the reference enriches each play with track/artist/album detail
    fetches, curl_spotify_tracker.py:479-562; set-wise here).  Stateless:
    no watermark or state store, each micro-batch joins against the dim
    snapshot and emits immediately.  At 100 TB/day the dim side stays
    broadcast-sized (or becomes a bucketed static table for a co-located
    join); the stream side never shuffles."""
    from spark_spotify.sources.tables import load_table

    src = read_event_stream(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_mktsegment").alias("segment")
    )
    enriched = src.join(
        F.broadcast(dim), src["user_id"] == dim["c_custkey"], "inner"
    ).select("event_id", "user_id", "segment", "event_type", "value")
    return _run_to_memory(spark, enriched, "enrich")


def sliding_rollup(stream: DataFrame) -> DataFrame:
    """Sliding-window rollup: 1-hour windows advancing every 30 minutes —
    each event lands in exactly 2 overlapping windows (the Expand doubles
    map output, still one shuffle on (window, event_type)).  Append-mode
    emission: a window leaves state once the watermark passes its end."""
    return (
        stream.withWatermark("ts", WATERMARK_DELAY)
        .groupBy(
            F.window("ts", "1 hour", "30 minutes"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("window.start").alias("win_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def q_stream_sliding_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_to_memory(
        spark, sliding_rollup(read_event_stream(spark, sf_dir)), "sliding"
    )


LATE_MOD = 97  # event_id % LATE_MOD == 0 rows are withheld into batch 3
# withheld rows are at least this much older than the split point, so their
# hourly windows are unambiguously closed when they arrive — the exact
# watermark value a given Spark version applies to batch-N input lags the
# commit-log value by up to one batch, and a margin wider than
# (window + watermark delay) makes the drop decision identical under
# either reading (observed: the lagged value; a boundary-window row
# diverged at sf0.1 before this margin existed)
LATE_MARGIN = "INTERVAL 2 HOURS"


def q_stream_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark LATE-DATA DROP semantics, end-to-end: the corpus is
    split at its mid-span timestamp; a deterministic slice of the FIRST
    half (event_id % 97 == 0) is withheld and delivered as a THIRD file
    after the whole second half.  ``maxFilesPerTrigger=1`` forces one
    micro-batch per file, so when the withheld rows finally arrive the
    watermark already stands at max(second half) − delay, their hourly
    windows have been emitted and evicted, and the stateful operator
    DROPS them (observed: ``numRowsDroppedByWatermark`` = the withheld
    count).  The one watermark behavior the engine's other streaming
    queries never exercise — their single-batch runs can't have late
    data by construction.  (A two-file replay does NOT drop: eviction
    happens at the END of the batch the late rows arrive in, so they are
    absorbed into still-live state first — the delivery must lag by a
    full batch, which is exactly how the semantics are specified.)

    Determinism: file order is pinned with explicit mtimes (the file
    source orders by modification time), the split and the late set are
    pure functions of the data, and the oracle replays the exact drop
    rule relationally.

    Scale: this IS the 100 TB late-data story — state is bounded by the
    watermark horizon regardless of how late the tail is; dropped rows
    cost nothing downstream."""
    import os
    import shutil

    from spark_spotify.etl.pipeline import split_ts
    from spark_spotify.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    cut = split_ts(ev)
    is_first = F.col("ts") <= F.lit(cut)
    is_late = (
        F.col("ts") <= F.lit(cut) - F.expr(LATE_MARGIN)
    ) & (F.col("event_id") % LATE_MOD == 0)
    batch_a = ev.filter(is_first & ~is_late)
    batch_b = ev.filter(~is_first)
    batch_c = ev.filter(is_late)

    with scratch("late") as stage:
        stream_dir = os.path.join(stage, "stream")
        os.makedirs(stream_dir)
        from spark_spotify.functions.concurrency import overlap

        batches = (
            ("a", batch_a, 1_000_000_000),
            ("b", batch_b, 1_000_000_100),
            ("c", batch_c, 1_000_000_200),
        )

        # the three delivery files are disjoint filters of one source
        # writing to disjoint staging dirs — STAGED concurrently (§2.6);
        # promotion into the stream dir stays sequential with explicit
        # mtimes, so the file source's arrival order is deterministic
        # regardless of which staging job finishes first (the
        # auto-retrain gate's batch-landing pattern)
        def _stage_write(name: str, df: DataFrame) -> None:
            df.coalesce(1).write.mode("overwrite").parquet(
                os.path.join(stage, f"w_{name}")
            )

        overlap(
            *[(lambda n=n, d=d: _stage_write(n, d)) for n, d, _ in batches]
        )
        for name, _df, mtime in batches:
            tmp = os.path.join(stage, f"w_{name}")
            part = next(
                f for f in os.listdir(tmp) if f.endswith(".parquet")
            )
            dest = os.path.join(stream_dir, f"{name}.parquet")
            shutil.move(os.path.join(tmp, part), dest)
            os.utime(dest, (mtime, mtime))  # pin file-source order
        raw = file_stream(
            spark, spark.read.parquet(stream_dir).schema, stream_dir
        )
        out = _run_to_memory(
            spark, hourly_rollup(normalize_event_ts(raw)), "late"
        )
        # materialize the memory sink's rows before the source files go away
        return spark.createDataFrame(out.collect(), out.schema)


ATTRIBUTION_WINDOW = "30 minutes"


def q_stream_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: click events joined to purchase events
    of the same user landing within the 30-minute attribution window —
    the real-time conversion-attribution shape.  Both sides carry
    watermarks; the event-time range condition is what lets Spark bound
    each side's join state (clicks older than watermark − 30 min are
    evicted).  Inner-join matches emit as soon as both rows have arrived,
    so a bounded availableNow run emits exactly the relational join and
    the oracle can gate it row-for-row.

    Scale: state is watermark-horizon-sized per side, sharded by the join
    key; no unbounded buffering, no cross product — the range predicate
    prunes pairs inside the keyed state store."""
    clicks = (
        read_event_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", WATERMARK_DELAY)
    )
    purchases = (
        read_event_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", WATERMARK_DELAY)
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")
        ),
        "inner",
    ).select(
        "click_id",
        "purchase_id",
        "user_id",
        "click_ts",
        "purchase_ts",
        "purchase_value",
    )
    return _run_to_memory(spark, joined, "attrib")


def q_stream_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — the other half of the
    join surface after ``stream_click_purchase``'s inner variant, with
    the distinct state-eviction semantics worth proving: an UNMATCHED
    click is emitted with NULL purchase columns only when the global
    watermark passes the point where a matching purchase could still
    arrive (click_ts + attribution window), i.e. at state EVICTION — the
    row was held exactly as long as a match was possible and not a
    moment longer.

    Emission rule (pinned empirically against two synthetic boundary
    probes and encoded in the oracle): matched pairs emit as in the
    inner join; an unmatched click emits iff

        click_ts + 30 min  <  min(max click_ts, max purchase_ts) − delay

    — STRICT inequality, global watermark = the MIN across both inputs
    (Spark's default multipleWatermarkPolicy), each input's watermark =
    its max event time − {WATERMARK_DELAY}.  Unmatched clicks YOUNGER
    than that horizon are still live state when the bounded availableNow
    run terminates and are correctly NOT emitted — the oracle encodes
    the same cut, which is what makes this gate deterministic.

    Scale: identical state posture to the inner join (watermark-horizon
    state per side, sharded by user key); the only addition is the
    null-emission walk of evicted-unmatched state, O(evicted)."""
    clicks = (
        read_event_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", WATERMARK_DELAY)
    )
    purchases = (
        read_event_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", WATERMARK_DELAY)
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")
        ),
        "left_outer",
    ).select(
        "click_id",
        "purchase_id",
        "user_id",
        "click_ts",
        "purchase_ts",
        "purchase_value",
    )
    return _run_to_memory(spark, joined, "attrib_lo")


def q_stream_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpointed restart/recovery — the contract that makes Structured
    Streaming exactly-once END TO END across process restarts: a query
    stopped and relaunched with the same ``checkpointLocation`` resumes
    from its committed source offsets, so already-ingested files are
    never reprocessed and only genuinely new files are.  (The other
    streaming gates replay bounded sources in one run; this one proves
    the RESTART path, which is what a production deployment actually
    exercises on every deploy/crash.)

    Rig: the events table is staged into a source directory in two
    waves split at the mid-span cut.  Run 1 (availableNow) ingests wave
    1 into the manifest-committed sink; wave 2's file then lands; run 2
    restarts against the SAME checkpoint and must process exactly the
    wave-2 rows — asserted — with the sink ending at each event exactly
    once (the oracle: plain SELECT).  Sink commits ride the versioned
    warehouse's CAS manifest protocol, so a crash between batch and
    commit re-offers the batch (at-least-once) and the manifest keeps
    the table consistent."""
    import os as _os

    from spark_spotify.etl.pipeline import split_ts
    from spark_spotify.functions import require
    from spark_spotify.sources.tables import load_table
    from spark_spotify.warehouse import (
        commit_append,
        part_rows,
        read_table,
    )

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    cut = split_ts(events)
    base = session_scratch("stream_resume")
    src = _os.path.join(base, "src")
    _os.makedirs(src)

    land_file(events.filter(F.col("ts") <= F.lit(cut)), base, src, "wave1")
    counts: dict = {}

    def run(phase: str) -> None:
        def sink(batch_df: DataFrame, batch_id: int) -> None:
            # commit first, then take the batch cardinality from the
            # written part's parquet footers — the batch plan executes
            # ONCE instead of once for the count and once for the write
            # (guide §1.2); footer rows == batch rows exactly, the same
            # metadata contract land_file() above uses
            commit_append(batch_df, base, "t", f"{phase}{batch_id}")
            # commit_append writes the delta as part p{version}
            counts[phase] = counts.get(phase, 0) + part_rows(
                base, "t", [f"p{phase}{batch_id}"]
            )

        drain(
            file_stream(spark, events.schema, src),
            sink,
            _os.path.join(base, "ckpt"),
        )

    run("a")
    n2 = land_file(events.filter(F.col("ts") > F.lit(cut)), base, src, "wave2")
    run("b")
    require(
        counts.get("b", 0) == n2,
        f"restart must process exactly the new file "
        f"({counts.get('b', 0)} != {n2})",
    )
    return read_table(spark, base, "t").select(
        "event_id", "user_id", "event_type"
    )


def q_stream_txn_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming micro-batches committing ACROSS TABLES atomically —
    every ``foreachBatch`` stages its fact delta AND the refreshed gold
    rollup, then lands both through the durable-intent multi-table
    transaction (``warehouse.multi_commit``), so no DURABLE state
    ever pairs batch-N facts with batch-(N-1) gold.

    The gate drills the crash that matters, from a real streaming
    micro-batch: wave 1's batch dies BETWEEN the two swings (intent
    durable, fact swung, gold not — the torn state is asserted), the
    restart path runs ``recover_transactions`` (the session-start hook)
    which rolls the intent FORWARD, and the stream relaunches against
    the SAME checkpoint: the redelivered wave-1 rows anti-join away
    (at-least-once made idempotent) and wave 2 lands atomically.

    Gold is maintained INCREMENTALLY — old gold combined with the
    delta's partial aggregates (exact: integer counts + the scaled-long
    lsum, associative by construction) — so each batch costs O(delta +
    gold), never a fact-table rescan; recovery is metadata-only.

    Oracle: the gold rollup over the full corpus — a torn, dropped, or
    double-applied batch fails the hash."""
    import json
    import os as _os
    import time as _time

    from spark_spotify.etl.pipeline import split_ts
    from spark_spotify.functions import require
    from spark_spotify.warehouse import (
        TXN_DIR,
        current_version,
        manifest_parts,
        multi_commit,
        read_table,
        recover_transactions,
        swing_rebase,
    )
    from spark_spotify.functions.agg import lsum
    from spark_spotify.sources.tables import load_table

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value", "ts"
    )
    cut = split_ts(events)
    base = session_scratch("stream_txn")
    src = _os.path.join(base, "src")
    _os.makedirs(src)

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            lsum(F.col("value")).alias("total_value"),
        )

    def combine(gold: DataFrame, part: DataFrame) -> DataFrame:
        return (
            gold.unionByName(part)
            .groupBy("event_type")
            .agg(
                F.sum("n_events").alias("n_events"),
                lsum(F.col("total_value")).alias("total_value"),
            )
        )

    crash = {"armed": True}
    attempt: dict = {}

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        ss = batch_df.sparkSession
        delta = batch_df.dropDuplicates(["event_id"]).select(
            "event_id", "user_id", "event_type", "value"
        )
        cur = read_table(ss, base, "f")
        if cur is not None:
            delta = delta.join(
                cur.select("event_id"), "event_id", "left_anti"
            )
        if delta.isEmpty():
            return  # redelivered batch fully absorbed: idempotent skip
        # part names carry a per-batch attempt counter: a batch
        # redelivered after a crash stages NEW parts (its recovered
        # predecessor's parts are committed table state, never reused)
        k = attempt.get(batch_id, 0)
        attempt[batch_id] = k + 1
        fpart, gpart = f"fb{batch_id}a{k}", f"gb{batch_id}a{k}"
        tag = f"b{batch_id}a{k}"
        gold = read_table(ss, base, "s")
        gnew = rollup(delta) if gold is None else combine(gold, rollup(delta))
        # the fact part and the gold part are independent staging
        # writes to disjoint tables (gnew reads the delta PLAN, not the
        # written part) — overlapped (§2.6); both must land before the
        # intent/commit below, which overlap's join guarantees
        from spark_spotify.functions.concurrency import overlap as _ov

        _ov(
            lambda: delta.coalesce(1).write.parquet(
                _os.path.join(base, "f", fpart)
            ),
            lambda: gnew.coalesce(1).write.parquet(
                _os.path.join(base, "s", gpart)
            ),
        )
        old_gold = manifest_parts(base, "s") or []
        if crash["armed"]:
            crash["armed"] = False
            # the drill: durable intent, fact swing, DEATH before gold
            _os.makedirs(_os.path.join(base, TXN_DIR), exist_ok=True)
            tx = {
                "_ts": _time.time(),
                "f": {
                    "base": current_version(base, "f"),
                    "added": [fpart],
                    "removed": [],
                },
                "s": {
                    "base": current_version(base, "s"),
                    "added": [gpart],
                    "removed": list(old_gold),
                },
            }
            with open(
                _os.path.join(base, TXN_DIR, f"{tag}.json"), "w"
            ) as fh:
                json.dump(tx, fh)
            swing_rebase(base, "f", tx["f"]["base"], [fpart])
            raise RuntimeError("simulated crash between the two swings")
        multi_commit(
            base, {"f": ([fpart], set()), "s": ([gpart], set(old_gold))}, tag
        )

    def run() -> Exception | None:
        try:
            drain(
                file_stream(spark, events.schema, src),
                sink,
                _os.path.join(base, "ckpt"),
            )
            return None
        except Exception as e:  # the injected crash surfaces here
            return e

    land_file(events.filter(F.col("ts") <= F.lit(cut)), base, src, "wave1")
    err = run()
    require(err is not None, "wave-1 run must die mid-transaction")
    require(
        manifest_parts(base, "f") == ["fb0a0"]
        and manifest_parts(base, "s") is None,
        "state must be torn before recovery (fact swung, gold not)",
    )
    # restart path: recover first (the session-start hook), then resume
    done = recover_transactions(base)
    require(done == ["b0a0"], f"recovered {done}, expected ['b0a0']")
    require(
        manifest_parts(base, "s") == ["gb0a0"],
        "roll-forward must complete the gold swing",
    )
    land_file(events.filter(F.col("ts") > F.lit(cut)), base, src, "wave2")
    err = run()
    require(err is None, f"restarted stream must complete: {err}")
    require(
        recover_transactions(base) == [],
        "no transaction may be pending after a clean run",
    )
    return read_table(spark, base, "s").select(
        "event_type", "n_events", "total_value"
    )


ERASE_USERS = (3, 11)  # deterministic GDPR-stream subjects


def q_stream_mor_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming GDPR erasure over the versioned warehouse — the
    privacy pipeline a training-data store actually runs: a stream of
    right-to-be-forgotten REQUESTS is applied to the committed fact
    table per micro-batch as MERGE-ON-READ deletes.  Each batch's
    subject set (delta-sized by contract) becomes one
    ``delete_rows(mode='mor')`` commit: an O(deleted rows) deletion-
    vector sidecar, ZERO part rewrites across the whole stream
    (inode-proven at the end), and re-delivered requests are absorbed
    by the existing-vector anti-filter (no-op commits).  At 100 TB this
    is the only shape that keeps erasure latency independent of part
    sizes; compaction later folds the vectors away.  Oracle: the
    events projection minus every erased subject."""
    import os as _os

    from spark_spotify.functions import require
    from spark_spotify.warehouse import (
        commit_append,
        delete_rows,
        manifest_parts,
        part_inodes,
        read_table,
    )
    from spark_spotify.sources.tables import load_table

    # the even half of the corpus: the gate's cost is stream fixed
    # costs + per-batch probe scans, which the half-corpus exercises
    # identically (the oracle carries the same cut)
    events = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 2 == 0)
        .select("event_id", "user_id", "event_type", "value")
    )
    base = session_scratch("stream_mor")
    commit_append(events, base, "f", 1)
    before = part_inodes(base, "f", ["p1"])
    src = _os.path.join(base, "src")
    _os.makedirs(src)

    # one multi-subject request file, plus a REDELIVERY of one subject —
    # file sources cut one micro-batch per file under
    # maxFilesPerTrigger=1, so the stream exercises a real erasure batch
    # AND the idempotent-redelivery batch.  SQL VALUES, not
    # createDataFrame: a Python-parallelize-backed plan pays ~5 s per
    # action on this runtime (see warehouse/scan._write_bloom_sidecar),
    # which dominated this gate
    for name, users in (
        ("req0", ERASE_USERS),
        ("req_redelivered", ERASE_USERS[:1]),
    ):
        vals = ", ".join(f"(CAST({int(u)} AS BIGINT))" for u in users)
        land_file(
            spark.sql(f"SELECT subject FROM VALUES {vals} AS t(subject)"),
            base,
            src,
            name,
        )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        subjects = [
            r["subject"] for r in batch_df.distinct().collect()
        ]
        if not subjects:
            return
        delete_rows(
            batch_df.sparkSession,
            base,
            "f",
            F.col("user_id").isin(subjects),
            f"b{batch_id}",
            mode="mor",
        )

    drain(
        file_stream(spark, "subject long", src),
        sink,
        _os.path.join(base, "ckpt"),
    )
    require(
        part_inodes(base, "f", ["p1"]) == before
        and manifest_parts(base, "f") == ["p1"],
        "streamed MOR erasure must never rewrite a part",
    )
    from spark_spotify.warehouse import read_manifest

    m = read_manifest(base, "f")
    # exactly ONE vector: the erasure batch commits one sidecar, the
    # redelivered batch is absorbed as a no-op by the existing vector
    require(
        len(m["dv"].get("p1", [])) == 1,
        f"one vector for the batch, redelivery a no-op: {m['dv']}",
    )
    return read_table(spark, base, "f")


MERGE_MOR_USERS = (11, 13)  # redelivered-update subjects for the gate


def q_stream_merge_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC upserts committed per micro-batch as MERGE-ON-READ
    MERGE — the end state a 100 TB CDC pipeline runs: trickle updates
    land with ZERO part rewrites (matched rows become one row-sized
    deletion-vector sidecar per batch; updates + inserts append as one
    part), compaction folds the vectors on its own schedule.

    The stream carries an occurrence count: batch 1 delivers the whole
    corpus (pure inserts, ``n_seen=1``), batch 2 redelivers two users'
    events (matched -> ``n_seen = t.n_seen + s.n_seen``, a partial-SET
    update arm) plus re-keyed fresh events (inserts).  Every part file
    present after the first batch keeps its inode through the rest of
    the stream — proven, not assumed — which is exactly what
    distinguishes this sink from the COW merge a small-table pipeline
    would use.  Batch order is immaterial: the accumulate arm is
    associative, so the oracle (per-event total occurrence counts) is
    deterministic under any micro-batch cut."""
    import os as _os

    from spark_spotify.functions import require
    from spark_spotify.warehouse import (
        matched_update,
        merge_rows,
        part_inodes,
        read_manifest,
        read_table,
    )
    from spark_spotify.sources.tables import load_table

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    base = session_scratch("stream_mmor")
    src = _os.path.join(base, "src")
    _os.makedirs(src)

    land_file(events, base, src, "wave0")
    upd = events.filter(F.col("user_id").isin(*MERGE_MOR_USERS))
    ins = events.filter(
        F.col("user_id") == MERGE_MOR_USERS[1]
    ).withColumn("event_id", -(F.col("event_id") + F.lit(1)))
    land_file(upd.unionByName(ins), base, src, "wave1")

    snap: dict = {}
    attempt: dict = {}

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        ss = batch_df.sparkSession
        # per-key occurrence count: within-batch duplicates fold here,
        # cross-batch ones through the accumulate arm — associative, so
        # the final count is batch-cut-independent
        delta = batch_df.groupBy("event_id").agg(
            F.min("user_id").alias("user_id"),
            F.min("event_type").alias("event_type"),
            F.count(F.lit(1)).alias("n_seen"),
        )
        k = attempt.get(batch_id, 0)
        attempt[batch_id] = k + 1
        merge_rows(
            ss,
            base,
            "t",
            delta,
            "event_id",
            f"w{batch_id}a{k}",
            when_matched=[
                matched_update(
                    assignments={
                        "n_seen": F.col("t.n_seen") + F.col("s.n_seen")
                    }
                )
            ],
            mode="mor",
        )
        if not snap:
            snap.update(part_inodes(base, "t"))  # after the FIRST batch

    drain(
        file_stream(spark, events.schema, src),
        sink,
        _os.path.join(base, "ckpt"),
    )
    after = part_inodes(base, "t")
    require(
        all(after.get(f) == ino for f, ino in snap.items()),
        "a later batch rewrote an earlier batch's part bytes",
    )
    m = read_manifest(base, "t")
    require(
        any(ns for ns in m["dv"].values()),
        "the update batch must land as deletion-vector sidecars",
    )
    from spark_spotify.functions.checkpoint import stable_checkpoint

    return stable_checkpoint(read_table(spark, base, "t"))


def q_stream_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming DISTRIBUTION-DRIFT monitor — `etl_profile_drift`'s
    arithmetic run as an MLOps stream job: micro-batches land through
    ``foreachBatch`` which appends only RAW histogram counts
    (wave, bucket, n) — no float math inside the sink — and the drift
    report re-aggregates those counts afterwards, so the result is
    BATCH-CUT-INDEPENDENT by construction (counts are associative; a
    wave split across batches re-sums to the same histogram).  Each
    wave (identified by event-id parity, a property of the DATA, not
    of batch ordering) is compared against the full-corpus reference:
    smoothed probabilities, L1 and chi-square terms per bucket — the
    same bit-exact per-bucket shape as the batch gate, every float op
    one identical IEEE sequence in both engines.

    Scale: the per-batch work is one 12-cell combinable aggregation
    over the batch (O(batch)); the monitor state on disk is
    O(waves × buckets) counts, never events."""
    import os as _os

    from spark_spotify.etl.expectations import DRIFT_BUCKETS, DRIFT_WIDTH
    from spark_spotify.sources.tables import load_table

    K = DRIFT_BUCKETS
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "value"
    )
    base = session_scratch("stream_drift")
    src = _os.path.join(base, "src")
    counts_dir = _os.path.join(base, "counts")
    _os.makedirs(src)

    for k in (0, 1):
        land_file(
            events.filter(F.col("event_id") % 2 == k), base, src, f"wave{k}"
        )

    bucket = F.least(
        F.floor(F.col("value") / DRIFT_WIDTH).cast("int"), F.lit(K - 1)
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.groupBy(
                (F.col("event_id") % 2).alias("wave"),
                bucket.alias("bucket"),
            )
            .agg(F.count(F.lit(1)).alias("n"))
            .write.mode("append")
            .parquet(counts_dir)
        )

    drain(
        file_stream(spark, events.schema, src),
        sink,
        _os.path.join(base, "ckpt"),
    )
    # drift report over the re-aggregated monitor counts: the sink may
    # have cut a wave across any number of batches — the sums agree
    cw = (
        spark.read.parquet(counts_dir)
        .groupBy("wave", "bucket")
        .agg(F.sum("n").alias("n"))
    )
    spine = (
        cw.select("wave")
        .distinct()
        .crossJoin(
            spark.range(K).select(F.col("id").cast("int").alias("bucket"))
        )
    )
    ref = events.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_ref")
    )
    j = (
        spine.join(cw, ["wave", "bucket"], "left")
        .join(ref, "bucket", "left")
        .select(
            "wave",
            "bucket",
            F.coalesce("n", F.lit(0)).alias("n_wave"),
            F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
        )
    )
    tw = j.groupBy("wave").agg(F.sum("n_wave").alias("t_wave"))
    tr = j.filter(F.col("wave") == 0).agg(F.sum("n_ref").alias("t_ref"))
    p = (
        j.join(tw, "wave")
        .crossJoin(F.broadcast(tr))
        .select(
            "wave",
            "bucket",
            "n_wave",
            "n_ref",
            (
                (F.col("n_wave").cast("double") + F.lit(0.5))
                / (F.col("t_wave").cast("double") + F.lit(0.5 * K))
            ).alias("p_wave"),
            (
                (F.col("n_ref").cast("double") + F.lit(0.5))
                / (F.col("t_ref").cast("double") + F.lit(0.5 * K))
            ).alias("p_ref"),
        )
    )
    d = F.col("p_wave") - F.col("p_ref")
    from spark_spotify.functions.checkpoint import stable_checkpoint

    return stable_checkpoint(
        p.select(
            "wave",
            "bucket",
            "n_wave",
            "n_ref",
            "p_wave",
            "p_ref",
            F.abs(d).alias("l1_term"),
            (d * d / F.col("p_ref")).alias("chi2_term"),
        )
    )


def q_stream_dlq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dead-letter-queue routing — the quarantine pattern every
    production ingest stream needs: malformed payloads must neither kill
    the query nor vanish silently (the reference's bare try/except drops
    them, curl_spotify_tracker.py:200); they are SPLIT out per micro-batch
    with provenance and land in their own table for replay after a fix.

    One ``foreachBatch`` pass evaluates payload validity once per row and
    writes two O(delta) appends: valid rows to the main table, invalid
    rows (with their corruption class and batch id) to the DLQ.  The
    corruption injection is the same deterministic event_id-mod rule as
    ana_json_malformed_audit (truncation / blanking — the cross-engine-
    agreed validity modes), so the routing outcome is oracle-checkable.
    Gate output: per (route, corruption) row counts and the extracted-key
    sum on the main route.

    Scale: validity is scan-side expression work; each batch appends its
    two deltas (no table rewrite); the DLQ stays tiny by construction —
    its size is the pipeline's data-quality alarm."""
    src = read_event_stream(spark, sf_dir).select("event_id", "props")
    mode = F.pmod(F.col("event_id"), F.lit(7))
    mangled = (
        F.when(mode == 0, F.expr("substring(props, 1, length(props) - 1)"))
        .when(mode == 1, F.lit(""))
        .otherwise(F.col("props"))
    )
    corruption = (
        F.when(mode == 0, F.lit("truncated"))
        .when(mode == 1, F.lit("blanked"))
        .otherwise(F.lit("intact"))
    )
    enriched = src.select(
        "event_id",
        corruption.alias("corruption"),
        F.get_json_object(mangled, "$").isNotNull().alias("ok"),
        F.get_json_object(mangled, "$.k").cast("int").alias("k"),
    )
    base = session_scratch("stream_dlq")
    state: dict = {"main": [], "dlq": []}

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        from spark_spotify.functions.concurrency import overlap

        main = batch_df.filter(F.col("ok")).select(
            "event_id", "corruption", "k"
        )
        dlq = batch_df.filter(~F.col("ok")).select(
            "event_id",
            "corruption",
            F.lit(batch_id).alias("quarantine_batch"),
        )
        mp = f"{base}/main/p{batch_id}"
        dp = f"{base}/dlq/p{batch_id}"
        # the two routes are disjoint destinations derived from the same
        # micro-batch: two overlapped writes (§2.6) instead of two
        # sequential sub-second jobs — the stream_txn_sink pattern
        overlap(
            lambda: main.write.mode("overwrite").parquet(mp),
            lambda: dlq.write.mode("overwrite").parquet(dp),
        )
        state["main"] = state["main"] + [mp]
        state["dlq"] = state["dlq"] + [dp]

    drain(enriched, sink)
    if not state["main"] or not state["dlq"]:
        # zero micro-batches (empty source): an empty result, not a
        # spark.read.parquet(*[]) crash
        return spark.createDataFrame(
            [],
            "route string, corruption string, n_rows bigint, sum_k bigint",
        )
    main = (
        spark.read.parquet(*state["main"])
        .groupBy("corruption")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("k").alias("sum_k"),
        )
        .select(F.lit("main").alias("route"), "corruption", "n_rows", "sum_k")
    )
    dlq = (
        spark.read.parquet(*state["dlq"])
        .groupBy("corruption")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(
            F.lit("dlq").alias("route"),
            "corruption",
            "n_rows",
            F.lit(None).cast("bigint").alias("sum_k"),
        )
    )
    return main.unionByName(dlq)


def q_stream_cdf_follow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The warehouse as a STREAMING SOURCE — Delta's ``readChangeFeed``
    pattern: a downstream replica follows the gold table's row-level
    change feed instead of rescanning it.  The daily-stats table's commit
    history (v1 after batch 1, live after batch 2) is materialized as an
    ordered change-feed file stream (batch 1 = the v1 snapshot as
    ``insert`` rows; batch 2 = the row-level CDF between v1 and live);
    a CHECKPOINTED consumer (``maxFilesPerTrigger=1``) foreachBatch-
    applies each change batch transactionally onto the replica
    (``apply_change_feed`` + versioned COW commit).  Run 1 consumes
    batch 1, batch 2 then lands, run 2 RESTARTS from the checkpoint and
    must apply exactly the new feed rows (asserted) — replication cost
    is O(changes) per batch, never O(replica), at any table size.

    Oracle: the replayed replica must equal the live gold table — the
    full daily-stats SQL."""
    import os as _os

    from spark_spotify.etl.pipeline import shared_two_batch_warehouse
    from spark_spotify.functions import require
    from spark_spotify.warehouse import (
        apply_change_feed,
        change_feed,
        commit_snapshot,
        read_table,
    )

    warehouse, _ = shared_two_batch_warehouse(spark, sf_dir)
    s1 = read_table(spark, warehouse, "agg_daily_stats", version=1)
    live = read_table(spark, warehouse, "agg_daily_stats")
    feed1 = s1.select(
        F.lit("insert").alias("_change_type"), *s1.columns
    )
    feed2 = change_feed(s1, live, "played_date").select(*feed1.columns)

    base = session_scratch("stream_cdf")
    src = _os.path.join(base, "feed")
    _os.makedirs(src)

    land_file(feed1, base, src, "b1")
    applied: dict = {}

    from spark_spotify.warehouse import current_version

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        ss = batch_df.sparkSession
        # foreachBatch is at-least-once: a crash between the replica
        # commit and the stream's offset commit re-delivers the batch.
        # The replica's manifest version doubles as the txnVersion
        # guard Delta's idempotent sinks use — replica version
        # batch_id+1 already committed means this batch already
        # applied, and re-applying would duplicate its insert rows.
        if current_version(base, "rep") >= batch_id + 1:
            return
        replica = read_table(ss, base, "rep")
        if replica is None:
            replica = batch_df.drop("_change_type").limit(0)
        # NOTE (r11): substituting this count with a footer read of the
        # landed feed file BY NAME would assume batch_id->file mapping —
        # the very checkpoint/offset behavior this gate proves — and
        # batch_df.inputFiles() resolves empty inside foreachBatch, so
        # the honest per-batch count job stays.
        applied[batch_id] = batch_df.count()
        commit_snapshot(
            apply_change_feed(replica, batch_df, "played_date"),
            base,
            "rep",
            batch_id + 1,
        )

    stream = file_stream(spark, feed1.schema, src)
    ckpt = _os.path.join(base, "ckpt")
    drain(stream, sink, ckpt)
    n2 = land_file(feed2, base, src, "b2")
    drain(stream, sink, ckpt)
    require(
        applied.get(1, 0) == n2,
        f"restart must apply exactly the new feed ({applied} vs {n2})",
    )
    return read_table(spark, base, "rep")


def q_stream_cdf_row_follow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming consumer over the ROW-LINEAGE change feed (VERDICT r7
    #6) — ``q_stream_cdf_follow`` composed with row tracking: the
    replica follows a source that undergoes a COW delete, a COW MERGE
    and a WHOLE-TABLE COMPACTION *mid-stream*, and stays consistent
    because the feed is keyed by the stable ``row_id``, never by file
    order or a business key.  Run 1 consumes the v0 snapshot (insert
    rows); the source then churns (three commits, two of which rewrite
    every byte of the table); run 2 restarts from the checkpoint and
    applies exactly the row-lineage feed — which contains ONLY the
    logical changes (the compaction's full physical rewrite contributes
    zero rows, asserted upstream by etl_cdf_row_lineage; here the gate
    asserts the applied-row count equals the feed and the replica
    equals the head snapshot INCLUDING ids).  This is Delta's
    ``readChangeFeed`` + row-id lineage consumed by Structured
    Streaming: replication stays O(changes) per trigger while OPTIMIZE
    and MERGE churn the physical layout underneath.

    Oracle: the from-scratch recompute of the head state — shared
    verbatim with ``etl_cdf_row_lineage``."""
    import os as _os

    from spark_spotify.etl.pipeline import (
        DELETE_USER,
        MERGE_INSERT_USER,
        MERGE_UPDATE_USER,
    )
    from spark_spotify.functions import require
    from spark_spotify.warehouse import (
        apply_change_feed,
        commit_append,
        commit_snapshot,
        compact_table,
        current_version,
        delete_rows,
        enable_row_tracking,
        merge_rows,
        read_table,
        read_table_with_row_ids,
        row_lineage_feed,
    )
    from spark_spotify.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )
    base = session_scratch("rowfollow")
    commit_append(ev.filter(F.col("event_id") % 2 == 0), base, "src", 1)
    commit_append(ev.filter(F.col("event_id") % 2 == 1), base, "src", 2)
    enable_row_tracking(base, "src")
    v0 = current_version(base, "src")
    s0 = read_table_with_row_ids(spark, base, "src", v0)
    feed1 = s0.select(F.lit("insert").alias("_change_type"), *s0.columns)

    src_dir = _os.path.join(base, "feed")
    _os.makedirs(src_dir)

    land_file(feed1, base, src_dir, "b1")
    applied: dict = {}

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        ss = batch_df.sparkSession
        # idempotent replay guard: replica version doubles as the
        # txnVersion (same protocol as q_stream_cdf_follow)
        if current_version(base, "rep") >= batch_id + 1:
            return
        replica = read_table(ss, base, "rep")
        if replica is None:
            replica = batch_df.drop("_change_type").limit(0)
        # NOTE (r11): substituting this count with a footer read of the
        # landed feed file BY NAME would assume batch_id->file mapping —
        # the very checkpoint/offset behavior this gate proves — and
        # batch_df.inputFiles() resolves empty inside foreachBatch, so
        # the honest per-batch count job stays.
        applied[batch_id] = batch_df.count()
        commit_snapshot(
            apply_change_feed(replica, batch_df, "row_id"),
            base,
            "rep",
            batch_id + 1,
        )

    stream = file_stream(spark, feed1.schema, src_dir)
    ckpt = _os.path.join(base, "ckpt")
    drain(stream, sink, ckpt)
    # MID-STREAM churn: COW delete, COW MERGE (update + re-keyed
    # inserts), then a whole-table compaction — two full physical
    # rewrites land between the consumer's two runs
    delete_rows(
        spark, base, "src", F.col("user_id") == DELETE_USER, "d1"
    )
    live = read_table(spark, base, "src")
    src_delta = (
        live.filter(F.col("user_id") == MERGE_UPDATE_USER)
        .withColumn("value", F.col("value") * 2)
        .unionByName(
            live.filter(F.col("user_id") == MERGE_INSERT_USER).withColumn(
                "event_id", -(F.col("event_id") + F.lit(1))
            )
        )
    )
    merge_rows(spark, base, "src", src_delta, "event_id", "m1")
    compact_table(spark, base, "src", "z")
    feed2 = row_lineage_feed(spark, base, "src", v0)
    n2 = land_file(feed2.select(*feed1.columns), base, src_dir, "b2")
    drain(stream, sink, ckpt)
    require(
        applied.get(1, 0) == n2,
        f"restart must apply exactly the row feed ({applied} vs {n2})",
    )
    # the replica carries the source's STABLE ids: equality holds
    # row-for-row including row_id, through both physical rewrites.
    # Multiset equality as ONE job: signed per-row multiplicities must
    # all cancel — the same assertion the two exceptAll counts made,
    # with one shuffle instead of two full-plan joins.
    rep = read_table(spark, base, "rep")
    head = read_table_with_row_ids(spark, base, "src").select(*rep.columns)
    diverged = (
        rep.withColumn("_side", F.lit(1))
        .unionByName(head.withColumn("_side", F.lit(-1)))
        .groupBy(*rep.columns)
        .agg(F.sum("_side").alias("_d"))
        .filter(F.col("_d") != 0)
        .count()
    )
    require(
        diverged == 0,
        "replica diverged from the head snapshot under row-id lineage",
    )
    return rep.drop("row_id")


def q_stream_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-Live-Tables-style EXPECTATIONS on a streaming sink — the
    warehouse's commit-time CHECK enforcement composed with Structured
    Streaming: the gold table declares ``CHECK (value >= 0)``;
    micro-batch 1 is clean and commits; micro-batch 2 arrives POISONED
    (every 10th event's value negated) and the plain commit is REJECTED
    ATOMICALLY by the enforcement scan — staged part removed, manifest
    unmoved (asserted: version unchanged by the failed attempt) — so
    the sink degrades to DLT's ``expect_or_drop``: valid rows commit,
    violating rows land in a quarantine table with batch provenance.
    A third restart with no new arrivals applies nothing (checkpoint +
    version guard).  End state: gold holds exactly the valid rows
    (oracle), the quarantine holds exactly the poisoned ones (in-line
    accounting), and no violating row ever became readable — the
    atomicity a constraint is FOR.

    At 100 TB the enforcement scan is O(micro-batch) (only the staged
    delta is validated), and the quarantine is the same DLQ pattern as
    ``stream_dlq`` — per-batch provenance for reprocessing."""
    import os as _os

    from spark_spotify.functions import require
    from spark_spotify.warehouse import (
        ConstraintViolationError,
        add_constraint,
        commit_append,
        current_version,
        path_rows,
        read_table,
    )
    from spark_spotify.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )
    poison = F.col("event_id") % 10 == 1
    base = session_scratch("expect")
    src = _os.path.join(base, "arrivals")
    _os.makedirs(src)

    # v1 seed (empty) so the constraint exists before any arrival;
    # add_constraint is ITSELF a metadata commit, so the idempotency
    # guard anchors on the post-setup version, not on absolutes
    commit_append(ev.limit(0), base, "gold", 1)
    add_constraint(spark, base, "gold", "nonneg", "value >= 0")
    v0 = current_version(base, "gold")
    land_file(ev.filter(F.col("event_id") % 2 == 0), base, src, "b1")
    quarantined: dict = {}

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if current_version(base, "gold") >= v0 + batch_id + 1:
            return  # redelivered batch: already committed
        v_before = current_version(base, "gold")
        try:
            commit_append(batch_df, base, "gold", v0 + batch_id + 1)
        except ConstraintViolationError:
            # the failed attempt must leave NO trace
            require(
                current_version(base, "gold") == v_before,
                "rejected batch moved the manifest",
            )
            ok = batch_df.filter(F.col("value") >= 0)
            bad = batch_df.filter(~(F.col("value") >= 0)).withColumn(
                "quarantine_batch", F.lit(batch_id)
            )
            qdir = _os.path.join(base, "quarantine", f"b{batch_id}")
            # quarantine write ∥ gold commit: disjoint destinations from
            # one batch (§2.6); the quarantine cardinality then comes
            # from the written file's footers, not a second plan run
            # (§1.2)
            from spark_spotify.functions.concurrency import overlap

            overlap(
                lambda: bad.write.mode("overwrite").parquet(qdir),
                lambda: commit_append(
                    ok, base, "gold", v0 + batch_id + 1
                ),
            )
            quarantined[batch_id] = path_rows(qdir)

    stream = file_stream(spark, ev.schema, src)
    ckpt = _os.path.join(base, "ckpt")
    drain(stream, sink, ckpt)
    require(not quarantined, "clean batch was quarantined")
    land_file(
        ev.filter(F.col("event_id") % 2 == 1).withColumn(
            "value",
            F.when(poison, -F.col("value") - F.lit(1.0)).otherwise(
                F.col("value")
            ),
        ),
        base,
        src,
        "b2",
    )
    drain(stream, sink, ckpt)
    n_poison = ev.filter(poison).count()
    require(
        quarantined.get(1, 0) == n_poison,
        f"quarantined {quarantined} rows, expected {n_poison}",
    )
    before = dict(quarantined)
    v_done = current_version(base, "gold")
    # idle restart: nothing re-applies, nothing re-quarantines
    drain(stream, sink, ckpt)
    require(
        before == quarantined
        and current_version(base, "gold") == v_done,
        "idle restart disturbed the sink",
    )
    return read_table(spark, base, "gold")


# Append-mode emission rule, replayed relationally: only windows whose end is
# at or below the final watermark (max ts − delay) are emitted.
ORACLE = {
    # the atomically-maintained gold rollup must equal the from-scratch
    # recompute over the full corpus — torn, dropped, or double-applied
    # batches all diverge
    "stream_txn_sink": """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM events
GROUP BY event_type
""",
    # every streamed erasure subject gone, everything else untouched
    "stream_mor_delete": f"""
SELECT event_id, user_id, event_type, value
FROM events
WHERE event_id % 2 = 0 AND user_id NOT IN {ERASE_USERS}
""",
    "stream_dlq": """
WITH m AS (
  SELECT CASE WHEN event_id % 7 = 0 THEN 'truncated'
              WHEN event_id % 7 = 1 THEN 'blanked'
              ELSE 'intact' END AS corruption,
         CASE WHEN event_id % 7 = 0 THEN substr(props, 1, length(props) - 1)
              WHEN event_id % 7 = 1 THEN ''
              ELSE props END AS p
  FROM events
),
r AS (
  SELECT CASE WHEN json_valid(p) THEN 'main' ELSE 'dlq' END AS route,
         corruption,
         CASE WHEN json_valid(p)
              THEN CAST(json_extract_string(p, '$.k') AS INT) END AS k
  FROM m
)
SELECT route, corruption, COUNT(*) AS n_rows,
       CAST(SUM(k) AS BIGINT) AS sum_k
FROM r GROUP BY route, corruption
""",
    "stream_merge_sink": """
SELECT event_id, user_id, event_type FROM events
""",
    # per-wave histogram vs the full-corpus reference — identical
    # arithmetic chain to etl_profile_drift, keyed by event-id parity
    "stream_drift_monitor": """
WITH w AS (
  SELECT event_id % 2 AS wave,
         LEAST(CAST(FLOOR(value / 50.0) AS INT), 11) AS bucket
  FROM events
),
spine AS (
  SELECT wv.wave, s.bucket
  FROM (SELECT DISTINCT wave FROM w) wv
  CROSS JOIN (SELECT CAST(gs AS INT) AS bucket
              FROM generate_series(0, 11) t(gs)) s
),
cw AS (SELECT wave, bucket, COUNT(*) AS n FROM w GROUP BY wave, bucket),
cr AS (SELECT bucket, COUNT(*) AS n FROM w GROUP BY bucket),
j AS (
  SELECT s.wave, s.bucket,
         COALESCE(cw.n, 0) AS n_wave,
         COALESCE(cr.n, 0) AS n_ref
  FROM spine s
  LEFT JOIN cw ON s.wave = cw.wave AND s.bucket = cw.bucket
  LEFT JOIN cr ON s.bucket = cr.bucket
),
tw AS (SELECT wave, SUM(n_wave) AS t_wave FROM j GROUP BY wave),
tr AS (SELECT SUM(n_ref) AS t_ref FROM j WHERE wave = 0),
p AS (
  SELECT j.wave, j.bucket, j.n_wave, j.n_ref,
         (CAST(j.n_wave AS DOUBLE) + 0.5) / (CAST(tw.t_wave AS DOUBLE) + 6.0)
           AS p_wave,
         (CAST(j.n_ref AS DOUBLE) + 0.5) / (CAST(tr.t_ref AS DOUBLE) + 6.0)
           AS p_ref
  FROM j JOIN tw ON j.wave = tw.wave CROSS JOIN tr
)
SELECT wave, bucket, n_wave, n_ref, p_wave, p_ref,
       abs(p_wave - p_ref) AS l1_term,
       (p_wave - p_ref) * (p_wave - p_ref) / p_ref AS chi2_term
FROM p
""",
    # per-event total occurrence counts under any micro-batch cut: the
    # redelivered users saw their events twice, the re-keyed rows once
    "stream_merge_mor": """
SELECT event_id, user_id, event_type,
       CAST(CASE WHEN user_id IN (11, 13) THEN 2 ELSE 1 END AS BIGINT)
         AS n_seen
FROM events
UNION ALL
SELECT -(event_id + 1) AS event_id, user_id, event_type,
       CAST(1 AS BIGINT) AS n_seen
FROM events WHERE user_id = 13
""",
    # exactly-once across restart: each event lands once, full stop
    "stream_resume": """
SELECT event_id, user_id, event_type FROM events
""",
    "stream_user_profile": """
SELECT user_id,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
       MIN(ts) AS first_ts,
       MAX(ts) AS last_ts,
       CAST(MAX(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS max_value
FROM events GROUP BY user_id
""",
    "stream_hourly_rollup": """
WITH m AS (
  SELECT MAX(ts) - INTERVAL 10 MINUTE AS wm FROM events
), h AS (
  SELECT date_trunc('hour', ts) AS hour_start, event_type,
         COUNT(*) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
  FROM events GROUP BY 1, 2
)
SELECT h.hour_start, h.event_type, h.n_events, h.total_value
FROM h, m
WHERE h.hour_start + INTERVAL 1 HOUR <= m.wm
""",
    # Session-window emission replayed relationally: gaps-and-islands with a
    # >= gap boundary (Spark's session range is [start, last+gap), so an
    # event at exactly last+gap opens a NEW session), emitted once the final
    # watermark passes session end = last event + gap.
    "stream_sessions": """
WITH m AS (
  SELECT MAX(ts) - INTERVAL 10 MINUTE AS wm FROM events
), f AS (
  SELECT user_id, ts, value,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
  FROM events
), n AS (
  SELECT user_id, ts, value,
         SUM(CASE WHEN prev_ts IS NULL
                    OR epoch_us(ts) - epoch_us(prev_ts) >= 30 * 60 * 1000000
                  THEN 1 ELSE 0 END) OVER (
           PARTITION BY user_id ORDER BY ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM f
), s AS (
  SELECT user_id, MIN(ts) AS session_start,
         MAX(ts) + INTERVAL 30 MINUTE AS session_end,
         COUNT(*) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
  FROM n GROUP BY user_id, sid
)
SELECT session_start, session_end, user_id, n_events, total_value
FROM s, m WHERE session_end <= wm
""",
    "stream_dedup": """
SELECT event_id, user_id, event_type FROM events
""",
    "stream_enrich_join": """
SELECT event_id, user_id, c_mktsegment AS segment, event_type, value
FROM events JOIN customer ON user_id = c_custkey
""",
    # each event contributes to the two overlapping 1h/30m windows that
    # contain it; emitted once the final watermark passes window end
    "stream_sliding_rollup": """
WITH m AS (
  SELECT MAX(ts) - INTERVAL 10 MINUTE AS wm FROM events
), w AS (
  SELECT unnest([time_bucket(INTERVAL '30 minutes', ts),
                 time_bucket(INTERVAL '30 minutes', ts)
                   - INTERVAL 30 MINUTE]) AS win_start,
         event_type, value
  FROM events
), g AS (
  SELECT win_start, event_type,
         COUNT(*) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
  FROM w GROUP BY 1, 2
)
SELECT g.win_start, g.event_type, g.n_events, g.total_value
FROM g, m
WHERE g.win_start + INTERVAL 1 HOUR <= m.wm
""",
    # three-batch replay: the withheld slice is >= 2h older than the split
    # point, so when it finally arrives every one of its hourly windows is
    # closed under any watermark reading — ALL withheld rows drop;
    # emission = windows closed by the final watermark
    "stream_late_data": f"""
WITH cut AS (
  SELECT make_timestamp((epoch_us(MIN(ts)) + epoch_us(MAX(ts))) // 2) AS c
  FROM events
),
accepted AS (
  SELECT e.ts, e.event_type, e.value FROM events e, cut
  WHERE NOT (e.ts <= cut.c - INTERVAL 2 HOUR
             AND e.event_id % {LATE_MOD} = 0)
),
fw AS (SELECT MAX(ts) - INTERVAL 10 MINUTE AS w FROM events),
g AS (
  SELECT date_trunc('hour', ts) AS hour_start, event_type,
         COUNT(*) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
  FROM accepted GROUP BY 1, 2
)
SELECT g.hour_start, g.event_type, g.n_events, g.total_value
FROM g, fw WHERE g.hour_start + INTERVAL 1 HOUR <= fw.w
""",
    "stream_click_purchase": """
SELECT c.event_id AS click_id,
       p.event_id AS purchase_id,
       c.user_id,
       c.ts AS click_ts,
       p.ts AS purchase_ts,
       p.value AS purchase_value
FROM events c
JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click'
 AND p.event_type = 'purchase'
 AND p.ts > c.ts
 AND p.ts <= c.ts + INTERVAL 30 MINUTE
""",
    # left-outer variant: matched pairs as above, plus null-extended
    # rows for unmatched clicks EVICTED by the final global watermark
    # (min of both sides' max event time, minus the delay) — strictly
    # older than watermark − attribution window; younger unmatched
    # clicks are still live state at termination and must NOT appear
    "stream_click_attribution": """
WITH c AS (
  SELECT event_id AS click_id, user_id, ts AS click_ts
  FROM events WHERE event_type = 'click'
), p AS (
  SELECT event_id AS purchase_id, user_id AS p_user_id,
         ts AS purchase_ts, value AS purchase_value
  FROM events WHERE event_type = 'purchase'
), wm AS (
  SELECT least((SELECT MAX(click_ts) FROM c),
               (SELECT MAX(purchase_ts) FROM p))
         - INTERVAL 10 MINUTE AS w
), matched AS (
  SELECT c.click_id, p.purchase_id, c.user_id, c.click_ts,
         p.purchase_ts, p.purchase_value
  FROM c JOIN p
    ON c.user_id = p.p_user_id
   AND p.purchase_ts > c.click_ts
   AND p.purchase_ts <= c.click_ts + INTERVAL 30 MINUTE
)
SELECT * FROM matched
UNION ALL
SELECT c.click_id, CAST(NULL AS BIGINT) AS purchase_id, c.user_id,
       c.click_ts, CAST(NULL AS TIMESTAMP) AS purchase_ts,
       CAST(NULL AS DOUBLE) AS purchase_value
FROM c, wm
WHERE c.click_id NOT IN (SELECT click_id FROM matched)
  AND c.click_ts + INTERVAL 30 MINUTE < wm.w
""",
}

OPT_EVERY = 3  # auto-OPTIMIZE cadence (micro-batches)


def q_stream_auto_optimize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUTO-OPTIMIZE riding the ingestion stream — Databricks
    auto-compaction composed from this repo's pieces: a checkpointed
    file stream appends events micro-batches to a warehouse table, and
    every {OPT_EVERY} batches the SAME sink runs the incremental ZORDER
    pass (``optimize_table(..., incremental=True)``) over the table it
    is feeding, so the trickle graduates into clustered Z-ranges
    without ever pausing ingestion or rewriting the standing bulk.

    Protocol notes, each load-bearing at scale:

    - idempotency anchors on the dedicated ``txn_log`` table (the
      ``stream_ann_retrain_swap`` protocol) because OPTIMIZE commits
      move the data table's version BETWEEN batches — batch_id
      arithmetic against the data table would break exactly here;
    - each micro-batch lands {{data part, log row}} through the
      durable-intent multi-table commit;
    - the OPTIMIZE target is FROZEN at the first pass (half the table
      bytes then), so graduated Z-ranges are never re-selected — the
      second pass provably leaves the first pass's output
      byte-untouched (inode-asserted) and touches only the new trickle
      (the self-stabilizing property ``etl_zorder_incremental`` gates);
    - after the drain: both generations carry manifest stats on both
      clustering keys and an idle restart applies nothing.

    Oracle: a plain projection of the full events corpus — six
    micro-batches, two in-stream layout passes, zero logical-row
    drift."""
    import os as _os

    from spark_spotify.functions import require
    from spark_spotify.warehouse import (
        current_version,
        manifest_parts,
        multi_commit,
        optimize_table,
        part_inodes,
        read_table,
        stage_arrow_part,
    )
    from spark_spotify.functions.checkpoint import stable_checkpoint
    from spark_spotify.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
        .cast("bigint")
        .alias("day"),
        "value",
    )
    base = session_scratch("autoopt")
    src = _os.path.join(base, "arrivals")
    _os.makedirs(src)

    for k in range(6):
        land_file(ev.filter(F.col("event_id") % 6 == k), base, src, f"b{k}")

    tdir = _os.path.join(base, "t")

    def live_bytes() -> int:
        return sum(
            _os.path.getsize(_os.path.join(root, f))
            for p in (manifest_parts(base, "t") or [])
            for root, _d, files in _os.walk(_os.path.join(tdir, p))
            for f in files
            if f.endswith(".parquet")
        )

    state = {
        "min": None,
        "target": None,
        "opt_runs": 0,
        "applied": 0,
        "gen1_inos": None,
    }

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if current_version(base, "txn_log") >= batch_id + 1:
            return
        part = f"b{batch_id}"
        batch_df.coalesce(1).write.parquet(_os.path.join(tdir, part))
        # the txn_log row is one driver-known long
        stage_arrow_part(
            pa.table({"batch_id": pa.array([batch_id], pa.int64())}),
            base,
            "txn_log",
            part,
        )
        multi_commit(
            base,
            {"t": ([part], set()), "txn_log": ([part], set())},
            part,
        )
        state["applied"] += 1
        if (batch_id + 1) % OPT_EVERY == 0:
            if state["min"] is None:
                # freeze both dials at the first pass: selection at
                # half the trickle window, output target above the
                # whole window — graduated Z-ranges land well above the
                # selection threshold and are never re-folded
                b = live_bytes()
                state["min"] = max(b // 2, 1)
                state["target"] = 2 * b
            n = optimize_table(
                batch_df.sparkSession,
                base,
                "t",
                state["target"],
                tag=f"a{batch_id}",
                zorder_by=("user_id", "day"),
                incremental=True,
                min_bytes=state["min"],
            )
            require(
                n == OPT_EVERY,
                f"auto-optimize at batch {batch_id} folded {n} parts, "
                f"expected {OPT_EVERY}",
            )
            state["opt_runs"] += 1
            if state["opt_runs"] == 1:
                state["gen1_inos"] = part_inodes(base, "t")

    stream = file_stream(spark, ev.schema, src)
    ckpt = _os.path.join(base, "ckpt")
    drain(stream, sink, ckpt)
    require(
        state["applied"] == 6 and state["opt_runs"] == 2,
        f"drain applied {state['applied']} batches, "
        f"{state['opt_runs']} optimize passes",
    )
    parts = manifest_parts(base, "t") or []
    require(
        all(p.startswith("oa") for p in parts) and len(parts) == 2,
        f"auto-optimize left wrong layout: {parts}",
    )
    # the second in-stream pass left the first generation byte-untouched
    final_inos = part_inodes(base, "t")
    gen1_now = {
        k: v for k, v in final_inos.items() if k.startswith("oa2")
    }
    gen1_then = {
        k: v
        for k, v in (state["gen1_inos"] or {}).items()
        if k.startswith("oa2")
    }
    require(
        bool(gen1_then) and gen1_now == gen1_then,
        "second auto-optimize pass disturbed the first generation",
    )
    # idle restart: the checkpoint + log guard apply nothing, and no
    # layout pass fires (nothing under the selection threshold)
    before = dict(state)
    drain(stream, sink, ckpt)
    require(
        state == before, f"idle restart changed state: {state}"
    )
    # both generations carry manifest stats on BOTH clustering keys —
    # the planning inputs future point queries prune on (the pruning
    # property itself is etl_zorder_incremental's gate; per-generation
    # windows here each graduate into ONE right-sized Z-range)
    from spark_spotify.warehouse import read_manifest

    m = read_manifest(base, "t")
    for p in parts:
        for col in ("user_id", "day"):
            st_ = (m["stats"].get(p) or {}).get(col) or {}
            require(
                st_.get("lo") is not None,
                f"{p}: no {col} stats after auto-optimize",
            )
    return read_table(spark, base, "t").transform(stable_checkpoint)


QUERIES = {
    "stream_hourly_rollup": q_stream_hourly_rollup,
    "stream_dedup": q_stream_dedup,
    "stream_sessions": q_stream_sessions,
    "stream_user_profile": q_stream_user_profile,
    "stream_merge_sink": q_stream_merge_sink,
    "stream_merge_mor": q_stream_merge_mor,
    "stream_drift_monitor": q_stream_drift_monitor,
    "stream_txn_sink": q_stream_txn_sink,
    "stream_mor_delete": q_stream_mor_delete,
    "stream_dlq": q_stream_dlq,
    "stream_resume": q_stream_resume,
    "stream_enrich_join": q_stream_enrich_join,
    "stream_sliding_rollup": q_stream_sliding_rollup,
    "stream_click_purchase": q_stream_click_purchase,
    "stream_click_attribution": q_stream_click_attribution,
    "stream_late_data": q_stream_late_data,
    "stream_cdf_follow": q_stream_cdf_follow,
    "stream_cdf_row_follow": q_stream_cdf_row_follow,
    "stream_expectations": q_stream_expectations,
    "stream_auto_optimize": q_stream_auto_optimize,
}

# the replica reconstructed purely from the change feed must equal the
# live gold table — the full daily-stats SQL
from spark_spotify.etl import pipeline as _etlp  # noqa: E402
from spark_spotify.etl import stats as _stats  # noqa: E402

ORACLE["stream_cdf_follow"] = _stats.ORACLE["etl_daily_stats"]
# gold = every event except the poisoned ones, original values: the
# violating rows were quarantined, never committed
ORACLE["stream_expectations"] = """
SELECT event_id, user_id, value FROM events WHERE event_id % 10 <> 1
"""
# the row-lineage follower reconstructs the head state exactly — shared
# verbatim with the producer-side gate so the two can never drift
ORACLE["stream_cdf_row_follow"] = _etlp.ORACLE["etl_cdf_row_lineage"]
# auto-OPTIMIZE is a layout loop: six micro-batches + two in-stream
# ZORDER passes must never change a logical row (same projection as the
# zorder gates)
ORACLE["stream_auto_optimize"] = _etlp.ORACLE["etl_zorder_incremental"]
