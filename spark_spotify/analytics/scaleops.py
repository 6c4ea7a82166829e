"""Scale-path operators: multi-granularity rollup, salted skew join,
left-join-to-nullable-dim profiling, approximate distinct counts.

These extend the reference's operator surface (SURVEY.md §2.7 notes it has
no grouping sets; §4 lists salting as a 100 TB candidate) with the
aggregation/join machinery a warehouse actually needs at scale.  All but the
approx-distinct query are oracle-paired; approx_count_distinct is a sketch
(HLL++) DuckDB cannot reproduce bit-for-bit, so it ships with the weaker
rows-only driver check and carries its exact twin in the same row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_spotify.functions.agg import SQL_DSUM, lsum
from spark_spotify.functions.scratch import (
    keep_alive,
    scratch,
    session_scratch,
)
from spark_spotify.operators.salted import salted_join
from spark_spotify.operators.topk import top_k
from spark_spotify.sources.tables import dim_broadcast, load_table


def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue at three granularities in ONE pass — (nation, segment),
    per-nation subtotal, grand total — via ROLLUP (SURVEY.md §2.7: the
    reference computes each granularity as a separate query; grouping sets
    collapse them into a single shuffle with partial aggregation).

    grouping_id disambiguates subtotal rows from genuine NULL keys."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    joined = o.join(
        c, o["o_custkey"] == c["c_custkey"], "inner"
    ).join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"], "inner")
    return (
        joined.rollup("n_name", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            lsum(F.col("o_totalprice")).alias("revenue"),
            F.grouping_id().cast("int").alias("grp_id"),
        )
        .select("n_name", "c_mktsegment", "grp_id", "n_orders", "revenue")
    )


def q_salted_segment_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events ⋈ customer on user_id with an 8-way salted shuffle join
    (operators/salted.py), aggregated per market segment.  Result is
    row-identical to the plain join — the oracle IS the plain join — only
    the shuffle layout differs; the plan shows the (key, salt) exchange."""
    ev = load_table(spark, sf_dir, "events")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    j = salted_join(
        ev, c, "user_id", "c_custkey", salt_source=F.col("event_id")
    )
    return j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        lsum(F.col("value")).alias("total_value"),
    )


def q_segment_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left join events to the (nullable) customer dim and profile per
    segment — the reference's gender/band pattern (J5 + A6,
    artist_gender.py:21-28): unmatched users survive as an 'UNKNOWN' bucket,
    and purchase share is a conditional aggregate."""
    ev = load_table(spark, sf_dir, "events")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    # customer grows with SF (150k rows/SF) — gated hint
    j = ev.join(
        dim_broadcast(c, sf_dir, "customer", 2_000_000),
        ev["user_id"] == c["c_custkey"],
        "left",
    )
    seg = F.coalesce(F.col("c_mktsegment"), F.lit("UNKNOWN"))
    return (
        j.select(seg.alias("segment"), "user_id", "event_type", "value")
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.when(F.col("event_type") == "purchase", 1)).alias(
                "n_purchases"
            ),
            F.round(
                F.avg(
                    F.when(F.col("event_type") == "purchase", 1).otherwise(0)
                )
                * 100,
                2,
            ).alias("purchase_pct"),
            lsum(F.col("value")).alias("total_value"),
        )
    )


def q_grouping_sets_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-hierarchical GROUPING SETS — ((segment, status), (status), ()) —
    a shape ROLLUP cannot express (the (status)-only subtotal crosses the
    hierarchy).  One pass, one Expand + shuffle, vs three separate
    aggregation jobs; grouping_id tags which set each row belongs to."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    joined = o.join(c, o["o_custkey"] == c["c_custkey"], "inner")
    return (
        joined.groupingSets(
            [["c_mktsegment", "o_orderstatus"], ["o_orderstatus"], []],
            "c_mktsegment",
            "o_orderstatus",
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            lsum(F.col("o_totalprice")).alias("revenue"),
            F.grouping_id().cast("int").alias("grp_id"),
        )
        .select(
            "c_mktsegment", "o_orderstatus", "grp_id", "n_orders", "revenue"
        )
    )


N_BUCKETS = 8


_BUCKETED_DIR: str | None = None


def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located join over bucketed tables (sources/warehouse.py): orders
    and customer are both written bucketed on custkey, so the join and the
    same-key aggregation plan with ZERO shuffle exchanges
    (test_plans.test_bucketed_join_has_no_shuffle pins this) — the one
    shuffle is paid at write time and amortized over every later query.
    (Catalyst still broadcasts the small dim side, which beats even a
    co-located SMJ; the property bucketing buys is that the FACT side and
    the aggregation never shuffle.)  The timed run includes both bucketed
    writes, so the bench number is the whole layout-then-query pipeline,
    not just the free join."""
    import os as _os

    from spark_spotify.sources.warehouse import write_bucketed

    global _BUCKETED_DIR
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    # one session dir for the bucketed copies: repeat calls OVERWRITE the
    # same tables instead of accumulating a new copy per invocation.  (The
    # result can't be checkpoint-then-cleaned like op_partitioned_prune:
    # the zero-shuffle plan over the bucketed scans IS the asserted
    # deliverable.)
    if _BUCKETED_DIR is None or not keep_alive(_BUCKETED_DIR):
        _BUCKETED_DIR = session_scratch("bucketed")
    base = _BUCKETED_DIR
    sfx = f"pid{_os.getpid()}"
    write_bucketed(
        o.select("o_orderkey", "o_custkey", "o_totalprice"),
        f"orders_b_{sfx}",
        f"{base}/orders",
        ["o_custkey"],
        N_BUCKETS,
    )
    write_bucketed(
        c.select("c_custkey", "c_name", "c_mktsegment"),
        f"customer_b_{sfx}",
        f"{base}/customer",
        ["c_custkey"],
        N_BUCKETS,
    )
    ob = spark.table(f"orders_b_{sfx}")
    cb = spark.table(f"customer_b_{sfx}")
    return (
        ob.join(cb, ob.o_custkey == cb.c_custkey, "inner")
        .groupBy("c_custkey", "c_name", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            lsum(F.col("o_totalprice")).alias("revenue"),
        )
    )


def q_partitioned_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directory-partitioned warehouse write + partition-pruned read-back:
    events land partitioned by event_type, then the purchase/click slice is
    read with a partition predicate — the scan's PartitionFilters skip the
    other partitions' files entirely (zero I/O, not just row-group
    skipping; test_plans.test_partitioned_write_prunes pins the plan).
    This is the layout that turns the reference's incremental watermark
    scan (daily_etl_pipeline.py:132-137) into an O(delta) directory prune
    at 100 TB — there the partition key is the date, with identical
    mechanics.  The timed run includes the partitioned write, so the bench
    number covers the whole layout-then-query pipeline."""
    from spark_spotify.functions.checkpoint import stable_checkpoint
    from spark_spotify.sources.warehouse import (
        read_partitioned,
        write_partitioned,
    )

    ev = load_table(spark, sf_dir, "events")
    with scratch("part") as path:
        write_partitioned(
            ev.select("event_id", "user_id", "value", "ts", "event_type"),
            path,
            ["event_type"],
        )
        back = read_partitioned(spark, path).filter(
            F.col("event_type").isin("purchase", "click")
        )
        out = back.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            lsum(F.col("value")).alias("total_value"),
        )
        return stable_checkpoint(out)


def q_dpp_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition pruning — the planner feature 100 TB star joins
    live on: the fact side is partitioned by the join key, the dimension
    side carries a selective filter that is only known at RUNTIME, and
    Catalyst injects the dim's key set into the fact scan's
    PartitionFilters (reusing the join's broadcast), so the fact reads
    ONLY the partitions the filtered dim can match — static pruning
    can't do this because the predicate is on the dim, not the fact.
    The gate asserts the injected subquery is in the executed plan
    (``dynamicpruning`` in PartitionFilters; see also
    test_plans.test_dpp_join_prunes_fact_scan).

    Oracle: the same join stated statically."""
    from spark_spotify.functions.checkpoint import stable_checkpoint
    from spark_spotify.sources.warehouse import (
        read_partitioned,
        write_partitioned,
    )

    ev = load_table(spark, sf_dir, "events")
    with scratch("dpp") as path:
        write_partitioned(
            ev.select("event_id", "user_id", "value", "event_type"),
            path,
            ["event_type"],
        )
        fact = read_partitioned(spark, path)
        # dim with a runtime-selective filter: event types of EVEN name
        # length — the fact side cannot know this statically, only the
        # dim filter + DPP can prune for it
        dim = (
            ev.select("event_type")
            .distinct()
            .withColumn("flag", F.length("event_type") % 2)
            .filter(F.col("flag") == 0)
        )
        joined = fact.join(dim, "event_type", "inner")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        from spark_spotify.functions import require

        require(
            "dynamicpruning" in plan,
            "fact scan must carry a dynamic-pruning partition filter",
        )
        out = joined.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            lsum(F.col("value")).alias("total_value"),
        )
        return stable_checkpoint(out)


def q_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long UNPIVOT (melt): the per-event-type metric block computed
    wide (one shuffle), then unpivoted to (event_type, metric, metric_value)
    rows — the inverse of the pivot family (SURVEY §2.9 C1/C2) and the
    shape feature stores and metric warehouses exchange.  Unpivot is a
    zero-shuffle Expand: each input row fans to 3 output rows map-side."""
    ev = load_table(spark, sf_dir, "events")
    wide = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n_events"),
        F.countDistinct("user_id").cast("double").alias("n_users"),
        lsum(F.col("value")).alias("total_value"),
    )
    return wide.unpivot(
        ids=["event_type"],
        values=["n_events", "n_users", "total_value"],
        variableColumnName="metric",
        valueColumnName="metric_value",
        # DuckDB's UNPIVOT excludes NULL measures by default while Spark
        # keeps them; pin the exclude-NULLs semantics explicitly so the
        # parity holds even for a group whose metric aggregates to NULL
    ).filter(F.col("metric_value").isNotNull())


def q_cube_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CUBE over (order priority, order status): all four grouping
    sets — both keys, each alone, grand total — in one Expand + one
    shuffle.  Completes the grouping-set family (ROLLUP = hierarchy,
    GROUPING SETS = hand-picked, CUBE = power set); at 100 TB the Expand
    multiplies map output 4x, which still beats four separate scans of the
    fact table."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderpriority", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            lsum(F.col("o_totalprice")).alias("revenue"),
            F.grouping_id().cast("int").alias("grp_id"),
        )
        .select(
            "o_orderpriority", "o_orderstatus", "grp_id", "n_orders",
            "revenue",
        )
    )


def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact vs approximate distinct users per event type.  At 100 TB
    COUNT(DISTINCT) is a full shuffle of the distinct keys;
    approx_count_distinct (HLL++, rsd 5%) is a constant-size sketch merged
    map-side.

    The raw sketch estimate is NOT oracle-hashable (HLL internals differ
    per engine), but the sketch's ACCURACY is a deterministic property of
    the data: the output carries the exact count plus a boolean asserting
    the estimate lands within 3x the configured rsd, and the oracle
    declares the exact count and expects the assertion TRUE — converting
    the rows-only check into a gated sketch-accuracy property test."""
    ev = load_table(spark, sf_dir, "events")
    g = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.approx_count_distinct("user_id", rsd=0.05).alias("_approx"),
    )
    err = F.abs(F.col("_approx") - F.col("exact_users")) / F.col(
        "exact_users"
    )
    return g.select(
        "event_type",
        "exact_users",
        (err <= 0.15).alias("sketch_within_3rsd"),
    )


def q_bloom_prune_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime Bloom-filter join pruning — the large×large join shape where
    broadcast is impossible at 100 TB: lineitem ⋈ orders with a selective
    predicate on orders.  Catalyst's InjectRuntimeFilter builds a Bloom
    filter over the filtered orders keys and pushes
    ``bloom_filter_might_contain`` onto the LINEITEM SCAN SIDE, so most
    fact rows die before the shuffle — the runtime equivalent of a
    semi-join reduction, and the mechanism that makes selective
    large-table joins viable when neither side broadcasts.

    Locally the filtered orders side would broadcast (defeating the demo),
    so this query pins a shuffle join and relaxes the size thresholds the
    injection rule guards on.  The overrides live in a CLONED session
    (``spark.newSession()``: shared SparkContext/cache, private SQLConf),
    so a query planned concurrently in the parent session can never pick
    them up, and DataFrames DERIVED from the result (``.limit(1)`` etc.)
    re-plan under the clone's conf and KEEP the bloom filter — the two
    leak modes a save/restore of session confs has.  A plan-shape test
    asserts the bloom_filter_agg / might_contain pair.

    Result is join-identical with or without the filter (the Bloom pass
    only false-positives, never false-negatives); the oracle is the plain
    join."""
    ss = spark.newSession()
    for k, v in {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }.items():
        ss.conf.set(k, v)
    li = load_table(ss, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    o = load_table(ss, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            lsum(F.col("l_extendedprice")).alias("gross_revenue"),
        )
    )


def q_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact vs sketch percentiles per event type.  At 100 TB the exact
    ``percentile`` is a full sort-based aggregation of every value;
    ``approx_percentile`` (KLL-style quantile sketch, accuracy 10000)
    merges constant-size summaries map-side — the only viable shape for
    corpus-wide quantile monitoring.

    Same gating recipe as agg_approx_distinct: the sketch's internals are
    engine-specific (not oracle-hashable), but its accuracy is a
    deterministic data property.  The gate asserts the guarantee the
    sketch actually makes — RANK error, not value error (the sketch
    returns an actual element, so its value can sit a whole gap away from
    the interpolated exact percentile on small/sparse groups): the count
    of group values at or below the estimate must bracket q·n within
    2%·n + 1 ranks.  The oracle expects TRUE, upgrading a rows-only
    check to a gated property.

    Shape: two map-side-combinable aggregations over the scan plus a
    broadcast of the group-summary table (one row per event type) back
    onto the scan for the rank counts — no corpus-side sort at any
    scale."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    exact = F.percentile(F.col("value"), F.lit([0.5, 0.95]))
    approx = F.percentile_approx(
        F.col("value"), F.lit([0.5, 0.95]), F.lit(10000)
    )
    g = ev.groupBy("event_type").agg(
        F.count("value").alias("_n"),
        F.round(exact[0], 4).alias("p50_exact"),
        F.round(exact[1], 4).alias("p95_exact"),
        approx[0].alias("_a50"),
        approx[1].alias("_a95"),
    )
    r = (
        ev.join(F.broadcast(g), "event_type")
        .groupBy("event_type")
        .agg(
            F.first("_n").alias("_n"),
            F.first("p50_exact").alias("p50_exact"),
            F.first("p95_exact").alias("p95_exact"),
            F.sum((F.col("value") <= F.col("_a50")).cast("long")).alias("_le50"),
            F.sum((F.col("value") < F.col("_a50")).cast("long")).alias("_lt50"),
            F.sum((F.col("value") <= F.col("_a95")).cast("long")).alias("_le95"),
            F.sum((F.col("value") < F.col("_a95")).cast("long")).alias("_lt95"),
        )
    )

    def rank_ok(le: str, lt: str, q: float) -> F.Column:
        target = F.col("_n") * F.lit(q)
        tol = F.col("_n") * F.lit(0.02) + F.lit(1.0)
        return (F.col(le) >= target - tol) & (F.col(lt) <= target + tol)

    return r.select(
        "event_type",
        "p50_exact",
        "p95_exact",
        (rank_ok("_le50", "_lt50", 0.5) & rank_ok("_le95", "_lt95", 0.95))
        .alias("sketch_within_tol"),
    )


def q_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite — Delta ``replaceWhere`` / Hive
    ``INSERT OVERWRITE ... PARTITION`` semantics on the partitioned
    warehouse: a restatement delta rewrites ONLY the partitions it
    contains (``partitionOverwriteMode=dynamic``, passed as a per-write
    option so no session conf is mutated), untouched partitions keep
    their exact files.  This is the idiomatic backfill/correction shape —
    recompute one day/type and overwrite in place — where static
    overwrite mode would silently TRUNCATE the whole table.

    Gate: events land partitioned by event_type; the ``purchase``
    partition is restated with corrected (doubled) values; the gate
    asserts the untouched partition's file list is bit-for-bit the same
    (names unchanged, nothing rewritten) and the oracle states the merged
    result: every purchase row doubled, every other row untouched.  At
    100 TB the restated partition is O(partition), never O(table)."""
    import os as _os

    from spark_spotify.functions.checkpoint import stable_checkpoint
    from spark_spotify.sources.warehouse import (
        read_partitioned,
        write_partitioned,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", "event_type"
    )
    with scratch("dynov") as path:
        write_partitioned(ev, path, ["event_type"])
        untouched = _os.path.join(path, "event_type=click")
        before = sorted(_os.listdir(untouched))
        delta = ev.filter(F.col("event_type") == "purchase").withColumn(
            "value", F.col("value") * 2
        )
        (
            delta.repartition("event_type")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("event_type")
            .parquet(path)
        )
        after = sorted(_os.listdir(untouched))
        if before != after:
            raise RuntimeError(
                "dynamic overwrite touched an unrelated partition"
            )
        out = read_partitioned(spark, path).select(
            "event_id", "user_id", "value", "event_type"
        )
        return stable_checkpoint(out)


def q_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level HLL sketch rollup — the REAGGREGATABLE distinct-count
    gold table.  ``COUNT(DISTINCT)`` does not re-aggregate: a per-day
    distinct-user table cannot be summed into monthly uniques, so at
    100 TB either every rollup granularity rescans the corpus or the
    daily job persists MERGEABLE state.  This is the second shape: per
    (day, event_type) Datasketches HLL sketches (``hll_sketch_agg`` —
    constant-size, associative, map-side-combinable), then the monthly
    answer is ``hll_union_agg`` over ~30 sketch blobs per group, never
    touching events again.  The exact recompute here exists only to gate
    the sketch.

    Gating recipe as agg_approx_distinct: sketch internals are engine-
    specific (un-hashable), accuracy is a deterministic data property —
    the oracle states the exact counts and expects the tolerance boolean
    TRUE (HLL lgk=12 ≈ 1.6% rsd; 15% bound is >9 sigma)."""
    ev = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "event_type", "user_id"
    )
    daily = ev.groupBy("day", "event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    monthly = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("_approx")
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    err = F.abs(F.col("_approx") - F.col("exact_users")) / F.col(
        "exact_users"
    )
    return exact.join(monthly, "event_type").select(
        "event_type",
        "exact_users",
        (err <= 0.15).alias("rollup_within_tol"),
    )


def q_hll_rolling_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day rolling distinct users from MERGEABLE daily sketches — the
    windowed extension of agg_hll_rollup: once the daily job persists HLL
    sketches, ANY rolling window is a sketch-union window function over
    the days-cardinality table (here ``hll_union_agg().over(range 7d)``),
    never a rescan of events.  The exact recompute (a 30-row broadcast
    range join against events) exists only to gate the sketch; at 100 TB
    you'd never run it — which is the point of persisting sketches.

    The window is a single partition deliberately: it runs over the DAILY
    table (O(days) rows), not events.  Gate: per-day accuracy boolean
    (HLL lgk=12 ≈ 1.6% rsd; 15% is >9 sigma)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "user_id"
    )
    daily = ev.groupBy("day").agg(F.hll_sketch_agg("user_id").alias("sk"))
    w = Window.orderBy(F.unix_date(F.col("day"))).rangeBetween(-6, 0)
    approx = daily.select(
        "day",
        F.hll_sketch_estimate(F.hll_union_agg("sk").over(w)).alias(
            "_approx"
        ),
    )
    ends = daily.select(F.col("day").alias("w_end"))
    exact = (
        ev.join(
            F.broadcast(ends),
            (F.col("day") > F.date_sub("w_end", 7))
            & (F.col("day") <= F.col("w_end")),
        )
        .groupBy("w_end")
        .agg(F.countDistinct("user_id").alias("exact_users"))
        .withColumnRenamed("w_end", "day")
    )
    err = F.abs(F.col("_approx") - F.col("exact_users")) / F.col(
        "exact_users"
    )
    return exact.join(approx, "day").select(
        "day",
        "exact_users",
        (err <= 0.15).alias("rolling_within_tol"),
    )


HH_TOPK = 20  # heavy hitters returned
HH_SUMMARY = 256  # Misra-Gries counters per partition


# --- KMV / Theta sketch set operations ------------------------------------
# Distinct-count INTERSECTION is the operation HLL cannot do (HLL unions
# only; inclusion-exclusion explodes its error).  A K-minimum-values /
# Theta sketch keeps the K smallest hash values per set; any two sketches
# combine under min(theta) for union AND intersection estimates.  The hash
# here is deliberately a PORTABLE integer mix (Degski's invertible 32-bit
# hash: two rounds of xor-shift-multiply mod 2^32) expressible identically
# in Spark SQL and DuckDB SQL, so the ORACLE replays the sketch bit-exactly
# — the estimate itself is hash-gated, not tolerance-gated.  The mix is a
# BIJECTION on [0, 2^32), so distinct user_ids (< 2^32 by fixture
# contract; beyond that, wrap-collisions just add ordinary hash-collision
# noise) map to distinct ranks with full avalanche.
_KMV_M = 1 << 32
# three xor-shift-multiply rounds; constants < 2^31 keep every product
# inside int64 in both engines.  Chosen empirically: two-round Degski
# left a +20% low-range density on small sequential id domains (3 sigma
# at K=256); this mix estimates within ~1 sigma at n = 1.5e3..1.5e5.
_KMV_ROUNDS = ((15, 0x2C1B3C6D), (13, 0x297A2D39), (16, 0x45D9F3B))
KMV_K = 256


def _kmv_hash_sql(col: str, duck: bool) -> str:
    """The mix as a SQL expression in either dialect (Spark: ``^`` /
    ``shiftright``; DuckDB: ``xor()`` / ``>>``)."""
    if duck:
        x = "xor({a}, ({a} >> {s}))"
    else:
        x = "({a} ^ shiftright({a}, {s}))"
    h = f"(CAST({col} AS BIGINT) % {_KMV_M})"
    for s, c in _KMV_ROUNDS:
        h = f"(({x.format(a=h, s=s)}) * {c}) % {_KMV_M}"
    return x.format(a=f"({h})", s=_KMV_ROUNDS[-1][0])


def q_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch set operations over user audiences — for every pair
    of event types, estimate the DISTINCT-user intersection and union
    from {KMV_K}-minimum-values sketches, never from the raw sets.  At
    100 TB the per-type audiences are billions of users; the sketches
    are {KMV_K} longs each, mergeable across days/partitions, and every
    pairwise overlap question (campaign reach, audience similarity) is
    answered from kilobytes.  Dataflow: one distinct shuffle
    (event_type, user), a bijective portable hash, per-type bottom-K
    (window rank over the distinct-user relation), then all pair math on
    the K-sized sketches with theta = min(theta_a, theta_b) — below-theta
    common hashes scaled by 2^32/theta (Theta-sketch estimator,
    integer-exact arithmetic).  Sketches smaller than K are EXACT
    (theta = 2^32), so small scale factors return true counts.

    Oracle: the identical sketch replayed in DuckDB — same hash, same
    ranks, same integer estimator — hash-exact by construction."""
    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_type", "user_id")
        .distinct()
    )
    uh = ev.select(
        "event_type",
        F.expr(_kmv_hash_sql("user_id", duck=False)).alias("h"),
    )
    sk = top_k(uh, ["event_type"], [F.asc("h")], KMV_K).persist()
    th = sk.groupBy("event_type").agg(
        F.max("rank").alias("topr"),
        F.max(F.when(F.col("rank") == KMV_K, F.col("h"))).alias("kth"),
    ).select(
        "event_type",
        F.when(F.col("topr") >= KMV_K, F.col("kth"))
        .otherwise(F.lit(_KMV_M))
        .alias("theta"),
    )
    ta = th.select(
        F.col("event_type").alias("ta"), F.col("theta").alias("theta_a")
    )
    tb = th.select(
        F.col("event_type").alias("tb"), F.col("theta").alias("theta_b")
    )
    pairs = (
        ta.crossJoin(tb)
        .filter(F.col("ta") < F.col("tb"))
        .select(
            "ta", "tb", F.least("theta_a", "theta_b").alias("theta")
        )
    )
    side_a = pairs.join(sk, sk.event_type == pairs.ta).select(
        "ta", "tb", "theta", "h", F.lit(1).alias("side")
    )
    side_b = pairs.join(sk, sk.event_type == pairs.tb).select(
        "ta", "tb", "theta", "h", F.lit(2).alias("side")
    )
    hh = (
        side_a.unionByName(side_b)
        .filter(F.col("h") < F.col("theta"))
        .groupBy("ta", "tb", "theta", "h")
        .agg(F.countDistinct("side").alias("s"))
    )
    out = (
        hh.groupBy("ta", "tb", "theta")
        .agg(
            F.count(F.when(F.col("s") == 2, 1)).alias("m"),
            F.count(F.lit(1)).alias("nu"),
        )
        .select(
            "ta",
            "tb",
            F.col("m").cast("long").alias("sketch_common"),
            F.expr(f"CAST((m * {_KMV_M}) div theta AS BIGINT)").alias(
                "est_common_users"
            ),
            F.expr(f"CAST((nu * {_KMV_M}) div theta AS BIGINT)").alias(
                "est_union_users"
            ),
        )
    )
    from spark_spotify.functions.checkpoint import stable_checkpoint

    # materialize the pair-count result BEFORE unpersisting the sketch —
    # sk has three lazy consumers (th, side_a, side_b), and unpersisting
    # first would recompute the distinct+window build for each of them
    out = stable_checkpoint(out)
    sk.unpersist()
    return out


KMV_ORACLE = f"""
WITH uh AS (
  SELECT event_type, {_kmv_hash_sql("user_id", duck=True)} AS h
  FROM (SELECT DISTINCT event_type, user_id FROM events)
),
ranked AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM uh
),
sk AS (SELECT * FROM ranked WHERE rn <= {KMV_K}),
th AS (
  SELECT event_type,
         CASE WHEN max(rn) >= {KMV_K}
              THEN max(CASE WHEN rn = {KMV_K} THEN h END)
              ELSE {_KMV_M} END AS theta
  FROM sk GROUP BY event_type
),
pairs AS (
  SELECT a.event_type AS ta, b.event_type AS tb,
         CASE WHEN a.theta < b.theta THEN a.theta ELSE b.theta END AS theta
  FROM th a JOIN th b ON a.event_type < b.event_type
),
memb AS (
  SELECT p.ta, p.tb, p.theta, s.h, 1 AS side
  FROM pairs p JOIN sk s ON s.event_type = p.ta
  UNION ALL
  SELECT p.ta, p.tb, p.theta, s.h, 2 AS side
  FROM pairs p JOIN sk s ON s.event_type = p.tb
),
hh AS (
  SELECT ta, tb, theta, h, COUNT(DISTINCT side) AS s
  FROM memb WHERE h < theta GROUP BY ta, tb, theta, h
)
SELECT ta, tb,
       CAST(COUNT(CASE WHEN s = 2 THEN 1 END) AS BIGINT) AS sketch_common,
       CAST((COUNT(CASE WHEN s = 2 THEN 1 END) * {_KMV_M}) // theta
            AS BIGINT) AS est_common_users,
       CAST((COUNT(*) * {_KMV_M}) // theta AS BIGINT) AS est_union_users
FROM hh GROUP BY ta, tb, theta
"""


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT top-{HH_TOPK} most frequent tokens via the sketch-then-verify
    dataflow — the heavy-hitter shape that avoids a full-vocabulary
    shuffle at 100 TB, where groupBy(token) over billions of distinct
    keys is the bottleneck and the candidate set is what actually fits:

    1. **Sketch pass** — per-partition MERGEABLE Misra-Gries summaries
       ({HH_SUMMARY} counters) built batch-wise inside ``mapInPandas``
       (pandas ``value_counts`` per Arrow batch at C speed, then the
       Agarwal-et-al. merge: add, subtract the (M+1)-th largest count,
       drop non-positive, accumulate the subtraction into the summary's
       error).  Output is O(partitions × {HH_SUMMARY}) candidate rows —
       metadata-sized — never the vocabulary.
    2. **Verify pass** — exact counts of ONLY the candidate tokens
       (broadcast semi-join, one slim shuffle), top-{HH_TOPK} by
       (count DESC, token).
    3. **Certification** — the MG invariant guarantees any token absent
       from every summary has true frequency <= E = Σ per-partition
       errors; the gate REQUIRES the {HH_TOPK}-th verified count > E, so
       the returned top-k is PROVABLY complete (raises rather than
       silently returning a possibly-wrong set).

    The result is exact and partitioning-independent (candidates vary
    with partitioning; the verified, certified top-k does not) — which
    is why a plain SQL top-k oracle can hash-gate a sketch query."""
    import pandas as pd

    from spark_spotify.analytics.textops import tokens_col
    from spark_spotify.sources.tables import fan_out

    d = load_table(spark, sf_dir, "documents")
    toks = fan_out(d).select(
        F.explode(tokens_col(F.col("text"))).alias("token")
    )

    def mg_partition(batches):
        counters: dict[str, int] = {}
        err = 0
        for pdf in batches:
            vc = pdf["token"].value_counts()
            for tok, cnt in vc.items():
                counters[tok] = counters.get(tok, 0) + int(cnt)
            if len(counters) > HH_SUMMARY:
                vals = sorted(counters.values(), reverse=True)
                cut = vals[HH_SUMMARY]  # (M+1)-th largest
                counters = {
                    t: c - cut for t, c in counters.items() if c > cut
                }
                err += cut
        yield pd.DataFrame(
            {
                "token": [*counters.keys(), None],
                "err": [0] * len(counters) + [err],
            }
        )

    sketch = toks.mapInPandas(
        mg_partition, "token string, err long"
    ).persist()
    e_total = sketch.agg(F.sum("err")).collect()[0][0] or 0
    candidates = sketch.filter(F.col("token").isNotNull()).select(
        "token"
    ).distinct()
    exact = (
        toks.join(F.broadcast(candidates), "token")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(HH_TOPK)
    )
    from pyspark.sql import Window

    out = exact.withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.desc("n"), F.asc("token"))
        ),
    ).select(F.col("rank").cast("bigint"), "token", "n")
    rows = out.collect()  # HH_TOPK rows — the certification scalar read
    sketch.unpersist()
    # completeness certificate: any token absent from every summary has
    # true count <= e_total.  With a full k rows the k-th count must
    # clear that bound; with FEWER rows the candidate set itself may be
    # missing heavy tokens unless no decrement ever happened.
    uncertified = (
        rows[-1]["n"] <= e_total
        if len(rows) == HH_TOPK
        else e_total > 0
    )
    if rows and uncertified:
        raise RuntimeError(
            f"heavy-hitter certification failed: {len(rows)} verified "
            f"rows, k-th count {rows[-1]['n']}, summary error "
            f"{e_total}; raise HH_SUMMARY"
        )
    return spark.createDataFrame(rows, out.schema)


MEDIAN_LOCAL_CAP = 65536  # collect threshold for the final local select
MEDIAN_BUCKETS = 1024


def exact_order_stats(
    df: DataFrame, col: str, ranks: list[int]
) -> dict[int, float]:
    """EXACT k-th order statistics of a numeric column WITHOUT a global
    sort — see :func:`exact_order_stats_multi` (this is its single-group
    form).  Requested ranks must be nearby (e.g. the two median
    straddlers); the narrowing keeps ONE interval covering all of
    them."""
    return exact_order_stats_multi(df, col, [list(ranks)])


def exact_order_stats_multi(
    df: DataFrame, col: str, rank_groups: list[list[int]]
) -> dict[int, float]:
    """EXACT k-th order statistics of a numeric column WITHOUT a global
    sort — the scalable exact-quantile dataflow (Spark's own
    ``percentile`` is a single-buffer TypedImperativeAggregate that
    collects every value into one executor: exact but O(N) memory on one
    node; ``approx_percentile`` is bounded-memory but approximate; this
    is both exact AND bounded).  ``rank_groups`` is a list of NEARBY
    rank sets (each group keeps one narrowing interval); spread
    quantiles (p25/p75/p99) pass one group per quantile and every
    group's histogram rides the SAME scan.  Iterative histogram
    narrowing:

    1. ONE aggregate for (n, min, max) — shared by every group;
    2. while any group's candidate set exceeds {MEDIAN_LOCAL_CAP}: each
       active group buckets its CURRENT candidate range into
       {MEDIAN_BUCKETS} equal-width cells, and ONE scan computes all
       active groups' histograms at once (each row emits its (group,
       bucket) memberships through an array + explode — groups'
       intervals may overlap, so a row can feed several); the
       metadata-sized cumulative histograms are walked on the driver and
       each group narrows to the cell span containing its target ranks.
       The next filter reuses the SAME bucket expression (never
       recomputed float bounds), so edge rows cannot leak between
       iterations;
    3. resolve every group's ranks from its survivors' per-VALUE counts
       — again ONE slim groupBy over the union of candidate sets,
       bounded by the candidate distinct counts (which a
       duplicate-heavy stall only shrinks).

    Each iteration shrinks a group's candidate set ~{MEDIAN_BUCKETS}x,
    so the loop is O(log_B N) flat scan jobs for ALL groups together —
    the scan count is max over groups, not their sum — and driver
    memory is O(groups × (B + cap))."""
    first = df.agg(
        # count(col), not count(*): ranks are over the NON-NULL
        # multiset — a null row is in no order statistic
        F.count(col).alias("n"),
        F.min(col).alias("mn"),
        F.max(col).alias("mx"),
    ).collect()[0]
    n = first["n"]
    if n == 0:
        return {}

    class _G:
        def __init__(self, targets):
            self.targets = sorted(targets)
            self.pred = F.col(col).isNotNull()
            self.lo, self.hi = first["mn"], first["mx"]
            self.offset = 0  # rows excluded below the candidate set
            self.cnt = n
            self.iters = 0

        def active(self):
            # each genuine narrowing shrinks the interval >= 512x (the
            # target span is <= 2 of {MEDIAN_BUCKETS} cells), so 8
            # iterations exhaust binary64's range; what remains is a
            # duplicate mass no width-based histogram can split,
            # resolved on per-VALUE counts
            return (
                self.cnt > MEDIAN_LOCAL_CAP
                and self.lo < self.hi
                and self.iters < 8
            )

        def bucket(self):
            width = self.hi - self.lo
            # clamp BOTH sides: float rounding near a prior iteration's
            # bucket boundary can push a surviving edge row to -1 or B,
            # which would silently vanish from the histogram walk
            return F.greatest(
                F.lit(0),
                F.least(
                    F.floor(
                        (F.col(col) - F.lit(self.lo))
                        * MEDIAN_BUCKETS
                        / F.lit(width)
                    ),
                    F.lit(MEDIAN_BUCKETS - 1),
                ),
            ).cast("int")

    groups = [_G(t) for t in rank_groups]
    for g in groups:
        for r in g.targets:
            if not 1 <= r <= n:
                raise ValueError(f"rank {r} outside 1..{n}")
    while any(g.active() for g in groups):
        act = [(i, g) for i, g in enumerate(groups) if g.active()]
        buckets = {i: g.bucket() for i, g in act}
        # one scan, all active groups: a row emits (group, bucket) for
        # every group whose candidate predicate it satisfies
        entries = F.array_compact(
            F.array(
                *[
                    F.when(
                        g.pred,
                        F.struct(
                            F.lit(i).alias("g"),
                            buckets[i].alias("b"),
                        ),
                    )
                    for i, g in act
                ]
            )
        )
        rows = (
            df.select(F.explode(entries).alias("e"))
            .groupBy("e.g", "e.b")
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        )
        histos: dict[int, dict[int, int]] = {i: {} for i, _ in act}
        for r in rows:
            histos[r["g"]][r["b"]] = r["c"]
        for i, g in act:
            g.iters += 1
            histo = histos[i]
            width = g.hi - g.lo
            cum = 0
            spans = []
            for b in range(MEDIAN_BUCKETS):
                c = histo.get(b, 0)
                if any(
                    cum < r - g.offset <= cum + c for r in g.targets
                ):
                    spans.append((b, cum, c))
                cum += c
            b_first, cum_first, _ = spans[0]
            b_last = spans[-1][0]
            new_cnt = sum(
                histo.get(b, 0) for b in range(b_first, b_last + 1)
            )
            g.pred = g.pred & buckets[i].between(b_first, b_last)
            g.offset += cum_first
            new_lo = g.lo + b_first * width / MEDIAN_BUCKETS
            new_hi = g.lo + (b_last + 1) * width / MEDIAN_BUCKETS
            if new_cnt == g.cnt and (new_lo, new_hi) == (g.lo, g.hi):
                g.iters = 8  # narrowing stalled — duplicate mass
            g.cnt = new_cnt
            g.lo = min(max(new_lo, g.lo), g.hi)
            g.hi = min(new_hi, g.hi)
    # final resolution on per-VALUE counts (never raw rows), again ONE
    # scan across groups: bounded by each candidate DISTINCT count —
    # <= cnt <= cap after a clean narrow, a handful of few-ulp-apart
    # doubles after a duplicate stall
    entries = F.array_compact(
        F.array(
            *[
                F.when(
                    g.pred,
                    F.struct(
                        F.lit(i).alias("g"), F.col(col).alias("v")
                    ),
                )
                for i, g in enumerate(groups)
            ]
        )
    )
    pairs = (
        df.select(F.explode(entries).alias("e"))
        .groupBy("e.g", "e.v")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy("g", "v")
        .collect()
    )
    out: dict[int, float] = {}
    by_group: dict[int, list] = {i: [] for i in range(len(groups))}
    for row in pairs:
        by_group[row["g"]].append(row)
    for i, g in enumerate(groups):
        cum = g.offset
        for row in by_group[i]:
            for r in g.targets:
                if cum < r <= cum + row["c"]:
                    out[r] = row["v"]
            cum += row["c"]
    return out


def q_exact_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-median gate: the two order statistics straddling the median
    of ``events.value`` ((n+1)//2 and n//2+1, equal when n is odd) via
    the sort-free narrowing above.  Emitting the straddlers rather than
    their interpolated midpoint keeps the output hash-exact across
    engines (a midpoint's last ulp depends on the interpolation
    formula).  Oracle: row_number order statistics."""
    ev = load_table(spark, sf_dir, "events")
    # count the NON-NULL multiset — exact_order_stats ranks over it
    n = ev.agg(F.count("value")).collect()[0][0]
    r_lo, r_hi = (n + 1) // 2, n // 2 + 1
    stats = exact_order_stats(ev, "value", [r_lo, r_hi])
    return spark.createDataFrame(
        [(n, stats[r_lo], stats[r_hi])],
        "n_rows long, v_lo double, v_hi double",
    )


QUARTILE_PCTS = (25, 75, 99)


def q_exact_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p25 / p75 / p99 EXACT order-statistic straddlers over
    ``events.value`` — the percentile surface a data platform actually
    serves.  Each quantile keeps its own narrowing interval (the
    single-interval contract wants nearby ranks), but all three ride
    :func:`exact_order_stats_multi`'s SHARED scans: one (n, min, max)
    aggregate, one histogram scan per narrowing round covering every
    still-active quantile, one final per-value resolution — scan count
    is the max over quantiles, not their sum (the round-4 shape ran
    ~3 scans per quantile, ~9 total).  Straddlers, not interpolated
    midpoints, for hash-exact engine portability (same rationale as
    ``agg_exact_median``)."""
    import math

    ev = load_table(spark, sf_dir, "events")
    n = ev.agg(F.count("value")).collect()[0][0]
    rank_groups = []
    for p in QUARTILE_PCTS:
        x = (n - 1) * (p / 100.0)
        rank_groups.append(
            sorted({math.floor(x) + 1, math.ceil(x) + 1})
        )
    st = exact_order_stats_multi(ev, "value", rank_groups)
    vals = {}
    for p, rg in zip(QUARTILE_PCTS, rank_groups):
        r_lo, r_hi = rg[0], rg[-1]
        vals[f"p{p}_lo"], vals[f"p{p}_hi"] = st[r_lo], st[r_hi]
    cols = [f"p{p}_{s}" for p in QUARTILE_PCTS for s in ("lo", "hi")]
    return spark.createDataFrame(
        [(n, *[vals[c] for c in cols])],
        "n_rows long, " + ", ".join(f"{c} double" for c in cols),
    )


def _quartile_oracle() -> str:
    picks = []
    for p in QUARTILE_PCTS:
        q = p / 100.0
        picks.append(
            f"(SELECT value FROM s WHERE rn ="
            f" CAST(FLOOR((r.n - 1) * {q}) AS BIGINT) + 1) AS p{p}_lo"
        )
        picks.append(
            f"(SELECT value FROM s WHERE rn ="
            f" CAST(CEIL((r.n - 1) * {q}) AS BIGINT) + 1) AS p{p}_hi"
        )
    return f"""
WITH s AS (
  SELECT value, row_number() OVER (ORDER BY value) AS rn
  FROM events
),
r AS (SELECT COUNT(*) AS n FROM s)
SELECT CAST(r.n AS BIGINT) AS n_rows,
       {", ".join(picks)}
FROM r
"""


CMS_D = 4  # hash rows
CMS_W = 256  # counters per row
CMS_PROBES = 8  # point-query keys: user ids 0..7


def _cms_bucket(d: int, key: str) -> str:
    """Row-d counter index for ``key`` as a Spark SQL fragment —
    md5-derived, so the DuckDB oracle replays it bit-identically
    (the same portability discipline as every hash family here)."""
    return (
        f"cast(conv(substring(md5(concat('{d}|', cast({key} as string))),"
        f" 1, 8), 16, 10) as bigint) % {CMS_W}"
    )


def q_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min Sketch — the point-FREQUENCY member of the sketch
    family (HLL answers distinct, KMV set ops, Misra-Gries top-k; CMS
    answers "how many events did key k have" from a {CMS_D}×{CMS_W}
    integer grid).  Mergeable by cell-wise addition across partitions,
    days, or streams — the reason it serves frequency caps and
    heavy-hitter prefilters at 100 TB where a per-key exact count is a
    corpus-sized shuffle.

    Build: every event lands in {CMS_D} cells (one per hash row) — a
    slim posexplode to (d, bucket) and ONE map-side-combinable groupBy;
    the sketch is {CMS_D}·{CMS_W} rows at ANY corpus size.  Query:
    estimate(k) = MIN over rows of cell[d, h_d(k)].  CMS's signature
    one-sided guarantee — estimate >= true, always — is asserted
    in-line for every probe; the expected overestimate is N/{CMS_W}
    per row before the min.  Oracle: the identical sketch, hashes, and
    minima replayed in DuckDB — integer-exact by construction."""
    from spark_spotify.functions.checkpoint import stable_checkpoint

    ev = load_table(spark, sf_dir, "events").select("user_id")
    cells = ev.select(
        F.posexplode(
            F.array(
                *[F.expr(_cms_bucket(d, "user_id")) for d in range(CMS_D)]
            )
        ).alias("d", "bucket")
    )
    sketch = cells.groupBy("d", "bucket").agg(
        F.count(F.lit(1)).alias("c")
    )
    probes = spark.range(CMS_PROBES).select(
        F.col("id").alias("user_id"),
        F.posexplode(
            F.array(
                *[F.expr(_cms_bucket(d, "id")) for d in range(CMS_D)]
            )
        ).alias("d", "bucket"),
    )
    est = (
        probes.join(sketch, ["d", "bucket"])
        .groupBy("user_id")
        .agg(F.min("c").alias("estimate_n"))
    )
    exact = (
        ev.filter(F.col("user_id") < CMS_PROBES)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("exact_n"))
    )
    out = (
        est.join(exact, "user_id", "left")
        .select(
            "user_id",
            F.coalesce("exact_n", F.lit(0)).alias("exact_n"),
            "estimate_n",
            (F.col("estimate_n") - F.coalesce("exact_n", F.lit(0))).alias(
                "overestimate"
            ),
        )
        .transform(stable_checkpoint)
    )
    # the CMS contract, asserted on every probe: never an undercount
    _bad = [r for r in out.collect() if r["overestimate"] < 0]
    if _bad:
        raise RuntimeError(f"CMS undercounted probes: {_bad}")
    return out


ORACLE = {
    "agg_count_min": f"""
WITH cells AS (
  SELECT g.d AS d,
         CAST(('0x' || substr(md5(CAST(g.d AS VARCHAR) || '|'
                              || CAST(user_id AS VARCHAR)), 1, 8))
              AS BIGINT) % {CMS_W} AS bucket
  FROM events CROSS JOIN generate_series(0, {CMS_D - 1}) g(d)
),
sketch AS (
  SELECT d, bucket, COUNT(*) AS c FROM cells GROUP BY d, bucket
),
probes AS (
  SELECT p.u AS user_id, g.d AS d,
         CAST(('0x' || substr(md5(CAST(g.d AS VARCHAR) || '|'
                              || CAST(p.u AS VARCHAR)), 1, 8))
              AS BIGINT) % {CMS_W} AS bucket
  FROM generate_series(0, {CMS_PROBES - 1}) p(u)
  CROSS JOIN generate_series(0, {CMS_D - 1}) g(d)
),
est AS (
  SELECT user_id, CAST(MIN(c) AS BIGINT) AS estimate_n
  FROM probes JOIN sketch USING (d, bucket) GROUP BY user_id
),
exact AS (
  SELECT user_id, COUNT(*) AS exact_n FROM events
  WHERE user_id < {CMS_PROBES} GROUP BY user_id
)
SELECT e.user_id,
       COALESCE(x.exact_n, 0) AS exact_n,
       e.estimate_n,
       e.estimate_n - COALESCE(x.exact_n, 0) AS overestimate
FROM est e LEFT JOIN exact x USING (user_id)
""",
    "agg_exact_quartiles": _quartile_oracle(),
    "agg_exact_median": """
WITH s AS (
  SELECT value, row_number() OVER (ORDER BY value) AS rn,
         COUNT(*) OVER () AS n
  FROM events
)
SELECT CAST(MAX(n) AS BIGINT) AS n_rows,
       MAX(CASE WHEN rn = (n + 1) // 2 THEN value END) AS v_lo,
       MAX(CASE WHEN rn = n // 2 + 1 THEN value END) AS v_hi
FROM s
""",
    "agg_heavy_hitters": """
WITH toks AS (
  SELECT unnest(string_split(trim(text), ' ')) AS token FROM documents
),
ec AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS n FROM toks GROUP BY token
),
rk AS (
  SELECT token, n,
         row_number() OVER (ORDER BY n DESC, token ASC) AS rank
  FROM ec
)
SELECT CAST(rank AS BIGINT) AS rank, token, n FROM rk WHERE rank <= 20
""",
    "op_partition_overwrite": """
SELECT event_id, user_id,
       CASE WHEN event_type = 'purchase' THEN value * 2 ELSE value END
         AS value,
       event_type
FROM events
""",
    "agg_hll_rolling_7d": """
WITH d AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events)
SELECT d.day,
       COUNT(DISTINCT e.user_id) AS exact_users,
       TRUE AS rolling_within_tol
FROM d JOIN events e
  ON CAST(e.ts AS DATE) BETWEEN d.day - 6 AND d.day
GROUP BY d.day
""",
    "agg_hll_rollup": """
SELECT event_type,
       COUNT(DISTINCT user_id) AS exact_users,
       TRUE AS rollup_within_tol
FROM events
GROUP BY event_type
""",
    "agg_approx_percentile": """
SELECT event_type,
       round(quantile_cont(value, 0.50), 4) AS p50_exact,
       round(quantile_cont(value, 0.95), 4) AS p95_exact,
       TRUE AS sketch_within_tol
FROM events
GROUP BY event_type
""",
    "op_bloom_prune_join": f"""
SELECT o_orderstatus,
       COUNT(*) AS n_lines,
       {SQL_DSUM.format(x='l_extendedprice')} AS gross_revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT'
GROUP BY o_orderstatus
""",
    "agg_rollup_revenue": f"""
SELECT n_name, c_mktsegment,
       CAST(GROUPING(n_name, c_mktsegment) AS INT) AS grp_id,
       COUNT(*) AS n_orders,
       {SQL_DSUM.format(x='o_totalprice')} AS revenue
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY ROLLUP(n_name, c_mktsegment)
""",
    "op_salted_segment_value": f"""
SELECT c_mktsegment,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       {SQL_DSUM.format(x='value')} AS total_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment
""",
    "op_bucketed_join": f"""
SELECT c_custkey, c_name, c_mktsegment,
       COUNT(*) AS n_orders,
       {SQL_DSUM.format(x='o_totalprice')} AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey, c_name, c_mktsegment
""",
    "op_partitioned_prune": f"""
SELECT event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       {SQL_DSUM.format(x='value')} AS total_value
FROM events
WHERE event_type IN ('purchase', 'click')
GROUP BY event_type
""",
    # the oracle states the exact counts and the EXPECTED sketch-accuracy
    # verdict; Spark computes the real |approx-exact|/exact check, so a
    # drifting HLL estimate fails the gate
    "agg_approx_distinct": """
SELECT event_type,
       COUNT(DISTINCT user_id) AS exact_users,
       TRUE AS sketch_within_3rsd
FROM events
GROUP BY event_type
""",
    "ana_unpivot_metrics": f"""
WITH wide AS (
  SELECT event_type,
         CAST(COUNT(*) AS DOUBLE) AS n_events,
         CAST(COUNT(DISTINCT user_id) AS DOUBLE) AS n_users,
         {SQL_DSUM.format(x='value')} AS total_value
  FROM events GROUP BY event_type
)
UNPIVOT wide
ON n_events, n_users, total_value
INTO NAME metric VALUE metric_value
""",
    "agg_cube_sales": f"""
SELECT o_orderpriority, o_orderstatus,
       CAST(GROUPING(o_orderpriority, o_orderstatus) AS INT) AS grp_id,
       COUNT(*) AS n_orders,
       {SQL_DSUM.format(x='o_totalprice')} AS revenue
FROM orders
GROUP BY CUBE(o_orderpriority, o_orderstatus)
""",
    "agg_grouping_sets_sales": f"""
SELECT c_mktsegment, o_orderstatus,
       CAST(GROUPING(c_mktsegment, o_orderstatus) AS INT) AS grp_id,
       COUNT(*) AS n_orders,
       {SQL_DSUM.format(x='o_totalprice')} AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY GROUPING SETS ((c_mktsegment, o_orderstatus), (o_orderstatus), ())
""",
    "ana_segment_split": f"""
SELECT COALESCE(c_mktsegment, 'UNKNOWN') AS segment,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchases,
       round(AVG(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) * 100,
             2) AS purchase_pct,
       {SQL_DSUM.format(x='value')} AS total_value
FROM events LEFT JOIN customer ON user_id = c_custkey
GROUP BY COALESCE(c_mktsegment, 'UNKNOWN')
""",
}

def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join — the temporal operator Spark's join grammar lacks
    (DuckDB/kdb/Flink have it natively; the oracle IS DuckDB's ASOF
    JOIN): every event is joined to the user's LATEST purchase at or
    before it — the SCD2 / point-in-time-state / trade-to-quote shape a
    training-data pipeline needs to attach "state as of event time"
    features without leaking the future.

    Implemented as the UNION + ordered-window trick, not a range join:
    tag both relations, union them, and take ``last(state,
    ignorenulls)`` over a (key, ts, side)-ordered running window.  ONE
    shuffle on the join key; per-row work is a running carry-forward.
    The naive alternative — an inequality join + per-event argmax —
    builds every (event × earlier-purchase) pair first: O(events ×
    purchases/user) blowup that a frequent-buyer key turns quadratic.
    At 100 TB the union inherits the fact table's date partitioning and
    the window sorts locally per key partition — the same plan a
    dedicated as-of operator would produce.

    Determinism: purchases are pre-aggregated to one state row per
    (user, ts) (MAX(value) — concurrent same-microsecond purchases have
    no inherent order), and a purchase AT the event's own timestamp
    counts as preceding (``side`` orders state changes before reads at
    ties), matching ASOF JOIN's ``e.ts >= p.ts`` convention."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    reads = ev.select(
        "event_id",
        "user_id",
        "ts",
        F.lit(1).alias("side"),
        F.lit(None).cast("double").alias("state"),
    )
    state = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("state"))
        .select(
            F.lit(None).cast("long").alias("event_id"),
            "user_id",
            "ts",
            F.lit(0).alias("side"),
            "state",
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = (
        reads.unionByName(state)
        .withColumn(
            "last_purchase_value",
            F.last("state", ignorenulls=True).over(w),
        )
        .filter(F.col("side") == 1)
        .select("event_id", "user_id", "ts", "last_purchase_value")
    )
    return out


DECAY_CAP_DAYS = 20  # weights: 2^(CAP - days_ago), floor at 1


def q_decayed_popularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decayed popularity counters (half-life = 1 day) — the
    trending/recency ranking every feed or content store maintains:
    per event type, an exponentially-decayed event count and value sum
    as of the corpus's last day.  EXACT integer arithmetic end-to-end:
    the decay weight is the power of two ``2^(CAP - days_ago)``
    (days past the {DECAY_CAP_DAYS}-day horizon contribute the floor
    weight 1 — a deliberate cap, not an approximation error), value
    joins in as exact cents, and each per-row product is cast to
    DECIMAL(38,0) before the SUM so no row count can overflow —
    associative, partitioning-independent, bit-identical to the
    oracle.  One final division returns to double.  Scale shape: one
    map-side-combinable groupBy over the scan; the decayed table is
    group-cardinality-sized and REAGGREGATABLE day over day (add the
    new day's weighted rows, halve yesterday's total — the standing
    maintenance a 100 TB feed runs, same posture as the HLL rollup)."""
    ev = load_table(spark, sf_dir, "events")
    mx = ev.agg(F.max(F.to_date("ts")).alias("d_max"))
    d_ago = F.datediff(F.col("d_max"), F.to_date("ts"))
    w = F.pow(
        F.lit(2.0),
        F.greatest(
            F.lit(DECAY_CAP_DAYS) - d_ago, F.lit(0)
        ).cast("double"),
    ).cast("long")
    cents = F.round(F.col("value") * 100).cast("long")
    full = F.lit(float(100 * (1 << DECAY_CAP_DAYS)))
    return (
        ev.crossJoin(F.broadcast(mx))
        .groupBy("event_type")
        .agg(
            F.sum(w.cast("decimal(38,0)")).alias("_wsum"),
            F.sum((cents * w).cast("decimal(38,0)")).alias("_vsum"),
        )
        .select(
            "event_type",
            (F.col("_wsum").cast("double") / F.lit(float(1 << DECAY_CAP_DAYS)))
            .alias("decayed_count"),
            (F.col("_vsum").cast("double") / full).alias("decayed_value"),
        )
    )


ORACLE_DECAYED = f"""
WITH mx AS (SELECT MAX(CAST(ts AS DATE)) AS d_max FROM events),
w AS (
  SELECT event_type,
         CAST(power(2, GREATEST({DECAY_CAP_DAYS}
               - datediff('day', CAST(ts AS DATE), mx.d_max), 0))
              AS BIGINT) AS wt,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events CROSS JOIN mx
)
SELECT event_type,
       CAST(SUM(CAST(wt AS DECIMAL(38,0))) AS DOUBLE)
         / {float(1 << DECAY_CAP_DAYS)} AS decayed_count,
       CAST(SUM(CAST(cents * wt AS DECIMAL(38,0))) AS DOUBLE)
         / {float(100 * (1 << DECAY_CAP_DAYS))} AS decayed_value
FROM w GROUP BY event_type
"""


QUERIES = {
    "agg_decayed_popularity": q_decayed_popularity,
    "agg_rollup_revenue": q_rollup_revenue,
    "agg_grouping_sets_sales": q_grouping_sets_sales,
    "agg_cube_sales": q_cube_sales,
    "op_partitioned_prune": q_partitioned_prune,
    "op_dpp_join": q_dpp_join,
    "ana_unpivot_metrics": q_unpivot_metrics,
    "op_bucketed_join": q_bucketed_join,
    "op_salted_segment_value": q_salted_segment_value,
    "ana_segment_split": q_segment_split,
    "agg_approx_distinct": q_approx_distinct,
    "op_bloom_prune_join": q_bloom_prune_join,
    "agg_approx_percentile": q_approx_percentile,
    "agg_hll_rollup": q_hll_rollup,
    "agg_hll_rolling_7d": q_hll_rolling_7d,
    "op_partition_overwrite": q_partition_overwrite,
    "agg_heavy_hitters": q_heavy_hitters,
    "agg_exact_median": q_exact_median,
    "agg_exact_quartiles": q_exact_quartiles,
    "op_asof_join": q_asof_join,
    "agg_kmv_set_ops": q_kmv_set_ops,
    "agg_count_min": q_count_min,
}

ORACLE["agg_kmv_set_ops"] = KMV_ORACLE
ORACLE["agg_decayed_popularity"] = ORACLE_DECAYED

# DPP changes WHICH partitions are read, never which rows qualify
ORACLE["op_dpp_join"] = """
WITH dim AS (
  SELECT DISTINCT event_type FROM events WHERE length(event_type) % 2 = 0
)
SELECT e.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(e.value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM events e JOIN dim USING (event_type)
GROUP BY e.event_type
"""

# the oracle IS DuckDB's native ASOF JOIN — engine-grade semantics to
# match, not a hand-rolled correlated subquery
ORACLE["op_asof_join"] = """
WITH p AS (
  SELECT user_id, ts, MAX(value) AS state
  FROM events WHERE event_type = 'purchase'
  GROUP BY user_id, ts
)
SELECT e.event_id, e.user_id, e.ts,
       p.state AS last_purchase_value
FROM events e
ASOF LEFT JOIN p
  ON e.user_id = p.user_id AND e.ts >= p.ts
"""
