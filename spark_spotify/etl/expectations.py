"""Declarative data-quality expectations over the warehouse fact table —
the Delta CHECK-constraint / Great-Expectations surface a production table
carries: a rule set (NOT NULL, key uniqueness, domain membership, value
range, cross-column ordering) evaluated as violation COUNTS, so the table
owner gates a publish on ``all counts == 0`` and alerts on drift.

The reference trusts its inserts blindly (daily_etl_pipeline.py writes
whatever the API returned); an engine feeding training runs cannot — a
constraint sweep is the cheapest place to catch a decode bug before it
poisons a dataset.

Scale shape: ALL single-row rules evaluate in ONE scan — each rule is a
conditional-sum column in a single aggregate (map-side combinable,
whole-stage-codegen'd), then one ``stack`` unpivots the 1-row result to
(rule, n_violations) rows.  The uniqueness rule rides the same aggregate
as ``COUNT(*) - COUNT(DISTINCT key)``.  No per-rule scans, no joins, no
Python: rule count scales the projection width, never the I/O.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_spotify.etl.fact import q_fact_star

def _row_rules() -> dict[str, Column]:
    """rule name -> violation predicate (TRUE = row violates).  Built
    lazily: Column construction needs an active SparkContext."""
    return {
        "event_id_not_null": F.col("event_id").isNull(),
        "played_hour_in_range": ~F.col("played_hour").between(0, 23),
        "time_period_in_domain": ~F.col("time_period").isin(
            "morning", "afternoon", "evening", "night"
        ),
        "weekend_flag_not_null": F.col("is_weekend").isNull(),
        "first_seen_before_event": F.col("user_first_seen")
        > F.to_date(F.col("date_key").cast("string"), "yyyyMMdd"),
    }


def expectation_report(fact: DataFrame) -> DataFrame:
    """One-pass violation counts for every registered rule plus key
    uniqueness, as (rule, n_violations) rows sorted by rule name."""
    rules = _row_rules()
    aggs = [
        F.sum(pred.cast("bigint")).alias(name)
        for name, pred in rules.items()
    ]
    # non-null duplicate excess only — NULL keys are already attributed
    # to event_id_not_null, so they must not double-count here
    aggs.append(
        (F.count("event_id") - F.countDistinct("event_id")).alias(
            "event_id_unique"
        )
    )
    one = fact.agg(*aggs)
    names = sorted([*rules, "event_id_unique"])
    stack = ", ".join(f"'{n}', {n}" for n in names)
    return one.select(
        F.expr(
            f"stack({len(names)}, {stack}) AS (rule, n_violations)"
        )
    ).orderBy("rule")


def q_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    return expectation_report(q_fact_star(spark, sf_dir))


# (column, numeric projection) — timestamps profile as epoch MICROS
# (exact in binary64 up to 2^53; a raw timestamp min/max would hash
# differently across engines' string renderings)
_PROFILE_NUM = ("event_id", "ts_us", "user_id", "value")
_PROFILE_STR = ("event_type", "props")


def profile_columns(src: DataFrame) -> DataFrame:
    """Deequ-style one-scan column profiler — the discovery step that
    FEEDS :func:`expectation_report` (profile first, then pin the
    invariants the profile reveals): for every column its row count,
    null count, exact distinct count, and type-appropriate min/max.

    Shape: ONE ``stack`` melt of the scan into slim (col_name, num_val,
    str_val) triples feeding two aggregates — per-column stats (count /
    nulls / min / max, 6 groups) and a two-level exact distinct
    (hash-distinct the value pairs, then count per column).  This
    deliberately AVOIDS the single-agg multi-DISTINCT form: 6 DISTINCT
    aggregates trigger Catalyst's Expand(×7) and the string min/max
    buffers force SortAggregate, so the whole expanded stream gets
    sorted — measured 2.7 s vs 0.5 s for this shape at sf0.1 (5×).
    Everything here is hash-aggregable and map-side combinable; at
    100 TB the melt amplifies rows column-fold but each row is one slim
    value, and both shuffles carry only group/distinct keys.

    ``src`` must carry numeric columns ``_PROFILE_NUM`` (already cast to
    double) and string columns ``_PROFILE_STR``."""
    rows = [
        f"'{c}', {c}, CAST(NULL AS STRING)" for c in _PROFILE_NUM
    ] + [
        f"'{c}', CAST(NULL AS DOUBLE), {c}" for c in _PROFILE_STR
    ]
    n = len(rows)
    melt = src.select(
        F.expr(
            f"stack({n}, {', '.join(rows)}) AS "
            "(col_name, num_val, str_val)"
        )
    )
    both_null = F.col("num_val").isNull() & F.col("str_val").isNull()
    stats = melt.groupBy("col_name").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(both_null.cast("bigint")).alias("n_null"),
        F.min("num_val").alias("min_num"),
        F.max("num_val").alias("max_num"),
        F.min("str_val").alias("min_str"),
        F.max("str_val").alias("max_str"),
    )
    dc = (
        melt.filter(~both_null)
        .distinct()
        .groupBy("col_name")
        .agg(F.count(F.lit(1)).alias("n_distinct"))
    )
    return (
        stats.join(dc, "col_name", "left")
        .select(
            "col_name",
            "n_rows",
            "n_null",
            # an all-NULL column has no distinct pairs at all
            F.coalesce("n_distinct", F.lit(0)).alias("n_distinct"),
            "min_num",
            "max_num",
            "min_str",
            "max_str",
        )
        .orderBy("col_name")
    )


def q_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_spotify.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    src = ev.select(
        F.col("event_id").cast("double").alias("event_id"),
        F.unix_micros("ts").cast("double").alias("ts_us"),
        F.col("user_id").cast("double").alias("user_id"),
        F.col("value"),
        F.col("event_type"),
        F.col("props"),
    )
    return profile_columns(src)


DRIFT_BUCKETS = 12  # fixed-width value histogram cells for drift
DRIFT_WIDTH = 50.0  # bucket width in value units (corpus range 0..~560)


def q_profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-to-snapshot DISTRIBUTION DRIFT profile — the data-
    quality monitor a training-data pipeline runs between refreshes:
    did this batch move the value distribution?  The bronze table's v1
    (first half of the corpus) and live snapshots are histogrammed
    into {DRIFT_BUCKETS} fixed-width cells and compared per cell:
    smoothed probabilities (additive 0.5), L1 term (total-variation
    contribution) and chi-square term per bucket.  Per-BUCKET terms,
    not a folded scalar, deliberately: every arithmetic step is one
    identical IEEE-754 op sequence in both engines, so the gate is
    bit-exact — a folded PSI would hang cross-engine equality on
    ``ln`` (libm, ~1-ulp, implementation-defined) and float summation
    order.  Consumers sum the terms; monitoring thresholds don't care
    about the last ulp.

    Scale shape: two map-side-combinable {DRIFT_BUCKETS}-cell
    histogram aggregations (one per snapshot — each one scan, tiny
    shuffle), a broadcast totals cross-join, and O(buckets) final
    arithmetic.  Works unchanged on a 100 TB snapshot pair: the only
    data-sized work is the two scans."""
    from spark_spotify.etl.pipeline import shared_two_batch_warehouse
    from spark_spotify.warehouse import read_table

    warehouse, _ = shared_two_batch_warehouse(spark, sf_dir)
    b1 = read_table(spark, warehouse, "bronze", version=1)
    b2 = read_table(spark, warehouse, "bronze")
    K = DRIFT_BUCKETS

    def counts(df: DataFrame, name: str) -> DataFrame:
        b = F.least(
            F.floor(F.col("value") / DRIFT_WIDTH).cast("int"),
            F.lit(K - 1),
        )
        return df.groupBy(b.alias("bucket")).agg(
            F.count(F.lit(1)).alias(name)
        )

    spine = spark.range(K).select(F.col("id").cast("int").alias("bucket"))
    j = (
        spine.join(counts(b1, "n_base"), "bucket", "left")
        .join(counts(b2, "n_live"), "bucket", "left")
        .select(
            "bucket",
            F.coalesce("n_base", F.lit(0)).alias("n_base"),
            F.coalesce("n_live", F.lit(0)).alias("n_live"),
        )
    )
    tot = j.agg(
        F.sum("n_base").alias("t1"), F.sum("n_live").alias("t2")
    )
    p = j.crossJoin(F.broadcast(tot)).select(
        "bucket",
        "n_base",
        "n_live",
        (
            (F.col("n_base").cast("double") + F.lit(0.5))
            / (F.col("t1").cast("double") + F.lit(0.5 * K))
        ).alias("p_base"),
        (
            (F.col("n_live").cast("double") + F.lit(0.5))
            / (F.col("t2").cast("double") + F.lit(0.5 * K))
        ).alias("p_live"),
    )
    d = F.col("p_live") - F.col("p_base")
    return p.select(
        "bucket",
        "n_base",
        "n_live",
        "p_base",
        "p_live",
        F.abs(d).alias("l1_term"),
        (d * d / F.col("p_base")).alias("chi2_term"),
    )


from spark_spotify.etl import fact as _fact  # noqa: E402

QUERIES = {
    "etl_expectations": q_expectations,
    "etl_profile_columns": q_profile_columns,
    "etl_profile_drift": q_profile_drift,
}

ORACLE = {
    "etl_expectations": f"""
WITH f AS ({_fact.ORACLE['etl_fact_star']})
SELECT rule, n_violations FROM (
  SELECT 'event_id_not_null' AS rule,
         CAST(SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_violations FROM f
  UNION ALL
  SELECT 'event_id_unique',
         CAST(COUNT(event_id) - COUNT(DISTINCT event_id) AS BIGINT) FROM f
  UNION ALL
  SELECT 'played_hour_in_range',
         CAST(SUM(CASE WHEN played_hour NOT BETWEEN 0 AND 23
                       THEN 1 ELSE 0 END) AS BIGINT) FROM f
  UNION ALL
  SELECT 'time_period_in_domain',
         CAST(SUM(CASE WHEN time_period NOT IN
                       ('morning', 'afternoon', 'evening', 'night')
                       THEN 1 ELSE 0 END) AS BIGINT) FROM f
  UNION ALL
  SELECT 'weekend_flag_not_null',
         CAST(SUM(CASE WHEN is_weekend IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) FROM f
  UNION ALL
  SELECT 'first_seen_before_event',
         CAST(SUM(CASE WHEN user_first_seen >
                       CAST(strptime(CAST(date_key AS VARCHAR), '%Y%m%d')
                            AS DATE)
                       THEN 1 ELSE 0 END) AS BIGINT) FROM f
) ORDER BY rule
""",
}

# keep every float op the same IEEE sequence as the Spark side:
# (n + 0.5) / (t + 6.0), d = p_live - p_base, |d|, d*d/p_base
ORACLE["etl_profile_drift"] = """
WITH cut AS (
  SELECT make_timestamp((epoch_us(MIN(ts)) + epoch_us(MAX(ts))) // 2) AS c
  FROM events
),
base AS (
  SELECT LEAST(CAST(FLOOR(value / 50.0) AS INT), 11) AS bucket
  FROM events WHERE ts <= (SELECT c FROM cut)
),
live AS (
  SELECT LEAST(CAST(FLOOR(value / 50.0) AS INT), 11) AS bucket FROM events
),
spine AS (
  SELECT CAST(gs AS INT) AS bucket FROM generate_series(0, 11) t(gs)
),
c1 AS (SELECT bucket, COUNT(*) AS n FROM base GROUP BY bucket),
c2 AS (SELECT bucket, COUNT(*) AS n FROM live GROUP BY bucket),
j AS (
  SELECT s.bucket,
         COALESCE(c1.n, 0) AS n_base,
         COALESCE(c2.n, 0) AS n_live
  FROM spine s
  LEFT JOIN c1 ON s.bucket = c1.bucket
  LEFT JOIN c2 ON s.bucket = c2.bucket
),
t AS (SELECT SUM(n_base) AS t1, SUM(n_live) AS t2 FROM j),
p AS (
  SELECT bucket, n_base, n_live,
         (CAST(n_base AS DOUBLE) + 0.5) / (CAST(t1 AS DOUBLE) + 6.0)
           AS p_base,
         (CAST(n_live AS DOUBLE) + 0.5) / (CAST(t2 AS DOUBLE) + 6.0)
           AS p_live
  FROM j CROSS JOIN t
)
SELECT bucket, n_base, n_live, p_base, p_live,
       abs(p_live - p_base) AS l1_term,
       (p_live - p_base) * (p_live - p_base) / p_base AS chi2_term
FROM p
"""

ORACLE["etl_profile_columns"] = """
WITH src AS (
  SELECT CAST(event_id AS DOUBLE) AS event_id,
         CAST(epoch_us(ts) AS DOUBLE) AS ts_us,
         CAST(user_id AS DOUBLE) AS user_id,
         value, event_type, props
  FROM events
)
SELECT * FROM (
  SELECT 'event_id' AS col_name,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_null,
         CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_distinct,
         MIN(event_id) AS min_num, MAX(event_id) AS max_num,
         CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
  FROM src
  UNION ALL
  SELECT 'ts_us' AS col_name,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(CASE WHEN ts_us IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_null,
         CAST(COUNT(DISTINCT ts_us) AS BIGINT) AS n_distinct,
         MIN(ts_us) AS min_num, MAX(ts_us) AS max_num,
         CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
  FROM src
  UNION ALL
  SELECT 'user_id' AS col_name,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_null,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct,
         MIN(user_id) AS min_num, MAX(user_id) AS max_num,
         CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
  FROM src
  UNION ALL
  SELECT 'value' AS col_name,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_null,
         CAST(COUNT(DISTINCT value) AS BIGINT) AS n_distinct,
         MIN(value) AS min_num, MAX(value) AS max_num,
         CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
  FROM src
  UNION ALL
  SELECT 'event_type', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         CAST(COUNT(DISTINCT event_type) AS BIGINT),
         CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
         MIN(event_type), MAX(event_type)
  FROM src
  UNION ALL
  SELECT 'props', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         CAST(COUNT(DISTINCT props) AS BIGINT),
         CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
         MIN(props), MAX(props)
  FROM src
) ORDER BY col_name
"""
