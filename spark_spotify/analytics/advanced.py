"""Advanced operator queries: as-of join, behavior radar, exact percentiles,
language-ID heuristic.

- as-of: each event joined to the user's most recent prior-or-same 'purchase'
  (operators/asof.py).
- radar: the dashboard "behavior radar" multi-metric profile
  (main_ratio.py:97-151) incl. the reference's Postgres *integer* division
  for repeat_ratio (main_ratio.py:114 — int/int truncates; reproduced with
  explicit floor(), SURVEY.md §7.2).
- percentiles: exact linear-interpolation percentiles (Spark ``percentile``
  == DuckDB ``quantile_cont``); at 100 TB you'd flip to percentile_approx —
  kept exact here so the oracle can gate it.
- lang-ID: marker-token n-gram heuristic producing a deterministic
  prediction + confidence per doc.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spark_spotify.functions.agg import lscale, lsum, lsum_scaled
from spark_spotify.functions.text import tokens_col
from spark_spotify.operators.asof import asof_last_event
from spark_spotify.sources.tables import fan_out, load_table

# --- as-of join -----------------------------------------------------------


def q_asof_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    with_asof = asof_last_event(
        ev,
        key="user_id",
        ts="ts",
        mark=F.col("event_type") == "purchase",
        order_tiebreak="event_id",
    )
    return with_asof.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.col("asof_ts").alias("last_purchase_ts"),
        # half-up to milliseconds in INTEGER µs arithmetic, then one exact
        # /1000 — round(double, 3) is not engine-portable at the .0005
        # boundary (Spark rounds the shortest decimal repr of the double,
        # DuckDB rounds the binary value; diverged at sf0.1)
        (
            F.expr(
                "(unix_micros(ts) - unix_micros(asof_ts) + 500) div 1000"
            )
            / 1000.0
        ).alias("secs_since_purchase"),
    )


# --- behavior radar -------------------------------------------------------


def q_behavior_radar(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    xi = lscale(F.col("value"), 2)  # exact scaled cents; cents^2 is scale-4
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("total_plays"),
        F.countDistinct("user_id").alias("unique_users"),
        lsum(F.col("value"), 2).alias("_s1"),
        lsum_scaled(xi * xi, 4).alias("_s2"),
        F.avg(
            F.when(F.hour("ts").between(6, 17), 1).otherwise(0)
        ).alias("_daytime_frac"),
    )
    n = F.col("total_plays")
    s1 = F.col("_s1")
    s2 = F.col("_s2")
    return g.select(
        "event_type",
        "total_plays",
        "unique_users",
        # Postgres int/int truncation quirk, reproduced deliberately:
        F.floor(n / F.col("unique_users")).cast("bigint").alias("repeat_ratio"),
        F.round(s1 / n, 4).alias("avg_value"),
        F.round(F.sqrt((s2 - s1 * s1 / n) / (n - 1)), 4).alias("std_value"),
        F.round(F.col("_daytime_frac") * 100, 1).alias("daytime_pct"),
    )


# --- exact percentiles ----------------------------------------------------


PCTS = [0.25, 0.5, 0.75, 0.95]


def q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    p = F.percentile(F.col("value"), F.lit(PCTS))
    return ev.groupBy("event_type").agg(
        F.round(p[0], 4).alias("p25"),
        F.round(p[1], 4).alias("p50"),
        F.round(p[2], 4).alias("p75"),
        F.round(p[3], 4).alias("p95"),
    )


# --- language-ID heuristic -----------------------------------------------

LANG_MARKERS = {
    "en": ["the", "a", "of"],
    "query_heavy": ["query", "filter", "join"],
    "data_heavy": ["data", "row", "table"],
}


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fan_out(load_table(spark, sf_dir, "documents"))
    toks = tokens_col(F.col("text"))

    def score(markers: list[str]) -> F.Column:
        arr = F.array(*[F.lit(m) for m in markers])
        return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))

    s_en = score(LANG_MARKERS["en"])
    s_q = score(LANG_MARKERS["query_heavy"])
    s_d = score(LANG_MARKERS["data_heavy"])
    best = F.greatest(s_en, s_q, s_d)
    pred = (
        F.when(s_en == best, "en")
        .when(s_q == best, "query_heavy")
        .otherwise("data_heavy")
    )
    return d.select(
        "doc_id",
        "lang",
        s_en.cast("int").alias("score_en"),
        s_q.cast("int").alias("score_query"),
        s_d.cast("int").alias("score_data"),
        pred.alias("predicted_profile"),
        F.round(best / F.size(toks), 3).alias("confidence"),
    )


# --- SCD2 history build ---------------------------------------------------


def q_scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 history from a change stream: each
    event closes the user's previous state row and opens a new one
    (valid_from = event time, valid_to = next event time, open-ended row =
    current). The reference's dims only upsert-in-place (last_updated,
    daily_etl_pipeline.py:322-324); SCD2 is the warehouse pattern that keeps
    the history those upserts destroy.

    One window over (user_id, ts) — shuffle on user_id only; at 100 TB this
    is the standard date-partition + key-cluster layout and the window stays
    partition-local."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        F.row_number().over(w).alias("version"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        "event_type",
        "value",
    ).withColumn("is_current", F.col("valid_to").isNull())


# --- user value deciles ---------------------------------------------------


def q_user_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE decile segmentation: per-user lifetime value -> 10 equal-count
    buckets -> per-decile profile (the "whale curve" a monetization team
    reads).  Covers the ntile window family (§2.5 — absent from the
    reference, which bucket-cases by hand, P9).

    The global ntile sorts USER-level rows (post-aggregation), not events —
    the single-partition sort touches cardinality(users) rows only.  At
    100 TB-of-events scale that's still the right shape; if user cardinality
    itself explodes, the scale path is approx-quantile cutpoints + a
    broadcast range join (the rel_value_range_join pattern)."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        lsum(F.col("value")).alias("user_value"),
        F.count(F.lit(1)).alias("user_events"),
    )
    w = Window.orderBy(F.desc("user_value"), F.asc("user_id"))
    return (
        per_user.withColumn("decile", F.ntile(10).over(w))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.round(F.sum("user_value"), 2).alias("decile_value"),
            F.round(F.min("user_value"), 2).alias("min_user_value"),
            F.round(F.max("user_value"), 2).alias("max_user_value"),
            F.sum("user_events").alias("n_events"),
        )
    )


# --- JSON payload profiling (F14) ----------------------------------------


def q_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON payload parsing (SURVEY.md F14 — the reference json.loads's full
    API payloads, curl_spotify_tracker.py:200): ``from_json`` with an
    explicit schema (the typed, codegen'd path — never schema inference on
    the hot path), then per-event-type profile of the extracted field.

    At 100 TB the parse happens scan-side and prunes to the one referenced
    key; semi-structured payload columns stay strings in storage."""
    ev = load_table(spark, sf_dir, "events")
    k = F.from_json(F.col("props"), "k INT")["k"]
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count("k").alias("n_with_k"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.countDistinct("k").alias("n_distinct_k"),
        )
    )


def q_json_malformed_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bad-record audit for semi-structured payloads — the PERMISSIVE-parse
    accounting every production bronze layer needs (the reference
    json.loads's API payloads inside a try/except and silently drops
    failures, curl_spotify_tracker.py:200; this makes the drop rate an
    observable).  A fixed slice of the payloads is corrupted
    deterministically (event_id mod: truncation, blanking — the two
    log-shipping failure modes with identical validity semantics in Spark
    and DuckDB; trailing-garbage intentionally excluded: Spark's Jackson
    path tolerates it, DuckDB rejects it), then rows are classified with
    null-safe extraction and profiled per corruption class.

    Scale: pure scan-side expression work + one tiny-keyed aggregation;
    nothing about the shape changes with corpus size."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "props")
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
    is_valid = F.get_json_object(mangled, "$").isNotNull()
    k = F.get_json_object(mangled, "$.k").cast("int")
    return (
        ev.select(
            corruption.alias("corruption"),
            is_valid.cast("int").alias("v"),
            k.alias("k"),
        )
        .groupBy("corruption")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("v").alias("n_valid"),
            (F.count(F.lit(1)) - F.sum("v")).alias("n_invalid"),
            F.count("k").alias("n_k_extracted"),
            F.sum("k").alias("sum_k"),
        )
    )


# --- cohort retention matrix ----------------------------------------------


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users are cohorted by the ISO week of their
    first event; each (cohort_week, week_offset) cell counts the distinct
    users active that many weeks later, plus retention %% against the
    cohort's size — the standard growth-analytics matrix the reference's
    first_heard/first_discovered dims (daily_etl_pipeline.py:316,:358) only
    hint at.  (Week grain because the synthetic corpus spans one month.)

    Scale: first-event week is one per-user MIN; activity cells are a
    distinct over (user, cohort, offset) — both shuffles keyed on user_id
    (partitioning reuse), then a cells-sized aggregate.  The offset-0 size
    joins back on cohort_week (broadcast, #weeks rows)."""
    ev = load_table(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(
        F.to_date(F.date_trunc("week", F.min("ts"))).alias("cohort_week")
    )
    cells = (
        ev.join(first, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                F.datediff(
                    F.to_date(F.date_trunc("week", F.col("ts"))),
                    F.col("cohort_week"),
                )
                / 7
            ).cast("int").alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )
    base = cells.filter(F.col("week_offset") == 0).select(
        "cohort_week", F.col("n_users").alias("cohort_size")
    )
    return (
        cells.join(F.broadcast(base), "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            "n_users",
            "cohort_size",
            F.round(F.col("n_users") * 100.0 / F.col("cohort_size"), 3).alias(
                "retention_pct"
            ),
        )
    )


# --- rolling z-score anomaly scan -----------------------------------------

Z_WINDOW = 28
Z_THRESHOLD = 2.0


def q_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-volume anomaly scan: each day's event count is z-scored against
    the mean/stddev of the prior 28 days (ROWS frame over the dense daily
    series, excluding the current row) and flagged beyond ±2σ — the ops
    monitor a pipeline runs over its own throughput telemetry.

    Scale: one date-keyed aggregate (map-side combinable) collapses the
    corpus to ~#days rows; the window runs over that tiny series.  Sample
    stddev over integer counts is exact enough that the 3dp-rounded z-score
    is engine-stable."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    w = (
        Window.orderBy("d").rowsBetween(-Z_WINDOW, -1)
    )
    mu = F.avg("n_events").over(w)
    sd = F.stddev_samp("n_events").over(w)
    z = (F.col("n_events") - mu) / sd
    return daily.select(
        "d",
        "n_events",
        F.round(mu, 3).alias("mean_28d"),
        F.round(sd, 3).alias("stddev_28d"),
        F.round(z, 3).alias("zscore"),
        F.coalesce(F.abs(z) > Z_THRESHOLD, F.lit(False)).alias("is_anomaly"),
    )


# --- staged conversion funnel ---------------------------------------------


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view → click → purchase funnel with a 24 h conversion window:
    a user advances a stage only with an event strictly after — and within
    24 h of — their entry into the previous stage (first view, then first
    qualifying click, then first qualifying purchase) — the
    sequence-sensitive semantics a flat ``COUNT(DISTINCT)`` per event type
    gets wrong.  Emits one row per stage with the user count and the
    conversion %% from the prior stage (lag window over the 3-row result).

    Scale: three per-user MIN aggregates and two joins, all keyed on
    user_id — one shuffle partitioning reused across every stage (Exchange
    reuse), map-side combinable; the window runs on 3 rows."""
    ev = load_table(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("view_ts"))
    )
    day = F.expr("INTERVAL 24 HOURS")
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(
            (F.col("ts") > F.col("view_ts"))
            & (F.col("ts") <= F.col("view_ts") + day)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("click_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(
            (F.col("ts") > F.col("click_ts"))
            & (F.col("ts") <= F.col("click_ts") + day)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("purchase_ts"))
    )
    stages = (
        v.agg(F.count(F.lit(1)).alias("n_users"))
        .select(F.lit(1).alias("stage_ord"), F.lit("view").alias("stage"), "n_users")
        .unionByName(
            c.agg(F.count(F.lit(1)).alias("n_users")).select(
                F.lit(2).alias("stage_ord"),
                F.lit("click").alias("stage"),
                "n_users",
            )
        )
        .unionByName(
            p.agg(F.count(F.lit(1)).alias("n_users")).select(
                F.lit(3).alias("stage_ord"),
                F.lit("purchase").alias("stage"),
                "n_users",
            )
        )
    )
    w = Window.orderBy("stage_ord")
    prev = F.lag("n_users").over(w)
    return stages.select(
        "stage_ord",
        "stage",
        "n_users",
        F.when(prev.isNull(), F.lit(100.0))
        .otherwise(F.round(F.col("n_users") * 100.0 / prev, 3))
        .alias("pct_prev"),
    )


HIST_BINS = 10


def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of event value per event type: global
    [min, max] from a one-row broadcast aggregate, each row mapped to
    ``floor((v - lo) / (hi - lo) * bins)`` clamped into the top bin.
    The distribution-profiling primitive behind data-drift monitors and
    feature audits; two scans, one (type, bin)-sized shuffle, no sort.
    Bin edges are derived from the same IEEE double expression in both
    engines, so assignment is bit-identical."""
    ev = load_table(spark, sf_dir, "events")
    rng = ev.agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    )
    v = F.col("value")
    bin_id = F.least(
        F.floor(
            (v - F.col("lo")) / (F.col("hi") - F.col("lo")) * HIST_BINS
        ).cast("int"),
        F.lit(HIST_BINS - 1),
    )
    return (
        ev.crossJoin(F.broadcast(rng))
        .select("event_type", bin_id.alias("bin_id"))
        .groupBy("event_type", "bin_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


ORACLE = {
    "ana_value_histogram": """
WITH rng AS (
  SELECT MIN(value) AS lo, MAX(value) AS hi FROM events
)
SELECT event_type,
       CAST(LEAST(CAST(floor((value - lo) / (hi - lo) * 10) AS INT), 9)
            AS INT) AS bin_id,
       COUNT(*) AS n_events
FROM events, rng
GROUP BY 1, 2
""",
    "ana_retention_cohorts": """
WITH first AS (
  SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
  FROM events GROUP BY user_id
),
cells AS (
  SELECT f.cohort_week,
         CAST(date_diff('day', f.cohort_week,
                        CAST(date_trunc('week', e.ts) AS DATE)) / 7 AS INT)
           AS week_offset,
         COUNT(DISTINCT e.user_id) AS n_users
  FROM events e JOIN first f ON e.user_id = f.user_id
  GROUP BY 1, 2
),
base AS (
  SELECT cohort_week, n_users AS cohort_size FROM cells WHERE week_offset = 0
)
SELECT c.cohort_week, c.week_offset, c.n_users, b.cohort_size,
       round(c.n_users * 100.0 / b.cohort_size, 3) AS retention_pct
FROM cells c JOIN base b ON c.cohort_week = b.cohort_week
""",
    "ana_anomaly_zscore": """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, COUNT(*) AS n_events
  FROM events GROUP BY 1
),
wd AS (
  SELECT d, n_events,
         AVG(n_events) OVER w AS mu,
         STDDEV_SAMP(n_events) OVER w AS sd
  FROM daily
  WINDOW w AS (ORDER BY d ROWS BETWEEN 28 PRECEDING AND 1 PRECEDING)
)
SELECT d, n_events,
       round(mu, 3) AS mean_28d,
       round(sd, 3) AS stddev_28d,
       round((n_events - mu) / sd, 3) AS zscore,
       coalesce(abs((n_events - mu) / sd) > 2.0, false) AS is_anomaly
FROM wd
""",
    "ana_funnel": """
WITH v AS (
  SELECT user_id, MIN(ts) AS view_ts
  FROM events WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, MIN(e.ts) AS click_ts
  FROM events e JOIN v ON e.user_id = v.user_id
    AND e.ts > v.view_ts AND e.ts <= v.view_ts + INTERVAL 24 HOURS
  WHERE e.event_type = 'click' GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, MIN(e.ts) AS purchase_ts
  FROM events e JOIN c ON e.user_id = c.user_id
    AND e.ts > c.click_ts AND e.ts <= c.click_ts + INTERVAL 24 HOURS
  WHERE e.event_type = 'purchase' GROUP BY e.user_id
),
stages AS (
  SELECT 1 AS stage_ord, 'view' AS stage, (SELECT COUNT(*) FROM v) AS n_users
  UNION ALL
  SELECT 2, 'click', (SELECT COUNT(*) FROM c)
  UNION ALL
  SELECT 3, 'purchase', (SELECT COUNT(*) FROM p)
)
SELECT stage_ord, stage, n_users,
       CASE WHEN lag(n_users) OVER (ORDER BY stage_ord) IS NULL THEN 100.0
            ELSE round(n_users * 100.0 / lag(n_users) OVER (ORDER BY stage_ord), 3)
       END AS pct_prev
FROM stages
""",
    "ana_user_value_deciles": """
WITH per_user AS (
  SELECT user_id,
         CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS user_value,
         COUNT(*) AS user_events
  FROM events GROUP BY user_id
),
d AS (
  SELECT *, NTILE(10) OVER (ORDER BY user_value DESC, user_id) AS decile
  FROM per_user
)
SELECT CAST(decile AS INT) AS decile,
       COUNT(*) AS n_users,
       round(SUM(user_value), 2) AS decile_value,
       round(MIN(user_value), 2) AS min_user_value,
       round(MAX(user_value), 2) AS max_user_value,
       CAST(SUM(user_events) AS BIGINT) AS n_events
FROM d GROUP BY decile
""",
    "etl_scd2_user_state": """
SELECT user_id,
       CAST(row_number() OVER w AS INT) AS version,
       ts AS valid_from,
       lead(ts) OVER w AS valid_to,
       event_type,
       value,
       lead(ts) OVER w IS NULL AS is_current
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
    "ana_json_malformed_audit": """
WITH m AS (
  SELECT CASE WHEN event_id % 7 = 0 THEN 'truncated'
              WHEN event_id % 7 = 1 THEN 'blanked'
              ELSE 'intact' END AS corruption,
         CASE WHEN event_id % 7 = 0 THEN substr(props, 1, length(props) - 1)
              WHEN event_id % 7 = 1 THEN ''
              ELSE props END AS p
  FROM events
)
SELECT corruption,
       COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN json_valid(p) THEN 1 ELSE 0 END) AS BIGINT)
         AS n_valid,
       CAST(COUNT(*) - SUM(CASE WHEN json_valid(p) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_invalid,
       COUNT(CASE WHEN json_valid(p)
                  THEN json_extract_string(p, '$.k') END) AS n_k_extracted,
       CAST(SUM(CASE WHEN json_valid(p)
                     THEN CAST(json_extract_string(p, '$.k') AS INT) END)
            AS BIGINT) AS sum_k
FROM m GROUP BY corruption
""",
    "ana_props_json": """
WITH p AS (
  SELECT event_type,
         CAST(json_extract_string(props, '$.k') AS INT) AS k
  FROM events
)
SELECT event_type,
       COUNT(*) AS n_events,
       COUNT(k) AS n_with_k,
       CAST(SUM(k) AS BIGINT) AS sum_k,
       MIN(k) AS min_k,
       MAX(k) AS max_k,
       COUNT(DISTINCT k) AS n_distinct_k
FROM p GROUP BY event_type
""",
    "op_asof_purchase": """
SELECT event_id, user_id, ts, event_type,
       MAX(CASE WHEN event_type = 'purchase' THEN ts END) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase_ts,
       ((epoch_us(ts) - epoch_us(
         MAX(CASE WHEN event_type = 'purchase' THEN ts END) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) + 500)
         // 1000) / 1000.0 AS secs_since_purchase
FROM events
""",
    "ana_behavior_radar": """
WITH g AS (
  SELECT event_type,
         COUNT(*) AS total_plays,
         COUNT(DISTINCT user_id) AS unique_users,
         CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS s1,
         CAST(SUM(CAST(CAST(value AS DECIMAL(18,4)) *
                       CAST(value AS DECIMAL(18,4)) AS DECIMAL(28,8)))
            AS DOUBLE) AS s2,
         AVG(CASE WHEN CAST(EXTRACT(hour FROM ts) AS INT) BETWEEN 6 AND 17
                  THEN 1 ELSE 0 END) AS daytime_frac
  FROM events GROUP BY event_type
)
SELECT event_type, total_plays, unique_users,
       CAST(floor(total_plays / unique_users) AS BIGINT) AS repeat_ratio,
       round(s1 / total_plays, 4) AS avg_value,
       round(sqrt((s2 - s1 * s1 / total_plays) / (total_plays - 1)), 4)
         AS std_value,
       round(daytime_frac * 100, 1) AS daytime_pct
FROM g
""",
    "ana_value_percentiles": """
SELECT event_type,
       round(quantile_cont(CAST(value AS DOUBLE), 0.25), 4) AS p25,
       round(quantile_cont(CAST(value AS DOUBLE), 0.5), 4) AS p50,
       round(quantile_cont(CAST(value AS DOUBLE), 0.75), 4) AS p75,
       round(quantile_cont(CAST(value AS DOUBLE), 0.95), 4) AS p95
FROM events GROUP BY event_type
""",
    "text_lang_id": """
WITH s AS (
  SELECT doc_id, lang,
         string_split(trim(text), ' ') AS toks
  FROM documents
), sc AS (
  SELECT doc_id, lang,
         len(list_filter(toks, t -> t IN ('the','a','of'))) AS score_en,
         len(list_filter(toks, t -> t IN ('query','filter','join'))) AS score_query,
         len(list_filter(toks, t -> t IN ('data','row','table'))) AS score_data,
         len(toks) AS n_toks
  FROM s
)
SELECT doc_id, lang,
       CAST(score_en AS INT) AS score_en,
       CAST(score_query AS INT) AS score_query,
       CAST(score_data AS INT) AS score_data,
       CASE WHEN score_en = greatest(score_en, score_query, score_data) THEN 'en'
            WHEN score_query = greatest(score_en, score_query, score_data) THEN 'query_heavy'
            ELSE 'data_heavy' END AS predicted_profile,
       round(greatest(score_en, score_query, score_data) / n_toks, 3)
         AS confidence
FROM sc
""",
}

QUERIES = {
    "op_asof_purchase": q_asof_purchase,
    "ana_behavior_radar": q_behavior_radar,
    "ana_value_percentiles": q_value_percentiles,
    "text_lang_id": q_lang_id,
    "ana_props_json": q_props_json,
    "ana_json_malformed_audit": q_json_malformed_audit,
    "etl_scd2_user_state": q_scd2_user_state,
    "ana_user_value_deciles": q_user_value_deciles,
    "ana_funnel": q_funnel,
    "ana_retention_cohorts": q_retention_cohorts,
    "ana_anomaly_zscore": q_anomaly_zscore,
    "ana_value_histogram": q_value_histogram,
}
