"""CSV ingestion with schema'd PERMISSIVE bad-record handling — the CSV
twin of ``ana_json_malformed_audit``: a production CSV feed always contains
rows that fail the declared schema, and the engine must LAND them with
provenance (Spark's ``columnNameOfCorruptRecord``) instead of crashing
(FAILFAST) or silently dropping them (DROPMALFORMED) — the same
never-lose-a-record contract the streaming DLQ enforces per micro-batch.

The gate materializes the events table as real CSV text (so the actual
CSV parser, quoting, and type-coercion machinery runs), deterministically
corrupting every 97th row's numeric field, reads it back with a declared
schema in PERMISSIVE mode, and audits per event type: row counts, how many
rows quarantined, and the exact-decimal sum over the rows that survived.
The oracle restates the same audit from the uncorrupted source via the
id-mod rule.

Scale: schema'd CSV parsing is scan-side (whole-stage codegen'd
conversions); the corrupt column costs nothing for clean rows.  The write
is the fixture-side rig, not the operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_spotify.functions.agg import lsum
from spark_spotify.functions.scratch import scratch
from spark_spotify.sources.tables import load_table

CORRUPT_MOD = 97


def q_csv_ingest_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_spotify.functions.checkpoint import stable_checkpoint

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    num = (
        F.when(F.pmod("event_id", F.lit(CORRUPT_MOD)) == 0, F.lit("oops"))
        # NULL value -> empty field (CSV NULL), not a dropped field:
        # concat_ws would silently emit a SHORT line that PERMISSIVE
        # quarantines, diverging from the id-mod oracle
        .otherwise(F.coalesce(F.col("value").cast("string"), F.lit("")))
    )
    # RFC-4180-quote the free-text field so an event_type containing a
    # comma/quote round-trips instead of shifting columns; NULL stays a
    # bare empty field (unquoted "" is how Spark's reader spells NULL)
    etype = F.when(
        F.col("event_type").isNotNull(),
        F.concat(
            F.lit('"'),
            F.replace(F.col("event_type"), F.lit('"'), F.lit('""')),
            F.lit('"'),
        ),
    ).otherwise(F.lit(""))
    lines = ev.select(
        F.concat_ws(
            ",",
            F.coalesce(F.col("event_id").cast("string"), F.lit("")),
            F.coalesce(F.col("user_id").cast("string"), F.lit("")),
            etype,
            num,
        ).alias("value")
    )
    with scratch("csv") as path:
        lines.write.mode("overwrite").text(path)
        parsed = (
            spark.read.schema(
                "event_id long, user_id long, event_type string,"
                " value double, _corrupt string"
            )
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_corrupt")
            .csv(path)
        )
        out = parsed.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("_corrupt").isNotNull().cast("bigint")).alias(
                "n_corrupt"
            ),
            lsum(F.col("value")).alias("total_value"),
        )
        return stable_checkpoint(out)


QUERIES = {"src_csv_ingest_audit": q_csv_ingest_audit}

ORACLE = {
    "src_csv_ingest_audit": f"""
SELECT event_type,
       COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN event_id % {CORRUPT_MOD} = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_corrupt,
       CAST(SUM(CASE WHEN event_id % {CORRUPT_MOD} <> 0
                     THEN CAST(value AS DECIMAL(18,4)) END) AS DOUBLE)
         AS total_value
FROM events
GROUP BY event_type
""",
}
