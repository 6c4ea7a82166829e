"""Round-8 ADVICE regressions: delta_apply_mv rejects unknown change
types instead of folding them as deletes, the A/B z-test emits NULL on
a degenerate corpus in both engines, and the PII oracles interpolate
ALL three module regexes (no hardcoded twins that can drift)."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from spark_spotify.analytics import textops
from spark_spotify.analytics.listening import q_ab_test
from spark_spotify.warehouse import delta_apply_mv


def _mv(spark):
    return spark.createDataFrame(
        [(1, 10.0, 2), (2, 5.0, 1)], "user_id long, sum_value double, n_events long"
    )


def _feed(spark, ctype):
    return spark.createDataFrame(
        [(1, 3.0, ctype)], "user_id long, value double, _change_type string"
    )


def test_delta_apply_mv_rejects_unknown_change_type(spark):
    """A malformed/future _change_type must fail the job, not silently
    retire rows as if it were a delete."""
    bad = delta_apply_mv(_mv(spark), _feed(spark, "upsert_postimage"), "user_id")
    with pytest.raises(Exception, match="unknown _change_type"):
        bad.collect()


def test_delta_apply_mv_known_types_still_fold(spark):
    out = {
        r["user_id"]: (r["sum_value"], r["n_events"])
        for r in delta_apply_mv(
            _mv(spark), _feed(spark, "insert"), "user_id"
        ).collect()
    }
    assert out[1] == (13.0, 3) and out[2] == (5.0, 1)
    out = {
        r["user_id"]: (r["sum_value"], r["n_events"])
        for r in delta_apply_mv(
            _mv(spark), _feed(spark, "delete"), "user_id"
        ).collect()
    }
    assert out[1] == (7.0, 1)


def test_ab_test_degenerate_corpus_yields_null_z(spark):
    """All users in one variant -> se = NaN/0; z_score must be NULL
    (never NaN/Inf, whose cross-engine encoding is unhashable)."""
    d = tempfile.mkdtemp(prefix="spark_spotify_ab_")
    try:
        spark.createDataFrame(
            [(1, 2, "purchase", 1.0), (2, 4, "play", 2.0)],
            "event_id long, user_id long, event_type string, value double",
        ).select(
            "event_id",
            F.lit("2024-01-01 00:00:00").cast("timestamp").alias("ts"),
            "user_id",
            "event_type",
            "value",
            F.lit("{}").alias("props"),
        ).write.parquet(os.path.join(d, "events.parquet"))
        row = q_ab_test(spark, d).collect()[0]
        assert row["n_b"] == 0
        assert row["z_score"] is None
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_pii_oracles_interpolate_module_regexes():
    """Editing RE_URL/RE_PHONE must flow into the DuckDB oracles the
    same way RE_EMAIL does — assert the constants appear verbatim."""
    for q in ("text_pii_scan", "text_pii_redact"):
        sql = textops.ORACLE[q]
        assert textops.RE_EMAIL in sql
        assert textops.RE_URL in sql
        assert textops.RE_PHONE in sql
