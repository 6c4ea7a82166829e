"""Round-11 guards: scale-gated graph-loop broadcasts (VERDICT r10 #3)
and the loud-failure/DV-check hardening of the footer-count helpers
(ADVICE r10)."""

from __future__ import annotations

import pytest

from spark_spotify.analytics import graph as G
from spark_spotify.warehouse import part_rows, path_rows


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_state_broadcast_hint_under_bound(spark, sf_dir):
    df = spark.range(5).selectExpr("id as v", "id as r")
    hinted = G._state_broadcast(df, sf_dir, "supplier")
    # the hint node only exists on the hinted logical plan
    assert hinted is not df
    assert (
        "Hint broadcast"
        in hinted._jdf.queryExecution().logical().toString()
    )


def test_state_broadcast_no_hint_over_bound(spark, sf_dir, monkeypatch):
    monkeypatch.setattr(G, "GRAPH_STATE_BROADCAST_ROWS", 0)
    df = spark.range(5).selectExpr("id as v", "id as r")
    out = G._state_broadcast(df, sf_dir, "supplier")
    assert out is df  # conservative branch: untouched relation


def test_state_broadcast_unknown_size_no_hint(spark):
    df = spark.range(5).selectExpr("id as v", "id as r")
    out = G._state_broadcast(df, "/nonexistent/sfdir", "supplier")
    assert out is df


def test_graph_loops_identical_without_broadcast(spark, sf_dir, monkeypatch):
    """The fallback (shuffle-join) path must produce bit-identical
    results — the hint is a plan choice, never a semantics choice."""
    with_bc = {
        "pr": G.q_pagerank_iter(spark, sf_dir).collect(),
        "lp": G.q_label_propagation(spark, sf_dir).collect(),
    }
    monkeypatch.setattr(G, "GRAPH_STATE_BROADCAST_ROWS", 0)
    assert G.q_pagerank_iter(spark, sf_dir).collect() == with_bc["pr"]
    assert G.q_label_propagation(spark, sf_dir).collect() == with_bc["lp"]


def test_dir_rows_raises_on_empty(tmp_path):
    with pytest.raises(Exception, match="no parquet files"):
        path_rows(str(tmp_path))  # empty dir: loud, not silent 0
    with pytest.raises(Exception, match="no parquet files"):
        path_rows(str(tmp_path / "missing.parquet"))


def test_part_rows_raises_on_missing_part(tmp_path):
    (tmp_path / "t").mkdir()
    with pytest.raises(Exception, match="no parquet files"):
        part_rows(str(tmp_path), "t", ["p1"])


def test_part_rows_rejects_dv_parts(spark, tmp_path):
    """A part carrying a deletion vector must fail the footer count
    loudly — footer rows overcount live rows there (ADVICE r10)."""
    from spark_spotify.warehouse import (
        commit_append,
        delete_rows,
        manifest_parts,
    )
    from pyspark.sql import functions as F

    w = str(tmp_path)
    df = spark.range(10).select(
        F.col("id").alias("event_id"), (F.col("id") % 3).alias("user_id")
    )
    commit_append(df, w, "t", 1)
    assert part_rows(w, "t", manifest_parts(w, "t")) == 10
    delete_rows(spark, w, "t", F.col("user_id") == 1, "d1", mode="mor")
    with pytest.raises(Exception, match="deletion vectors"):
        part_rows(w, "t", manifest_parts(w, "t"))
