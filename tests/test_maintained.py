"""Maintained-index gates: assignment tie-break parity with the
recompute path, footer-based row accounting, and the O(batch)
maintenance contract (a second batch must never touch v1 index parts).
The full gates are oracle-covered by test_oracle_parity; these tests
pin the pieces that could silently drift."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from spark_spotify.analytics.similarity import (
    N_CELLS,
    PQ_CENTS,
    _dot,
    _pq_l2,
    assign_cells,
    assign_pq_codes,
    pq_codebook_rows,
    pq_sub,
    vec_view,
)
from spark_spotify.sources.tables import load_table
from spark_spotify.warehouse import part_rows


def _cents(vecs):
    return vecs.filter(F.col("vec_id") < N_CELLS).select(
        F.col("vec_id").alias("cent_id"),
        F.col("emb").alias("cvec"),
        F.col("nrm").alias("cnrm"),
    )


def _window_first(scored, keys, order):
    """The independent reference: first row per key by row_number."""
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )


def _same_rows(got, want):
    return (
        got.exceptAll(want).count() == 0
        and want.exceptAll(got).count() == 0
    )


def test_assign_cells_matches_window_argmax(spark, sf_dir):
    """assign_cells' max_by(struct(cos, -cent_id)) must reproduce the
    oracle's row_number tie order (cos DESC, cent_id ASC) on every
    corpus vector, and assign_pq_codes' min_by(struct(dist, cent_id))
    the PQ order (dist ASC, cent_id ASC) on every (vector, subspace)."""
    vecs = vec_view(load_table(spark, sf_dir, "embeddings"))
    cents = _cents(vecs)
    cos_c = _dot("emb", "cvec") / (F.col("nrm") * F.col("cnrm"))
    want = _window_first(
        vecs.crossJoin(F.broadcast(cents)).withColumn("cos_c", cos_c),
        ["vec_id"],
        [F.desc("cos_c"), F.asc("cent_id")],
    ).select("vec_id", F.col("cent_id").alias("cell"))
    assert _same_rows(assign_cells(vecs, cents), want)

    codebook = pq_codebook_rows(vecs.filter(F.col("vec_id") < PQ_CENTS))
    want = _window_first(
        pq_sub(vecs)
        .join(F.broadcast(codebook), F.col("s") == F.col("cs"))
        .withColumn("dist", _pq_l2("v")),
        ["vec_id", "s"],
        [F.asc("dist"), F.asc("cent_id")],
    ).select("vec_id", "s", F.col("cent_id").alias("code"))
    assert _same_rows(assign_pq_codes(vecs, codebook), want)


def test_part_rows_counts_footers(spark, tmp_path):
    w = str(tmp_path)
    spark.range(123).write.parquet(os.path.join(w, "t", "p1"))
    spark.range(45).write.parquet(os.path.join(w, "t", "p2"))
    assert part_rows(w, "t", ["p1"]) == 123
    assert part_rows(w, "t", ["p1", "p2"]) == 168
    assert part_rows(w, "t", []) == 0


# factory key -> the gate whose served query (and ORACLE) it shares
_SERVED_BY = {
    "ann": "sim_ann_maintained",
    "ann_dv": "sim_ann_maintained_delete",
    "ann_pq": "sim_ann_pq_maintained",
    "ann_prune": "sim_ann_partition_prune",
    "ann_opt": "sim_ann_index_optimize",
    "ann_scaled": "sim_ann_maintained_scaled",
    "dedup": "dedup_incremental_maintained",
    "dedup_dv": "dedup_index_delete",
    "dedup_band": "dedup_band_lookup",
}


@pytest.mark.parametrize("key", sorted(_SERVED_BY))
def test_serve_factory_matches_gate_oracle(spark, sf_dir, key):
    """A serve-only factory serves exactly what its gate serves: the
    factory's output equals the gate's DuckDB oracle."""
    from spark_spotify.analytics.maintained import (
        SERVE_ALIASES,
        serve_factories,
    )
    from spark_spotify.registry import ORACLE
    from tests.oracle import compare

    gate = _SERVED_BY[key]
    assert SERVE_ALIASES[gate] == key
    serve, cleanup = serve_factories()[key](spark, sf_dir)
    try:
        report = compare(serve(), ORACLE[gate], sf_dir)
    finally:
        cleanup()
    assert report["ok"], f"{key}: {report['errors']}"
