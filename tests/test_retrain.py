"""Quantizer-retrain gate (sim_ann_retrain): pins the pieces the
oracle hash alone could mask — the drift geometry (each sub-cluster
sits exactly on a frozen Voronoi bisector and splits between the pair
cells), the strided-seed arithmetic, and the recall recovery margin.
The full gate is oracle-covered by test_oracle_parity."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from spark_spotify.analytics.maintained import (
    RT_BLOCK,
    RT_M,
    RT_OFF,
    _rt_drift,
    _rt_view,
    q_ann_retrain,
)
from spark_spotify.analytics.similarity import (
    E_SQL,
    N_CELLS,
    assign_cells,
    centroid_rows,
)
from spark_spotify.sources.tables import load_table


def _base(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    return _rt_view(
        emb.select("vec_id", F.expr(E_SQL).alias("emb"))
    )


def test_drift_straddles_frozen_bisectors(spark, sf_dir):
    """Every drifted sub-cluster m must (a) assign ONLY to its designed
    frozen pair (2m, 2m+1) — the bisector construction holds against
    all 8 centroids — and (b) actually SPLIT between the two cells (the
    RT_TINY noise breaks the tie both ways), which is what collapses
    single-probe recall."""
    base = _base(spark, sf_dir)
    drift = _rt_view(
        _rt_drift(spark, base).select("vec_id", "emb")
    )
    cells = assign_cells(drift, centroid_rows(base, N_CELLS))
    rows = (
        cells.withColumn(
            "m", F.expr(f"(vec_id - {RT_OFF}) div {RT_BLOCK}")
        )
        .groupBy("m", "cell")
        .count()
        .collect()
    )
    by_m: dict[int, dict[int, int]] = {}
    for r in rows:
        by_m.setdefault(r["m"], {})[r["cell"]] = r["count"]
    assert set(by_m) == set(range(RT_M))
    for m, cc in by_m.items():
        assert set(cc) == {2 * m, 2 * m + 1}, (m, cc)
        assert min(cc.values()) >= 1, (m, cc)


def test_drift_ids_are_m_contiguous(spark, sf_dir):
    """Drift ids group each sub-cluster contiguously in id order —
    the property the strided retrain seeding relies on to land seeds
    inside every sub-cluster."""
    base = _base(spark, sf_dir)
    ids = [
        r["vec_id"]
        for r in _rt_drift(spark, base)
        .select("vec_id")
        .orderBy("vec_id")
        .collect()
    ]
    n = len(ids)
    assert n % RT_M == 0
    block = n // RT_M
    for m in range(RT_M):
        seg = ids[m * block : (m + 1) * block]
        assert seg == [RT_OFF + m * RT_BLOCK + j for j in range(block)]


def test_drift_monitor_two_signal_design(spark, sf_dir):
    """The monitor must trip on the drifted batch via the COSINE
    signal while the occupancy signal stays quiet (bisector drift is
    occupancy-uniform by construction) — the reason the monitor
    carries both."""
    from spark_spotify.analytics.maintained import (
        DRIFT_COS_THRESHOLD,
        DRIFT_TVD_THRESHOLD,
        q_ann_drift_monitor,
    )

    rows = {
        r["batch"]: r
        for r in q_ann_drift_monitor(spark, sf_dir).collect()
    }
    b, a = rows["build"], rows["arrival"]
    assert not b["should_retrain"] and a["should_retrain"]
    assert (
        abs(a["mean_assign_cos"] - b["mean_assign_cos"])
        > DRIFT_COS_THRESHOLD
    )
    assert a["occupancy_tvd"] <= DRIFT_TVD_THRESHOLD


def test_retrain_recall_recovers(spark, sf_dir):
    """End-to-end: frozen recall degrades under drift, retrained recall
    recovers, and the retrained quantizer is corpus-scaled."""
    rows = {
        r["phase"]: r for r in q_ann_retrain(spark, sf_dir).collect()
    }
    f, r = rows["frozen"], rows["retrained"]
    assert f["n_cells"] == N_CELLS
    assert f["recall_at_k"] <= 0.75
    assert r["recall_at_k"] >= f["recall_at_k"] + 0.2
    n = f["n_queries"] * 6  # corpus = 5x drift + drift
    assert r["n_cells"] >= math.isqrt(n) - 1
