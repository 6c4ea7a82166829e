"""OPTIMIZE ... ZORDER BY: layout-only contract (rows identical), both
columns become prunable, composition with row tracking and deletion
vectors (the rewrite must materialize DVs and carry stable row ids)."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from spark_spotify import warehouse as W
from spark_spotify.warehouse import (
    commit_append,
    delete_rows,
    enable_row_tracking,
    manifest_parts,
    optimize_table,
    prune_parts,
    read_table,
    read_table_with_row_ids,
)


@pytest.fixture()
def warehouse():
    path = tempfile.mkdtemp(prefix="spark_spotify_test_zo_")
    yield path
    shutil.rmtree(path, ignore_errors=True)


def _grid_table(spark, warehouse, n=4096):
    """n rows over a (a, b) grid, committed as 4 parts that each span
    the FULL range of both columns."""
    df = spark.range(n).select(
        F.col("id"),
        (F.col("id") % 64).alias("a"),
        ((F.col("id") / 64).cast("long")).alias("b"),
    )
    for k in range(4):
        commit_append(df.filter(F.col("id") % 4 == k), warehouse, "t", k + 1)
    return df


def test_zorder_prunes_both_columns_rows_unchanged(spark, warehouse):
    df = _grid_table(spark, warehouse)
    before = sorted(map(tuple, read_table(spark, warehouse, "t").collect()))
    n = optimize_table(
        spark, warehouse, "t", 4096, tag="z", zorder_by=("a", "b")
    )
    assert n == 4
    parts = manifest_parts(warehouse, "t") or []
    assert len(parts) >= 4 and all(p.startswith("ozz") for p in parts)
    ka, _ = prune_parts(warehouse, "t", [("a", "=", 5)])
    kb, _ = prune_parts(warehouse, "t", [("b", "=", 5)])
    kab, _ = prune_parts(warehouse, "t", [("a", "=", 5), ("b", "=", 5)])
    assert len(ka) < len(parts)
    assert len(kb) < len(parts)
    assert len(kab) <= min(len(ka), len(kb))
    after = sorted(map(tuple, read_table(spark, warehouse, "t").collect()))
    assert before == after


def test_zorder_materializes_dvs_and_keeps_row_ids(spark, warehouse):
    _grid_table(spark, warehouse)
    enable_row_tracking(warehouse, "t")
    ids_before = {
        r["row_id"]
        for r in read_table_with_row_ids(spark, warehouse, "t")
        .filter(F.col("a") != 3)
        .collect()
    }
    # MOR delete leaves a deletion vector; the zorder rewrite must
    # materialize it (deleted rows gone from the new parts' bytes)
    delete_rows(spark, warehouse, "t", F.col("a") == 3, "d1", mode="mor")
    optimize_table(spark, warehouse, "t", 1 << 20, tag="z", zorder_by=("a", "b"))
    m = W.read_manifest(warehouse, "t", W.current_version(warehouse, "t"))
    assert not m["dv"], "zorder rewrite must materialize deletion vectors"
    out = read_table_with_row_ids(spark, warehouse, "t")
    assert out.filter(F.col("a") == 3).count() == 0
    assert {r["row_id"] for r in out.collect()} == ids_before


def test_zorder_folds_mixed_spec_layouts(spark, warehouse):
    """A hive-partitioned (spec-evolved) part and plain parts must fold
    through the ZORDER rewrite together, rows unchanged."""
    import os

    from spark_spotify.warehouse import commit

    df = spark.range(2048).select(
        F.col("id"),
        (F.col("id") % 64).alias("a"),
        ((F.col("id") / 64).cast("long")).alias("b"),
    )
    commit_append(df.filter(F.col("id") % 2 == 0), warehouse, "t", 1)
    # spec-evolved delta: hive-partitioned by a
    df.filter(F.col("id") % 2 == 1).write.partitionBy("a").parquet(
        os.path.join(warehouse, "t", "q2")
    )
    commit(warehouse, "t", parts=["p1", "q2"], specs={"q2": ["a"]})
    cols = ["id", "a", "b"]
    before = sorted(
        map(tuple, read_table(spark, warehouse, "t").select(*cols).collect())
    )
    n = optimize_table(
        spark, warehouse, "t", 1 << 20, tag="z", zorder_by=("a", "b")
    )
    assert n == 2
    after = sorted(
        map(tuple, read_table(spark, warehouse, "t").select(*cols).collect())
    )
    assert before == after


def test_zorder_scoped_by_predicate_leaves_rest_untouched(spark, warehouse):
    import os

    _grid_table(spark, warehouse)
    # scope to a <= 31: all four parts overlap (each spans the full a
    # range), so everything is rewritten; then scope a second run to an
    # empty range -> no-op
    n = optimize_table(
        spark, warehouse, "t", 1 << 20, tag="z",
        predicates=[("a", "<=", 63)], zorder_by=("a", "b"),
    )
    assert n == 4
    parts1 = manifest_parts(warehouse, "t") or []
    inos = {
        p: os.stat(
            os.path.join(warehouse, "t", p)
        ).st_ino
        for p in parts1
    }
    n2 = optimize_table(
        spark, warehouse, "t", 1 << 20, tag="z2",
        predicates=[("a", ">", 63)], zorder_by=("a", "b"),
    )
    assert n2 == 0
    assert (manifest_parts(warehouse, "t") or []) == parts1
    for p, ino in inos.items():
        assert os.stat(os.path.join(warehouse, "t", p)).st_ino == ino


def test_incremental_zorder_min_bytes_split(spark, sf_dir, tmp_path):
    """min_bytes decouples selection from the output target: parts
    between min_bytes and target_bytes are NOT selected, parts under
    min_bytes are, and the graduated output (sized toward target) never
    re-trips selection on a repeat pass."""
    import os

    from pyspark.sql import functions as F

    from spark_spotify.warehouse import (
        commit_append,
        manifest_parts,
        optimize_table,
    )
    from spark_spotify.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
        .cast("bigint")
        .alias("day"),
    )
    w = str(tmp_path / "wh")
    # one mid-sized part + two tiny parts
    commit_append(ev.filter(F.col("event_id") % 4 != 0), w, "t", 1)
    commit_append(ev.filter(F.col("event_id") % 8 == 0), w, "t", 2)
    commit_append(ev.filter(F.col("event_id") % 8 == 4), w, "t", 3)

    def psize(p: str) -> int:
        d = os.path.join(w, "t", p)
        return sum(
            os.path.getsize(os.path.join(root, f))
            for root, _dirs, files in os.walk(d)
            for f in files
            if f.endswith(".parquet")
        )

    big = psize("p1")
    small = max(psize("p2"), psize("p3"))
    assert small < big
    # selection bar below the mid part, target far above everything
    n = optimize_table(
        spark, w, "t", 4 * big, tag="m1",
        zorder_by=("user_id", "day"), incremental=True,
        min_bytes=(small + big) // 2,
    )
    assert n == 2  # only the two tiny parts folded
    parts = manifest_parts(w, "t")
    assert parts[0] == "p1" and all(
        p.startswith("om1z") for p in parts[1:]
    )
    # repeat pass: p1 sits above min_bytes and the single graduated
    # range (below the bar here) is protected by the >=2-part guard
    n2 = optimize_table(
        spark, w, "t", 4 * big, tag="m2",
        zorder_by=("user_id", "day"), incremental=True,
        min_bytes=(small + big) // 2,
    )
    assert n2 == 0
