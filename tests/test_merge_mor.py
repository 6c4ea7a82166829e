"""Merge-on-read MERGE (mode='mor'): sidecar-only update/delete commits
with zero part rewrites, logical equivalence to the COW merge, row-id
stability, and row-level write concurrency."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from spark_spotify import warehouse as W
from spark_spotify.warehouse import dml
from spark_spotify.warehouse import (
    CommitConflictError,
    commit_append,
    enable_row_tracking,
    matched_delete,
    matched_update,
    merge_rows,
    not_matched_insert,
    read_manifest,
    read_table,
    read_table_with_row_ids,
)


@pytest.fixture()
def warehouse():
    path = tempfile.mkdtemp(prefix="spark_spotify_test_mmor_")
    yield path
    shutil.rmtree(path, ignore_errors=True)


def _table(spark, warehouse, n=100, parts=2):
    per = n // parts
    for k in range(parts):
        df = spark.range(k * per, (k + 1) * per).select(
            F.col("id"), (F.col("id") * 2).alias("v")
        )
        commit_append(df, warehouse, "t", k + 1)


def _rows(spark, warehouse):
    return sorted(
        (r["id"], r["v"])
        for r in read_table(spark, warehouse, "t").collect()
    )


def _inodes(warehouse, parts):
    out = {}
    for p in parts:
        d = os.path.join(warehouse, "t", p)
        for f in os.listdir(d):
            if f.endswith(".parquet"):
                out[f"{p}/{f}"] = os.stat(os.path.join(d, f)).st_ino
    return out


def _src(spark):
    """20 updates (v=-1) + 5 inserts (keys past the table)."""
    return (
        spark.range(40, 60)
        .select(F.col("id"), F.lit(-1).cast("long").alias("v"))
        .unionByName(
            spark.range(1000, 1005).select(
                F.col("id"), F.lit(7).cast("long").alias("v")
            )
        )
    )


def test_mor_merge_matches_cow(spark, warehouse):
    other = tempfile.mkdtemp(prefix="spark_spotify_test_mmor_b_")
    try:
        _table(spark, warehouse)
        _table(spark, other)
        merge_rows(spark, warehouse, "t", _src(spark), "id", "x", mode="mor")
        merge_rows(spark, other, "t", _src(spark), "id", "x", mode="cow")
        assert _rows(spark, warehouse) == _rows(spark, other)
    finally:
        shutil.rmtree(other, ignore_errors=True)


def test_mor_merge_rewrites_nothing(spark, warehouse):
    _table(spark, warehouse)
    before = _inodes(warehouse, ["p1", "p2"])
    merge_rows(spark, warehouse, "t", _src(spark), "id", "x", mode="mor")
    assert _inodes(warehouse, ["p1", "p2"]) == before
    m = read_manifest(warehouse, "t", W.current_version(warehouse, "t"))
    assert sorted(m["parts"]) == ["mx", "p1", "p2"]
    assert m["dv"] == {"p1": ["vmx"], "p2": ["vmx"]}


def test_mor_merge_conditional_arms(spark, warehouse):
    """delete arm + conditional update arm + conditional insert, MOR vs
    COW equality under the full grammar."""
    other = tempfile.mkdtemp(prefix="spark_spotify_test_mmor_c_")
    try:
        _table(spark, warehouse)
        _table(spark, other)
        src = spark.range(30, 70).select(
            F.col("id"), (F.col("id") + 1000).alias("v")
        ).unionByName(
            spark.range(2000, 2010).select(
                F.col("id"), F.col("id").alias("v")
            )
        )
        arms = dict(
            when_matched=[
                matched_delete(F.col("s.id") % 5 == 0),
                matched_update(
                    F.col("s.id") % 2 == 0, {"v": F.col("s.v") * 10}
                ),
            ],
            when_not_matched=[not_matched_insert(F.col("s.id") % 2 == 1)],
        )
        merge_rows(
            spark, warehouse, "t", src, "id", "x", mode="mor", **arms
        )
        merge_rows(spark, other, "t", src, "id", "x", mode="cow", **arms)
        assert _rows(spark, warehouse) == _rows(spark, other)
    finally:
        shutil.rmtree(other, ignore_errors=True)


def test_mor_merge_delete_only_is_sidecar_only(spark, warehouse):
    _table(spark, warehouse)
    src = spark.range(10, 20).select(
        F.col("id"), F.lit(0).cast("long").alias("v")
    )
    n = merge_rows(
        spark,
        warehouse,
        "t",
        src,
        "id",
        "x",
        when_matched=[matched_delete()],
        when_not_matched=[],
        mode="mor",
    )
    assert n == 1
    m = read_manifest(warehouse, "t", W.current_version(warehouse, "t"))
    assert sorted(m["parts"]) == ["p1", "p2"]  # no new part at all
    assert _rows(spark, warehouse) == [
        (i, 2 * i) for i in range(100) if not 10 <= i < 20
    ]


def test_mor_merge_keeps_row_ids_on_update(spark, warehouse):
    _table(spark, warehouse)
    enable_row_tracking(warehouse, "t")
    ids_before = {
        r["id"]: r["row_id"]
        for r in read_table_with_row_ids(spark, warehouse, "t").collect()
    }
    merge_rows(spark, warehouse, "t", _src(spark), "id", "x", mode="mor")
    after = read_table_with_row_ids(spark, warehouse, "t").collect()
    ids_after = {r["id"]: r["row_id"] for r in after}
    assert len(ids_after) == len(after)  # ids unique
    for k, rid in ids_before.items():
        assert ids_after[k] == rid  # updates kept their ids
    minted = {ids_after[k] for k in range(1000, 1005)}
    assert minted == set(range(100, 105))  # inserts minted past hwm
    # and the update rows really carry v=-1 under their old ids
    assert all(r["v"] == -1 for r in after if 40 <= r["id"] < 60)


def test_two_update_only_mor_merges_same_part_both_land(spark, warehouse):
    """Updates mint no ids, so two disjoint-key MOR merges from the
    same base — touching the SAME part — both commit via the row-level
    rebase, even with row tracking on."""
    _table(spark, warehouse, parts=1)
    enable_row_tracking(warehouse, "t")
    base = W.current_version(warehouse, "t")
    m_base = read_manifest(warehouse, "t", base)
    sa = spark.range(0, 10).select(
        F.col("id"), F.lit(-1).cast("long").alias("v")
    )
    sb = spark.range(20, 30).select(
        F.col("id"), F.lit(-2).cast("long").alias("v")
    )
    arms = ([matched_update()], [])
    dml._merge_rows_mor(
        spark, warehouse, "t", sa, "id", "a", *arms, base, m_base,
        ["p1"], [], None, True,
    )
    # writer B read the same base BEFORE A committed
    dml._merge_rows_mor(
        spark, warehouse, "t", sb, "id", "b", *arms, base, m_base,
        ["p1"], [], None, True,
    )
    rows = _rows(spark, warehouse)
    assert [(i, -1) for i in range(10)] == rows[:10]
    assert all(v == -2 for i, v in rows if 20 <= i < 30)
    assert len(rows) == 100
    ids = read_table_with_row_ids(spark, warehouse, "t")
    assert ids.select("row_id").distinct().count() == 100


def test_two_insert_minting_mor_merges_conflict(spark, warehouse):
    """Both writers minted insert ids from the same watermark — the
    second must conflict, not commit duplicate 'stable' ids."""
    _table(spark, warehouse, parts=1)
    enable_row_tracking(warehouse, "t")
    base = W.current_version(warehouse, "t")
    m_base = read_manifest(warehouse, "t", base)
    mk = lambda lo: (
        spark.range(0, 5)
        .select(F.col("id"), F.lit(-1).cast("long").alias("v"))
        .unionByName(
            spark.range(lo, lo + 5).select(
                F.col("id"), F.lit(9).cast("long").alias("v")
            )
        )
    )
    arms = ([matched_update()], [not_matched_insert()])
    dml._merge_rows_mor(
        spark, warehouse, "t", mk(1000), "id", "a", *arms, base, m_base,
        ["p1"], [], None, True,
    )
    with pytest.raises(CommitConflictError, match="stale watermark"):
        dml._merge_rows_mor(
            spark, warehouse, "t", mk(2000), "id", "b", *arms, base,
            m_base, ["p1"], [], None, True,
        )


def test_mor_merge_then_compact_materializes(spark, warehouse):
    _table(spark, warehouse)
    merge_rows(spark, warehouse, "t", _src(spark), "id", "x", mode="mor")
    want = _rows(spark, warehouse)
    W.compact_table(spark, warehouse, "t", "z")
    m = read_manifest(warehouse, "t", W.current_version(warehouse, "t"))
    assert m["dv"] == {}
    assert _rows(spark, warehouse) == want


def test_mor_merge_schema_evolution(spark, warehouse):
    """merge_schema + MOR: the new part carries the evolved column,
    old parts' bytes untouched, pre-evolution rows read NULL."""
    _table(spark, warehouse)
    before = _inodes(warehouse, ["p1", "p2"])
    src = _src(spark).withColumn("src_system", F.lit("cdc"))
    merge_rows(
        spark, warehouse, "t", src, "id", "x",
        merge_schema=True, mode="mor",
    )
    assert _inodes(warehouse, ["p1", "p2"]) == before
    out = read_table(spark, warehouse, "t")
    got = {(r["id"], r["src_system"]) for r in out.collect()}
    assert (50, "cdc") in got and (1000, "cdc") in got
    assert (5, None) in got  # untouched row reads NULL


def test_not_matched_by_source_update_and_delete(spark, warehouse):
    """Replica sync: rows outside the source feed update or delete by
    the by-source arms; every part is affected by definition."""
    from spark_spotify.warehouse import (
        not_matched_by_source_delete,
        not_matched_by_source_update,
    )

    _table(spark, warehouse)  # ids 0..99, v = 2*id
    src = spark.range(0, 30).select(
        F.col("id"), F.lit(-1).cast("long").alias("v")
    )
    n = merge_rows(
        spark,
        warehouse,
        "t",
        src,
        "id",
        "x",
        when_not_matched_by_source=[
            not_matched_by_source_delete(F.col("t.id") >= 90),
            not_matched_by_source_update(
                F.col("t.id") >= 80, {"v": F.col("t.v") + 1000}
            ),
        ],
    )
    assert n == 2  # all parts rewritten
    rows = dict(_rows(spark, warehouse))
    assert len(rows) == 100 - 10  # ids 90..99 deleted
    assert all(rows[i] == -1 for i in range(30))  # matched updates
    assert all(rows[i] == 2 * i for i in range(30, 80))  # untouched
    assert all(rows[i] == 2 * i + 1000 for i in range(80, 90))  # bs arm


def test_not_matched_by_source_rejects_mor_and_bare_update(spark, warehouse):
    from spark_spotify.warehouse import (
        not_matched_by_source_delete,
        not_matched_by_source_update,
    )

    _table(spark, warehouse)
    src = spark.range(0, 5).select(
        F.col("id"), F.lit(0).cast("long").alias("v")
    )
    with pytest.raises(RuntimeError, match="COW only"):
        merge_rows(
            spark, warehouse, "t", src, "id", "x", mode="mor",
            when_not_matched_by_source=[not_matched_by_source_delete()],
        )
    with pytest.raises(RuntimeError, match="assignments"):
        not_matched_by_source_update(None, None)


def test_mor_key_reassigning_update_does_not_also_insert(spark, warehouse):
    """An update arm may reassign the KEY column itself; the insert half
    must anti-join on the key the source row MATCHED (staged `_mkey`),
    not the post-update image — else every key-rewriting update would
    duplicate its source row as an insert."""
    _table(spark, warehouse)
    # source keys 10..14 exist in the target; the update arm moves each
    # matched row's key out of the source key space entirely
    src = spark.range(10, 15).select(
        F.col("id"), F.lit(-5).cast("long").alias("v")
    )
    merge_rows(
        spark,
        warehouse,
        "t",
        src,
        "id",
        "kr",
        when_matched=[
            matched_update(
                assignments={
                    "id": F.col("t.id") + 10000,
                    "v": F.col("s.v"),
                }
            )
        ],
        when_not_matched=[not_matched_insert()],
        mode="mor",
    )
    rows = dict(_rows(spark, warehouse))
    assert len(rows) == 100  # no duplicate inserts: same row count
    for k in range(10, 15):
        assert k not in rows  # old key gone
        assert rows[k + 10000] == -5  # moved row carries the update
