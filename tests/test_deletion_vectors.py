"""Merge-on-read DELETE (deletion vectors): O(deleted rows) sidecars, a
read path that anti-filters them exactly, row-level commit concurrency,
and the compaction that materializes them away."""

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
    delete_rows,
    read_manifest,
    read_table,
)


@pytest.fixture()
def warehouse():
    path = tempfile.mkdtemp(prefix="spark_spotify_test_dv_")
    yield path
    shutil.rmtree(path, ignore_errors=True)


def _table(spark, warehouse, n=100, parts=1):
    """n rows across `parts` appends; each append lands as a multi-file
    part (APPEND_WRITE_FILES), so row identity must span files."""
    per = n // parts
    for k in range(parts):
        df = spark.range(k * per, (k + 1) * per).select(
            F.col("id"), (F.col("id") * 2).alias("v")
        )
        commit_append(df, warehouse, "t", k + 1)


def _ids(spark, warehouse):
    return sorted(
        r["id"] for r in read_table(spark, warehouse, "t").collect()
    )


def _inodes(warehouse, parts):
    out = {}
    for p in parts:
        d = os.path.join(warehouse, "t", p)
        for f in os.listdir(d):
            if f.endswith(".parquet"):
                out[f"{p}/{f}"] = os.stat(os.path.join(d, f)).st_ino
    return out


def test_mor_matches_cow(spark, warehouse):
    """The two physical delete strategies must be logically identical."""
    _table(spark, warehouse, 100, parts=2)
    other = tempfile.mkdtemp(prefix="spark_spotify_test_dv_b_")
    try:
        _table(spark, other, 100, parts=2)
        pred = (F.col("id") % 7 == 0) | (F.col("id") > 90)
        delete_rows(spark, warehouse, "t", pred, "x", mode="mor")
        delete_rows(spark, other, "t", pred, "x", mode="cow")
        assert _ids(spark, warehouse) == _ids(spark, other)
    finally:
        shutil.rmtree(other, ignore_errors=True)


def test_mor_writes_rows_not_parts(spark, warehouse):
    """No part file is rewritten (inode-proven) and the sidecar holds
    exactly one row per deleted row."""
    _table(spark, warehouse, 100, parts=2)
    before = _inodes(warehouse, ["p1", "p2"])
    n = delete_rows(
        spark, warehouse, "t", F.col("id").isin(3, 57, 99), "g", mode="mor"
    )
    assert n == 2  # both parts carry a hit
    assert _inodes(warehouse, ["p1", "p2"]) == before
    m = read_manifest(warehouse, "t", W.current_version(warehouse, "t"))
    assert m["parts"] == ["p1", "p2"]
    assert m["dv"] == {"p1": ["vg"], "p2": ["vg"]}
    dv = spark.read.parquet(os.path.join(warehouse, "t", "vg"))
    assert dv.count() == 3
    assert sorted(dv.columns) == ["f", "i"]
    assert _ids(spark, warehouse) == sorted(
        set(range(100)) - {3, 57, 99}
    )


def test_mor_null_predicate_rows_survive(spark, warehouse):
    """SQL DELETE three-valued logic: NULL predicate rows are kept."""
    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 30)], "id long, v int"
    )
    commit_append(df, warehouse, "t", 1)
    n = delete_rows(
        spark, warehouse, "t", F.col("v") > 15, "g", mode="mor"
    )
    assert n == 1
    assert _ids(spark, warehouse) == [1, 2]


def test_mor_redelivery_is_noop(spark, warehouse):
    """A re-delivered MOR delete finds its rows already vectorized:
    no new commit, no sidecar left behind."""
    _table(spark, warehouse, 50)
    delete_rows(spark, warehouse, "t", F.col("id") < 5, "a", mode="mor")
    v = W.current_version(warehouse, "t")
    n = delete_rows(spark, warehouse, "t", F.col("id") < 5, "b", mode="mor")
    assert n == 0
    assert W.current_version(warehouse, "t") == v
    assert not os.path.exists(os.path.join(warehouse, "t", "vb"))
    assert _ids(spark, warehouse) == list(range(5, 50))


def test_mor_stacks_and_time_travels(spark, warehouse):
    """Successive MOR deletes stack sidecars on one part; every older
    version still reads its own snapshot; RESTORE revives a dv state."""
    _table(spark, warehouse, 30)
    delete_rows(spark, warehouse, "t", F.col("id") < 10, "a", mode="mor")
    delete_rows(spark, warehouse, "t", F.col("id") >= 25, "b", mode="mor")
    m = read_manifest(warehouse, "t", 3)
    assert m["dv"] == {"p1": ["va", "vb"]}
    assert _ids(spark, warehouse) == list(range(10, 25))
    assert sorted(
        r["id"] for r in read_table(spark, warehouse, "t", version=2).collect()
    ) == list(range(10, 30))
    assert sorted(
        r["id"] for r in read_table(spark, warehouse, "t", version=1).collect()
    ) == list(range(30))
    W.restore_table(warehouse, "t", 2)
    assert _ids(spark, warehouse) == list(range(10, 30))


def test_two_mor_writers_same_part_disjoint_rows_both_land(
    spark, warehouse
):
    """The row-level concurrency COW can never give: two writers
    vectorizing DIFFERENT rows of the SAME part from the same base both
    commit; the read applies the union."""
    _table(spark, warehouse, 100)
    m1 = read_manifest(warehouse, "t", 1)
    dml._delete_rows_mor(
        spark, warehouse, "t", F.col("id") < 10, "a", 1, m1
    )
    # writer B read v1 BEFORE A committed — stale base, rebases onto v2
    dml._delete_rows_mor(
        spark, warehouse, "t", F.col("id") >= 90, "b", 1, m1
    )
    assert W.current_version(warehouse, "t") == 3
    m = read_manifest(warehouse, "t", 3)
    assert m["dv"] == {"p1": ["va", "vb"]}
    assert _ids(spark, warehouse) == list(range(10, 90))


def test_mor_on_part_rewritten_by_winner_conflicts(spark, warehouse):
    """A stale MOR delete whose row positions index a part the winner
    REWROTE must raise — the positions are dead."""
    _table(spark, warehouse, 100)
    m1 = read_manifest(warehouse, "t", 1)
    delete_rows(spark, warehouse, "t", F.col("id") < 10, "w", mode="cow")
    with pytest.raises(CommitConflictError):
        dml._delete_rows_mor(
            spark, warehouse, "t", F.col("id") >= 90, "b", 1, m1
        )
    # table unharmed
    assert _ids(spark, warehouse) == list(range(10, 100))


def test_cow_over_part_vectorized_by_winner_conflicts(spark, warehouse):
    """The reverse: a stale COW rewrite of a part the winner vectorized
    since our base would resurrect its deletions — must raise."""
    _table(spark, warehouse, 100)
    delete_rows(spark, warehouse, "t", F.col("id") < 10, "w", mode="mor")
    os.makedirs(os.path.join(warehouse, "t", "dx"))
    with pytest.raises(CommitConflictError):
        W.swing_rebase(warehouse, "t", 1, ["dx"], {"p1"})


def test_compact_materializes_vectors(spark, warehouse):
    """OPTIMIZE/compact is the vector garbage truck: after it, the rows
    are identical, the manifest references no sidecars, and vacuum can
    reclaim the sidecar bytes."""
    _table(spark, warehouse, 60, parts=2)
    delete_rows(
        spark, warehouse, "t", F.col("id") % 3 == 0, "a", mode="mor"
    )
    want = _ids(spark, warehouse)
    W.compact_table(spark, warehouse, "t", "z")
    m = read_manifest(warehouse, "t", W.current_version(warehouse, "t"))
    assert m["dv"] == {}
    assert _ids(spark, warehouse) == want
    removed = W.vacuum_table(warehouse, "t")
    assert "va" in removed  # dead sidecar reclaimed with the old parts
    assert _ids(spark, warehouse) == want


def test_vacuum_retains_live_sidecars(spark, warehouse):
    """A sidecar referenced by ANY retained snapshot must survive
    vacuum — reclaiming it would resurrect deleted rows."""
    _table(spark, warehouse, 40)
    delete_rows(spark, warehouse, "t", F.col("id") < 7, "a", mode="mor")
    removed = W.vacuum_table(warehouse, "t")
    assert removed == []
    assert os.path.isdir(os.path.join(warehouse, "t", "va"))
    assert _ids(spark, warehouse) == list(range(7, 40))


def test_merge_respects_vectors(spark, warehouse):
    """MERGE over a vectorized part: deleted rows must not resurrect,
    and a source row keyed to a DELETED row is an INSERT (the key no
    longer exists), exactly as if the delete had been COW."""
    df = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "id long, v double"
    )
    commit_append(df, warehouse, "t", 1)
    delete_rows(spark, warehouse, "t", F.col("id") == 2, "a", mode="mor")
    src = spark.createDataFrame(
        [(2, 222.0), (3, 333.0)], "id long, v double"
    )
    W.merge_rows(spark, warehouse, "t", src, "id", "m1")
    got = {
        r["id"]: r["v"] for r in read_table(spark, warehouse, "t").collect()
    }
    assert got == {1: 10.0, 2: 222.0, 3: 333.0}
    # the rewrite materialized the vector for the affected part
    m = read_manifest(warehouse, "t", W.current_version(warehouse, "t"))
    assert m["dv"] == {}


def test_clone_carries_vectors(spark, warehouse):
    """A shallow clone of a vectorized table reads identically (the
    sidecar is hard-linked along with the parts)."""
    _table(spark, warehouse, 30)
    delete_rows(spark, warehouse, "t", F.col("id") >= 20, "a", mode="mor")
    cw = tempfile.mkdtemp(prefix="spark_spotify_test_dv_c_")
    try:
        W.clone_table(warehouse, "t", cw, "t")
        got = sorted(
            r["id"] for r in read_table(spark, cw, "t").collect()
        )
        assert got == list(range(20))
    finally:
        shutil.rmtree(cw, ignore_errors=True)


def test_mor_job_count_flat_in_part_count(spark, warehouse):
    """The MOR scale property: ONE pushdown scan writing the sidecar +
    one sidecar read-back — Spark job count constant in part count."""
    from spark_spotify.warehouse import commit

    sc = spark.sparkContext

    def build(table, n_parts):
        parts = []
        for i in range(n_parts):
            spark.range(i * 10, i * 10 + 10).coalesce(1).write.parquet(
                f"{warehouse}/{table}/p{i}"
            )
            parts.append(f"p{i}")
        commit(warehouse, table, parts=parts)

    def jobs_for(table, n_parts, group):
        build(table, n_parts)
        sc.setJobGroup(group, group)
        try:
            n = delete_rows(
                spark, warehouse, table, F.col("id") == 5, "z", mode="mor"
            )
        finally:
            sc.setJobGroup(None, None)
        assert n == 1
        return len(sc.statusTracker().getJobIdsForGroup(group))

    small = jobs_for("small", 3, "dv_small")
    large = jobs_for("large", 30, "dv_large")
    assert small == large, (small, large)
    assert large <= 6


def _tracked_table(spark, warehouse):
    df = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "id long, v double"
    )
    commit_append(df, warehouse, "t", 1)
    W.enable_row_tracking(warehouse, "t")
    return {
        r["id"]: r["row_id"]
        for r in W.read_table_with_row_ids(spark, warehouse, "t").collect()
    }


def test_row_ids_stable_through_merge(spark, warehouse):
    """MERGE on a tracked table: updated rows keep their id (an update
    is the same row), inserts mint fresh unique ids, untouched rows are
    untouched."""
    ids0 = _tracked_table(spark, warehouse)
    hwm = W.read_manifest(warehouse, "t", 2)["row_hwm"]
    src = spark.createDataFrame(
        [(2, 222.0), (9, 90.0)], "id long, v double"
    )
    W.merge_rows(spark, warehouse, "t", src, "id", "m1")
    rows = {
        r["id"]: (r["row_id"], r["v"])
        for r in W.read_table_with_row_ids(spark, warehouse, "t").collect()
    }
    assert rows[1][0] == ids0[1] and rows[3][0] == ids0[3]
    assert rows[2] == (ids0[2], 222.0)  # updated row, same identity
    assert rows[9][0] >= hwm  # fresh id past the high-water mark
    assert len({rid for rid, _ in rows.values()}) == 4  # unique
    # a later append must not reuse the minted range
    commit_append(
        spark.createDataFrame([(50, 5.0)], "id long, v double"),
        warehouse,
        "t",
        9,
    )
    allr = {
        r["id"]: r["row_id"]
        for r in W.read_table_with_row_ids(spark, warehouse, "t").collect()
    }
    assert len(set(allr.values())) == 5


def test_row_ids_stable_through_mor_delete_and_compact(spark, warehouse):
    """A deletion-vector commit moves no rows, so ids are trivially
    stable; the compaction that materializes the vectors must keep
    them too."""
    ids0 = _tracked_table(spark, warehouse)
    delete_rows(spark, warehouse, "t", F.col("id") == 2, "a", mode="mor")
    ids1 = {
        r["id"]: r["row_id"]
        for r in W.read_table_with_row_ids(spark, warehouse, "t").collect()
    }
    assert ids1 == {k: v for k, v in ids0.items() if k != 2}
    W.compact_table(spark, warehouse, "t", "z")
    ids2 = {
        r["id"]: r["row_id"]
        for r in W.read_table_with_row_ids(spark, warehouse, "t").collect()
    }
    assert ids2 == ids1


def test_clone_carries_row_ids(spark, warehouse):
    ids0 = _tracked_table(spark, warehouse)
    cw = tempfile.mkdtemp(prefix="spark_spotify_test_dv_rc_")
    try:
        W.clone_table(warehouse, "t", cw, "t")
        ids = {
            r["id"]: r["row_id"]
            for r in W.read_table_with_row_ids(spark, cw, "t").collect()
        }
        assert ids == ids0
        # clone appends mint PAST the source's high-water mark
        commit_append(
            spark.createDataFrame([(7, 7.0)], "id long, v double"),
            cw,
            "t",
            9,
        )
        ids2 = {
            r["id"]: r["row_id"]
            for r in W.read_table_with_row_ids(spark, cw, "t").collect()
        }
        assert len(set(ids2.values())) == 4
    finally:
        shutil.rmtree(cw, ignore_errors=True)
