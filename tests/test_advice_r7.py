"""Round-7 ADVICE regressions: bloom kind guard (no false DROP on a
family-mismatched literal), swing_rebase's stale-row-watermark and
concurrent-schema-change conflicts, and pure-insert MERGE onto a table
whose first part carries a materialized _row_id footer."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from spark_spotify import warehouse as W
from spark_spotify.warehouse import (
    CommitConflictError,
    add_bloom_index,
    commit_append,
    delete_rows,
    enable_row_tracking,
    merge_rows,
    prune_parts,
    read_manifest,
    read_table,
    read_table_with_row_ids,
    swing_rebase,
)


@pytest.fixture()
def warehouse():
    path = tempfile.mkdtemp(prefix="spark_spotify_test_r7_")
    yield path
    shutil.rmtree(path, ignore_errors=True)


def _table(spark, warehouse, n=100, parts=1):
    per = n // parts
    for k in range(parts):
        df = spark.range(k * per, (k + 1) * per).select(
            F.col("id"), (F.col("id") * 2).alias("v")
        )
        commit_append(df, warehouse, "t", k + 1)


def _stage_part(spark, warehouse, name, lo, hi):
    spark.range(lo, hi).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    ).coalesce(1).write.parquet(os.path.join(warehouse, "t", name))


def test_bloom_rejects_non_string_integral_column(spark, warehouse):
    """A DOUBLE column's cast-to-string ('100.0') never matches the
    probe's str(literal) ('100') — the build must refuse instead of
    planting a silent false-DROP index."""
    df = spark.range(100).select(
        F.col("id"), (F.col("id") * 1.0).alias("d")
    )
    commit_append(df, warehouse, "t", 1)
    with pytest.raises(RuntimeError, match="string or integral"):
        add_bloom_index(spark, warehouse, "t", "d", "1")


def test_bloom_kind_mismatch_keeps_parts(spark, warehouse):
    """An int-column bloom consulted with a STRING literal contributes
    no coverage: 't.id = '0100'' matches rows holding 100 under SQL
    cast-equality, but the probe would hash '0100' while the build
    hashed '100' — trusting the miss would drop the matching part."""
    _table(spark, warehouse, 100, parts=2)
    add_bloom_index(spark, warehouse, "t", "id", "1")
    # int literal: the index prunes (60 lives in p2 only)
    kept, _ = prune_parts(warehouse, "t", [("id", "=", 60)])
    assert kept == ["p2"]
    # string literal spelling of a present value: family mismatch, the
    # bloom must NOT prune even though '0100' hashes to a miss
    kept, _ = prune_parts(warehouse, "t", [("id", "=", "0100")])
    assert set(kept) == {"p1", "p2"}


def test_rebase_conflicts_on_stale_row_watermark(spark, warehouse):
    """Two writers minting materialized row ids from the same base
    watermark cannot both land — the second's pre-minted range overlaps
    ids the winner already wrote into part bytes."""
    _table(spark, warehouse, 100)
    enable_row_tracking(warehouse, "t")
    base = W.current_version(warehouse, "t")
    hwm = read_manifest(warehouse, "t", base)["row_hwm"]
    _stage_part(spark, warehouse, "x1", 1000, 1010)
    _stage_part(spark, warehouse, "x2", 2000, 2010)
    swing_rebase(warehouse, "t", base, ["x1"], row_hwm_min=hwm + 10)
    with pytest.raises(CommitConflictError, match="stale watermark"):
        swing_rebase(warehouse, "t", base, ["x2"], row_hwm_min=hwm + 10)
    # a plain append (no minted ids) from the same stale base still lands
    swing_rebase(warehouse, "t", base, ["x2"])


def test_rebase_conflicts_on_concurrent_schema_change(spark, warehouse):
    """A schema-evolving commit whose base predates the winner's schema
    change must conflict, not overwrite the winner's evolved schema."""
    from pyspark.sql.types import LongType, StructField, StructType

    _table(spark, warehouse, 100)
    base = W.current_version(warehouse, "t")
    sch_a = StructType(
        [StructField("id", LongType()), StructField("v", LongType()),
         StructField("a", LongType())]
    ).json()
    sch_b = StructType(
        [StructField("id", LongType()), StructField("v", LongType()),
         StructField("b", LongType())]
    ).json()
    _stage_part(spark, warehouse, "y1", 1000, 1010)
    _stage_part(spark, warehouse, "y2", 2000, 2010)
    swing_rebase(warehouse, "t", base, ["y1"], schema=sch_a)
    with pytest.raises(CommitConflictError, match="schema"):
        swing_rebase(warehouse, "t", base, ["y2"], schema=sch_b)
    # evolving over a winner that did NOT touch the schema still lands
    base2 = W.current_version(warehouse, "t")
    _stage_part(spark, warehouse, "y3", 3000, 3010)
    _stage_part(spark, warehouse, "y4", 4000, 4010)
    swing_rebase(warehouse, "t", base2, ["y3"])  # plain append
    swing_rebase(warehouse, "t", base2, ["y4"], schema=sch_a)


def test_pure_insert_merge_after_cow_rewrite_on_tracked_table(
    spark, warehouse
):
    """After a COW delete the manifest's first part carries a physical
    _row_id footer; a pure-insert MERGE must not leak that hidden column
    into its INSERT * projection (the source has no _row_id)."""
    _table(spark, warehouse, 100)
    enable_row_tracking(warehouse, "t")
    delete_rows(spark, warehouse, "t", F.col("id") < 50, "d1")
    parts = W.manifest_parts(warehouse, "t")
    assert parts == ["dd1"]  # the rewrite is now parts[0]
    src = spark.range(1000, 1010).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    )
    merge_rows(spark, warehouse, "t", src, "id", "m1")
    out = read_table(spark, warehouse, "t")
    assert "_row_id" not in out.columns
    assert out.count() == 60
    ids = read_table_with_row_ids(spark, warehouse, "t")
    assert ids.select("row_id").distinct().count() == 60
