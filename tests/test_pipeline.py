"""Incremental medallion pipeline: batch-split invariance, redelivery
idempotence, and stats parity with the one-shot builds."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from spark_spotify.etl.pipeline import run_incremental_etl, split_ts
from spark_spotify.warehouse import read_table
from spark_spotify.etl.fact import q_fact_star
from spark_spotify.etl.stats import q_daily_stats
from spark_spotify.sources.tables import load_table


@pytest.fixture()
def warehouse():
    path = tempfile.mkdtemp(prefix="spark_spotify_test_wh_")
    yield path
    shutil.rmtree(path, ignore_errors=True)


def _rows(df, keys):
    return sorted(tuple(r) for r in df.select(*sorted(df.columns)).collect())


def test_incremental_equals_batch(spark, sf_dir, warehouse):
    events = load_table(spark, sf_dir, "events")
    median = split_ts(events)
    r1 = run_incremental_etl(
        spark, events.filter(F.col("ts") <= F.lit(median)), warehouse, 1
    )
    r2 = run_incremental_etl(spark, events, warehouse, 2)
    assert not r1["skipped"] and not r2["skipped"]
    assert r1["n_new"] + r2["n_new"] == events.count()

    fact_inc = read_table(spark, warehouse, "fact")
    fact_batch = q_fact_star(spark, sf_dir)
    assert _rows(fact_inc, ["event_id"]) == _rows(fact_batch, ["event_id"])

    stats_inc = read_table(spark, warehouse, "agg_daily_stats")
    stats_batch = q_daily_stats(spark, sf_dir)
    assert _rows(stats_inc, ["played_date"]) == _rows(
        stats_batch, ["played_date"]
    )


def test_redelivery_is_noop(spark, sf_dir, warehouse):
    events = load_table(spark, sf_dir, "events")
    run_incremental_etl(spark, events, warehouse, 1)
    before = _rows(read_table(spark, warehouse, "fact"), ["event_id"])
    r = run_incremental_etl(spark, events, warehouse, 2)
    assert r["skipped"]
    assert _rows(read_table(spark, warehouse, "fact"), ["event_id"]) == before


def test_user_dim_combines_across_batches(spark, sf_dir, warehouse):
    events = load_table(spark, sf_dir, "events")
    median = split_ts(events)
    run_incremental_etl(
        spark, events.filter(F.col("ts") <= F.lit(median)), warehouse, 1
    )
    run_incremental_etl(spark, events, warehouse, 2)
    du = read_table(spark, warehouse, "dim_user")
    want = events.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("first_seen"),
        F.count(F.lit(1)).alias("total_plays"),
    )
    assert _rows(du, ["user_id"]) == _rows(want, ["user_id"])


def test_late_data_rows_are_dropped(spark, sf_dir):
    """stream_late_data must differ from the no-late-delivery rollup —
    proof the watermark actually dropped the withheld rows rather than
    absorbing them (which a single-batch replay silently would)."""
    from spark_spotify.streaming.pipeline import (
        q_stream_hourly_rollup,
        q_stream_late_data,
    )

    full = {
        (r.hour_start, r.event_type): r.n_events
        for r in q_stream_hourly_rollup(spark, sf_dir).collect()
    }
    late = {
        (r.hour_start, r.event_type): r.n_events
        for r in q_stream_late_data(spark, sf_dir).collect()
    }
    assert sum(full.values()) > sum(late.values())


# --- versioned-warehouse primitives (round 4) ------------------------------


def test_commit_cas_exactly_one_winner(warehouse):
    """Two interleaved committers: both read version 1, both commit —
    exactly one wins, the loser raises, no committed parts are lost."""
    from spark_spotify.warehouse import (
        CommitConflictError,
        commit,
        current_version,
        manifest_parts,
    )

    assert commit(warehouse, "t", parts=["p1"]) == 1
    seen = current_version(warehouse, "t")
    assert (
        commit(warehouse, "t", parts=["p1", "p2"], expected_version=seen) == 2
    )
    with pytest.raises(CommitConflictError):
        commit(warehouse, "t", parts=["p1", "p3"], expected_version=seen)
    assert manifest_parts(warehouse, "t") == ["p1", "p2"]
    # even WITHOUT expected_version the O_EXCL next-file claim protects:
    # interleave a racing writer between this writer's version read and
    # its file create (patch the read to return the stale version)
    from unittest import mock

    from spark_spotify.warehouse import manifest

    with mock.patch.object(manifest, "current_version", return_value=1):
        with pytest.raises(CommitConflictError):
            commit(warehouse, "t", parts=["p1", "p4"])  # tries v2 — taken
    assert manifest_parts(warehouse, "t", version=2) == ["p1", "p2"]


def test_delete_rows_null_predicate_rows_survive(spark, warehouse):
    """DELETE WHERE three-valued logic: rows whose predicate is NULL are
    neither matched nor silently dropped."""
    from spark_spotify.warehouse import commit, delete_rows, read_table

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "b"), (4, None)], "id long, tag string"
    )
    df.coalesce(1).write.parquet(f"{warehouse}/t/p1")
    commit(warehouse, "t", parts=["p1"])
    n = delete_rows(spark, warehouse, "t", F.col("tag") == "a", "x")
    assert n == 1
    left = {r.id for r in read_table(spark, warehouse, "t").collect()}
    assert left == {2, 3, 4}  # NULL-tag rows 2 and 4 kept


def test_delete_rows_untouched_parts_keep_bytes(spark, warehouse):
    from spark_spotify.warehouse import commit, delete_rows, manifest_parts

    a = spark.createDataFrame([(1,), (2,)], "id long")
    b = spark.createDataFrame([(10,), (20,)], "id long")
    a.coalesce(1).write.parquet(f"{warehouse}/t/p1")
    b.coalesce(1).write.parquet(f"{warehouse}/t/p2")
    commit(warehouse, "t", parts=["p1", "p2"])
    n = delete_rows(spark, warehouse, "t", F.col("id") == 10, "g")
    assert n == 1
    assert manifest_parts(warehouse, "t") == ["p1", "dg"]  # p1 untouched
    assert delete_rows(spark, warehouse, "t", F.col("id") == 999, "h") == 0
    assert manifest_parts(warehouse, "t") == ["p1", "dg"]  # no-op, no commit


def test_vacuum_retains_time_travel(spark, warehouse):
    from spark_spotify.warehouse import commit, read_table, vacuum_table
    import os

    for name, lo in (("p1", 0), ("p2", 100), ("p3", 200)):
        spark.range(lo, lo + 5).coalesce(1).write.parquet(
            f"{warehouse}/t/{name}"
        )
    commit(warehouse, "t", parts=["p1"])  # v1
    commit(warehouse, "t", parts=["p1", "p2"])  # v2
    commit(warehouse, "t", parts=["p3"])  # v3 (live): p3 replaces both
    removed = vacuum_table(warehouse, "t", retain_versions={1})
    assert removed == ["p2"]  # only v2 referenced p2
    assert not os.path.exists(f"{warehouse}/t/p2")
    assert read_table(spark, warehouse, "t", version=1).count() == 5
    assert read_table(spark, warehouse, "t").count() == 5  # live = p3


def test_rename_column_metadata_only(spark, warehouse):
    from spark_spotify.warehouse import commit, read_table, rename_column
    import os

    spark.createDataFrame([(1, "x")], "id long, tag string").coalesce(
        1
    ).write.parquet(f"{warehouse}/t/p1")
    commit(warehouse, "t", parts=["p1"])
    files_before = set(os.listdir(f"{warehouse}/t/p1"))
    rename_column(warehouse, "t", "tag", "label")
    assert set(os.listdir(f"{warehouse}/t/p1")) == files_before
    assert read_table(spark, warehouse, "t").columns == ["id", "label"]
    assert read_table(spark, warehouse, "t", version=1).columns == [
        "id",
        "tag",
    ]
    # chained rename maps from the PHYSICAL name (no mapping chains)
    rename_column(warehouse, "t", "label", "category")
    assert read_table(spark, warehouse, "t").columns == ["id", "category"]


def test_delete_rows_job_count_flat_in_part_count(spark, warehouse):
    """The scale property of the round-4 delete_rows rewrite: the number
    of Spark jobs launched is CONSTANT in the part count (one discovery
    scan + one rewrite), where the old per-part loop launched O(parts)
    jobs.  Measured via job groups on a 3-part vs 30-part table."""
    from spark_spotify.warehouse import commit, delete_rows

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
            # id 5 lives in part p0 — exactly one affected part either way
            n = delete_rows(
                spark, warehouse, table, F.col("id") == 5, "z"
            )
        finally:
            sc.setJobGroup(None, None)
        assert n == 1
        return len(sc.statusTracker().getJobIdsForGroup(group))

    small = jobs_for("small", 3, "del_small")
    large = jobs_for("large", 30, "del_large")
    assert small == large, (small, large)
    # discovery + rewrite + Spark's fixed parquet footer/schema jobs
    # (measured: 5 total, CONSTANT in part count — the property)
    assert large <= 6


def test_change_feed_classifies_all_types(spark):
    """CDF classification on crafted snapshots: insert, delete, and both
    update images — the branches the fixture cut (which lands on a day
    boundary) never exercises in the gate."""
    from spark_spotify.warehouse import change_feed

    s1 = spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "b"), (3, 30, "c")], "k int, n int, t string"
    )
    s2 = spark.createDataFrame(
        [(2, 20, "b"), (3, 31, "c"), (4, 40, "d")], "k int, n int, t string"
    )
    rows = {
        (r._change_type, r.k): (r.n, r.t)
        for r in change_feed(s1, s2, "k").collect()
    }
    assert rows == {
        ("delete", 1): (10, "a"),
        ("update_preimage", 3): (30, "c"),
        ("update_postimage", 3): (31, "c"),
        ("insert", 4): (40, "d"),
    }  # key 2 unchanged -> not in the feed


def test_change_feed_null_key_pairs_up(spark):
    """A NULL key present in both snapshots pairs under eqNullSafe and
    classifies as update (or silence), never as insert+delete."""
    from spark_spotify.warehouse import change_feed

    s1 = spark.createDataFrame([(None, 1)], "k string, n int")
    s2 = spark.createDataFrame([(None, 2)], "k string, n int")
    types = sorted(
        r._change_type for r in change_feed(s1, s2, "k").collect()
    )
    assert types == ["update_postimage", "update_preimage"]
    unchanged = change_feed(s1, s1, "k").collect()
    assert unchanged == []


def test_delete_rows_rejects_reused_tag(spark, warehouse):
    """A reused delete tag would overwrite a live part — must refuse."""
    from spark_spotify.warehouse import commit, delete_rows

    spark.createDataFrame([(1,), (2,)], "id long").coalesce(
        1
    ).write.parquet(f"{warehouse}/t/p1")
    commit(warehouse, "t", parts=["p1"])
    assert delete_rows(spark, warehouse, "t", F.col("id") == 1, "g") == 1
    with pytest.raises(RuntimeError, match="collides"):
        delete_rows(spark, warehouse, "t", F.col("id") == 2, "g")


def test_wap_rejects_intra_batch_duplicates(spark, warehouse):
    """Duplicate keys WITHIN one staged delta must fail the audit."""
    from spark_spotify.warehouse import commit, manifest_parts, wap_publish

    spark.createDataFrame(
        [(1, "x"), (1, "y")], "event_id long, t string"
    ).coalesce(1).write.parquet(f"{warehouse}/t/_stage_s1")
    commit(warehouse, "t", parts=[])
    assert not wap_publish(spark, warehouse, "t", ["_stage_s1"])
    assert manifest_parts(warehouse, "t") == []


def test_vacuum_skips_staged_parts(spark, warehouse):
    """vacuum must not reclaim in-flight '_stage_*' dirs (WAP fence)."""
    import os

    from spark_spotify.warehouse import commit, vacuum_table

    spark.range(3).coalesce(1).write.parquet(f"{warehouse}/t/p1")
    spark.range(3).coalesce(1).write.parquet(f"{warehouse}/t/_stage_p2")
    spark.range(3).coalesce(1).write.parquet(f"{warehouse}/t/orphan")
    commit(warehouse, "t", parts=["p1"])
    removed = vacuum_table(warehouse, "t", retain_versions=set())
    assert removed == ["orphan"]
    assert os.path.exists(f"{warehouse}/t/_stage_p2")


def test_merge_rows_both_arms(spark, warehouse):
    """MERGE rewrites only the matched part, substitutes the source row
    wholly on match, and lands not-matched rows in the same new part."""
    from spark_spotify.warehouse import (
        commit,
        manifest_parts,
        merge_rows,
        read_table,
    )

    a = spark.createDataFrame([(1, 10.0), (2, 20.0)], "id long, v double")
    b = spark.createDataFrame([(10, 1.0), (20, 2.0)], "id long, v double")
    a.coalesce(1).write.parquet(f"{warehouse}/t/p1")
    b.coalesce(1).write.parquet(f"{warehouse}/t/p2")
    commit(warehouse, "t", parts=["p1", "p2"])
    src = spark.createDataFrame(
        [(10, 99.0), (30, 3.0)], "id long, v double"
    )
    n = merge_rows(spark, warehouse, "t", src, "id", "g")
    assert n == 1
    assert manifest_parts(warehouse, "t") == ["p1", "mg"]  # p1 untouched
    rows = {
        r.id: r.v for r in read_table(spark, warehouse, "t").collect()
    }
    assert rows == {1: 10.0, 2: 20.0, 10: 99.0, 20: 2.0, 30: 3.0}


def test_merge_rows_pure_insert_appends(spark, warehouse):
    """A source with no matching keys touches zero parts — the commit is
    a plain append of the source."""
    from spark_spotify.warehouse import commit, manifest_parts, merge_rows

    spark.range(3).coalesce(1).write.parquet(f"{warehouse}/t/p1")
    commit(warehouse, "t", parts=["p1"])
    src = spark.range(100, 103)
    assert merge_rows(spark, warehouse, "t", src, "id", "g") == 0
    assert manifest_parts(warehouse, "t") == ["p1", "mg"]


def test_merge_rows_rejects_reused_tag(spark, warehouse):
    import pytest

    from spark_spotify.warehouse import commit, merge_rows

    spark.range(3).coalesce(1).write.parquet(f"{warehouse}/t/p1")
    commit(warehouse, "t", parts=["p1"])
    src = spark.range(1, 2)
    assert merge_rows(spark, warehouse, "t", src, "id", "g") == 1
    with pytest.raises(RuntimeError, match="collides"):
        merge_rows(spark, warehouse, "t", src, "id", "g")


def test_merge_rows_job_count_flat_in_part_count(spark, warehouse):
    """Same scale property as delete_rows: Spark-job count is CONSTANT in
    the part count (one discovery join + one rewrite)."""
    from spark_spotify.warehouse import commit, merge_rows

    sc = spark.sparkContext

    def jobs_for(table, n_parts, group):
        parts = []
        for i in range(n_parts):
            spark.range(i * 10, i * 10 + 10).coalesce(1).write.parquet(
                f"{warehouse}/{table}/p{i}"
            )
            parts.append(f"p{i}")
        commit(warehouse, table, parts=parts)
        src = spark.createDataFrame([(5,), (100_000,)], "id long")
        sc.setJobGroup(group, group)
        try:
            n = merge_rows(spark, warehouse, table, src, "id", "z")
        finally:
            sc.setJobGroup(None, None)
        assert n == 1  # id 5 lives in p0 either way
        return len(sc.statusTracker().getJobIdsForGroup(group))

    small = jobs_for("msmall", 3, "mrg_small")
    large = jobs_for("mlarge", 30, "mrg_large")
    assert small == large, (small, large)
    # source validation + discovery + broadcast build + rewrite +
    # Spark's fixed parquet footer/schema jobs (measured: 12 total,
    # CONSTANT in part count — the property under test)
    assert large <= 13


def test_overlap_jobs_keep_caller_job_group(spark):
    """Jobs a thunk starts on overlap()'s pool threads belong to the
    caller's job group, so the job-count pins see them."""
    from spark_spotify.functions.concurrency import overlap

    sc = spark.sparkContext
    sc.setJobGroup("ovl_grp", "ovl_grp")
    try:
        counts = overlap(spark.range(10).count, spark.range(5).count)
    finally:
        sc.setJobGroup(None, None)
    assert counts == [10, 5]
    assert len(sc.statusTracker().getJobIdsForGroup("ovl_grp")) >= 2


def test_apply_change_feed_inverts_change_feed(spark):
    """apply(s1, feed(s1, s2)) == s2 across all four change classes,
    including a NULL key present in both snapshots."""
    from spark_spotify.warehouse import apply_change_feed, change_feed

    s1 = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (None, "n1")],
        "k long, v string",
    )
    s2 = spark.createDataFrame(
        [(2, "b"), (3, "C"), (4, "d"), (None, "n2")],
        "k long, v string",
    )  # 1 deleted, 3 updated, 4 inserted, NULL key updated
    feed = change_feed(s1, s2, "k")
    out = apply_change_feed(s1, feed, "k")
    got = {(r.k, r.v) for r in out.collect()}
    want = {(r.k, r.v) for r in s2.collect()}
    assert got == want


def test_version_as_of_timestamp(spark, warehouse):
    """Timestamp travel resolves the last commit at-or-before t, treats
    pre-timestamp manifests as infinitely old, and refuses reads before
    the first commit."""
    import json
    import os

    import pytest

    from spark_spotify.warehouse import (
        commit,
        read_manifest,
        read_table,
        version_as_of,
    )

    spark.range(1).coalesce(1).write.parquet(f"{warehouse}/t/p1")
    spark.range(2).coalesce(1).write.parquet(f"{warehouse}/t/p2")
    commit(warehouse, "t", parts=["p1"])
    # strip v1's ts to simulate a pre-timestamp manifest
    p = f"{warehouse}/t/_latest.v1"
    m = json.load(open(p))
    del m["ts"]
    os.remove(p)
    json.dump(m, open(p, "w"))
    commit(warehouse, "t", parts=["p1", "p2"])
    t2 = read_manifest(warehouse, "t", 2)["ts"]
    assert version_as_of(warehouse, "t", t2) == 2          # boundary: <=
    assert version_as_of(warehouse, "t", t2 - 0.001) == 1  # legacy ts=None
    assert read_table(
        spark, warehouse, "t", as_of_ts=t2 - 0.001
    ).count() == 1
    with pytest.raises(RuntimeError, match="pass version OR as_of_ts"):
        read_table(spark, warehouse, "t", version=1, as_of_ts=t2)


def test_commit_replaces_only_the_fields_passed(spark, warehouse):
    """commit() writes the current manifest with the passed fields
    replaced: absent fields carry over, ``schema=None`` clears the
    schema, and unknown or commit-stamped names are rejected."""
    import pytest

    from spark_spotify.warehouse import commit, current_version, read_manifest

    spark.range(2).coalesce(1).write.parquet(f"{warehouse}/t/p1")
    commit(warehouse, "t", parts=["p1"], renames={"id": "key"})
    commit(warehouse, "t", drops=["x"], schema="s")
    m = read_manifest(warehouse, "t", 2)
    assert m["parts"] == ["p1"] and m["renames"] == {"id": "key"}
    assert m["drops"] == ["x"] and m["schema"] == "s"
    assert m["stats"] == read_manifest(warehouse, "t", 1)["stats"]
    commit(warehouse, "t", schema=None)
    assert read_manifest(warehouse, "t", 3)["schema"] is None
    for bad in ({"part": ["p1"]}, {"ts": 0.0}, {"row_hwm": 9}):
        with pytest.raises(RuntimeError, match="unknown fields"):
            commit(warehouse, "t", **bad)
    assert current_version(warehouse, "t") == 3


def test_legacy_manifests_read_and_upgrade(spark, warehouse):
    """Manifests from before their fields existed — v1 a bare JSON part
    list, v2 a dict holding only ``parts`` — read and count through the
    current reader, and the next commit writes every field."""
    import json

    from spark_spotify.warehouse import (
        commit,
        part_rows,
        read_table,
    )

    spark.range(3).coalesce(1).write.parquet(f"{warehouse}/t/p1")
    spark.range(10, 14).coalesce(1).write.parquet(f"{warehouse}/t/p2")
    with open(f"{warehouse}/t/_latest.v1", "w") as fh:
        json.dump(["p1"], fh)
    with open(f"{warehouse}/t/_latest.v2", "w") as fh:
        json.dump({"parts": ["p1", "p2"]}, fh)
    assert read_table(spark, warehouse, "t", version=1).count() == 3
    assert read_table(spark, warehouse, "t").count() == 7
    # no stats in either manifest: counts derive them from the footers
    assert part_rows(warehouse, "t", ["p1"]) == 3
    assert part_rows(warehouse, "t", ["p1", "p2"]) == 7
    spark.range(20, 25).coalesce(1).write.parquet(f"{warehouse}/t/p3")
    assert commit(warehouse, "t", parts=["p1", "p2", "p3"]) == 3
    with open(f"{warehouse}/t/_latest.v3") as fh:
        m = json.load(fh)
    assert list(m) == [
        "parts", "renames", "ts", "specs", "drops", "stats",
        "constraints", "generated", "dv", "schema", "blooms",
        "row_base", "row_hwm",
    ]
    assert sorted(m["stats"]) == ["p1", "p2", "p3"]
    assert m["row_base"] is None and m["row_hwm"] == 0
    assert part_rows(warehouse, "t", m["parts"]) == 12
    assert read_table(spark, warehouse, "t").count() == 12


def test_mixed_spec_read_and_cow_over_partitioned_part(spark, warehouse):
    """A table with one legacy unpartitioned part and one hive-partitioned
    part (spec evolution) reads as a schema-stable union, and the COW
    verbs (DELETE / MERGE) work across the mixed layout."""
    from spark_spotify.warehouse import (
        commit,
        delete_rows,
        manifest_parts,
        merge_rows,
        read_table,
    )

    old = spark.createDataFrame(
        [(1, 10, "a"), (2, 10, "b")], "id long, day int, v string"
    )
    new = spark.createDataFrame(
        [(3, 20, "c"), (4, 21, "d")], "id long, day int, v string"
    )
    old.coalesce(1).write.parquet(f"{warehouse}/t/p1")
    new.write.partitionBy("day").parquet(f"{warehouse}/t/q1")
    commit(warehouse, "t", parts=["p1", "q1"], specs={"q1": ["day"]})
    df = read_table(spark, warehouse, "t")
    assert df.columns == ["id", "day", "v"]  # schema-stable order
    assert {(r.id, r.day, r.v) for r in df.collect()} == {
        (1, 10, "a"), (2, 10, "b"), (3, 20, "c"), (4, 21, "d")
    }
    # DELETE a row living in the PARTITIONED part
    assert delete_rows(spark, warehouse, "t", F.col("id") == 3, "x") == 1
    assert manifest_parts(warehouse, "t") == ["p1", "dx"]  # p1 untouched
    assert {r.id for r in read_table(spark, warehouse, "t").collect()} == {
        1, 2, 4
    }
    # MERGE an update into the legacy part + a fresh insert
    src = spark.createDataFrame(
        [(1, 99, "A"), (7, 30, "g")], "id long, day int, v string"
    )
    assert merge_rows(spark, warehouse, "t", src, "id", "y") == 1
    got = {(r.id, r.day, r.v) for r in read_table(spark, warehouse, "t").collect()}
    assert got == {(1, 99, "A"), (2, 10, "b"), (4, 21, "d"), (7, 30, "g")}


def test_spec_entries_pruned_with_parts(warehouse):
    """A spec entry for a part dropped from the list must not survive the
    commit (dead metadata)."""
    from spark_spotify.warehouse import commit, read_manifest

    commit(warehouse, "t", parts=["q1"], specs={"q1": ["day"]})
    commit(warehouse, "t", parts=["p2"])  # q1 rewritten away
    assert read_manifest(warehouse, "t", 2)["specs"] == {}


def test_merge_rows_rejects_duplicate_source_keys(spark, warehouse):
    """The Delta MERGE cardinality precondition is ENFORCED, not just
    documented: duplicate or NULL source keys raise instead of fanning
    out through the join."""
    import pytest

    from spark_spotify.warehouse import commit, merge_rows

    spark.range(3).coalesce(1).write.parquet(f"{warehouse}/t/p1")
    commit(warehouse, "t", parts=["p1"])
    dup = spark.createDataFrame([(1,), (1,)], "id long")
    with pytest.raises(RuntimeError, match="unique and non-null"):
        merge_rows(spark, warehouse, "t", dup, "id", "g")
    withnull = spark.createDataFrame([(1,), (None,)], "id long")
    with pytest.raises(RuntimeError, match="unique and non-null"):
        merge_rows(spark, warehouse, "t", withnull, "id", "g2")


def test_cow_tag_collision_checks_disk_not_manifest(spark, warehouse):
    """A part referenced only by an OLDER manifest version must still
    block tag reuse — overwriting it would corrupt time travel."""
    import pytest

    from spark_spotify.warehouse import (
        commit,
        delete_rows,
        merge_rows,
        read_table,
    )

    spark.range(4).coalesce(1).write.parquet(f"{warehouse}/t/p1")
    commit(warehouse, "t", parts=["p1"])
    assert merge_rows(spark, warehouse, "t", spark.range(1, 2), "id", "g") == 1
    # v2 = [mg]; now compact-style rewrite drops mg from the live list
    spark.range(4).coalesce(1).write.parquet(f"{warehouse}/t/c1")
    commit(warehouse, "t", parts=["c1"])
    # mg is no longer live but v2 still references it
    with pytest.raises(RuntimeError, match="collides"):
        merge_rows(spark, warehouse, "t", spark.range(9, 10), "id", "g")
    with pytest.raises(RuntimeError, match="collides"):
        # delete's dg would be fine, but seed a dir to prove disk check
        spark.range(1).coalesce(1).write.parquet(f"{warehouse}/t/dx")
        delete_rows(spark, warehouse, "t", F.col("id") == 1, "x")
    assert read_table(spark, warehouse, "t", version=2).count() == 4


def test_version_as_of_monotonic_over_legacy_sandwich(warehouse):
    """A pre-timestamp manifest committed AFTER timestamped ones inherits
    the previous effective clock: an early timestamp can never resolve
    to the late legacy version."""
    import json

    import pytest

    from spark_spotify.warehouse import commit, read_manifest, version_as_of

    commit(warehouse, "t", parts=["p1"])  # v1, real ts
    t1 = read_manifest(warehouse, "t", 1)["ts"]
    commit(warehouse, "t", parts=["p1", "p2"])  # v2, real ts -> strip it
    p = f"{warehouse}/t/_latest.v2"
    m = json.load(open(p))
    del m["ts"]
    import os

    os.remove(p)
    json.dump(m, open(p, "w"))
    assert version_as_of(warehouse, "t", t1) == 1  # not the legacy v2
    assert version_as_of(warehouse, "t", t1 + 1e6) == 2
    with pytest.raises(RuntimeError, match="no commit at or before"):
        version_as_of(warehouse, "t", t1 - 1.0)


def test_wap_lost_race_restores_staging_and_retries(
    spark, warehouse, monkeypatch
):
    """A losing CAS swing must un-promote the parts back to their
    '_stage_' names (vacuum fence intact, delta retryable) and re-run
    the publish against the winner's snapshot — here the retry wins."""
    import os

    from spark_spotify import warehouse as W
    from spark_spotify.warehouse import dml

    spark.createDataFrame(
        [(1, "x")], "event_id long, t string"
    ).coalesce(1).write.parquet(f"{warehouse}/t/_stage_s1")
    W.commit(warehouse, "t", parts=[])

    real_commit = dml.commit
    calls = {"n": 0}

    def flaky_commit(*a, **kw):
        calls["n"] += 1
        if calls["n"] == 1:
            # before failing, PROVE the part was promoted (rename ran)
            assert os.path.exists(f"{warehouse}/t/s1")
            raise W.CommitConflictError("simulated lost race")
        # retry must see the staging restored before re-promoting
        return real_commit(*a, **kw)

    monkeypatch.setattr(dml, "commit", flaky_commit)
    assert W.wap_publish(spark, warehouse, "t", ["_stage_s1"])
    assert calls["n"] == 2
    assert W.manifest_parts(warehouse, "t") == ["s1"]
    assert not os.path.exists(f"{warehouse}/t/_stage_s1")


def test_wap_exhausted_retries_leaves_staging_intact(
    spark, warehouse, monkeypatch
):
    """After max_retries lost races the conflict propagates and the delta
    is still fully staged (no half-promoted parts)."""
    import os

    import pytest

    from spark_spotify import warehouse as W
    from spark_spotify.warehouse import dml

    spark.createDataFrame(
        [(1, "x")], "event_id long, t string"
    ).coalesce(1).write.parquet(f"{warehouse}/t/_stage_s1")
    W.commit(warehouse, "t", parts=[])

    def always_lose(*a, **kw):
        raise W.CommitConflictError("simulated")

    monkeypatch.setattr(dml, "commit", always_lose)
    with pytest.raises(W.CommitConflictError, match="lost 2"):
        W.wap_publish(spark, warehouse, "t", ["_stage_s1"], max_retries=2)
    assert os.path.exists(f"{warehouse}/t/_stage_s1")
    assert not os.path.exists(f"{warehouse}/t/s1")


def test_wap_promotion_collision_rejected_before_any_rename(
    spark, warehouse
):
    """Promoting '_stage_X' when X exists (here: referenced only by an
    OLDER manifest version) must raise up front, before ANY part was
    renamed — never mid-loop with a half-promoted staging."""
    import os

    import pytest

    from spark_spotify.warehouse import commit, wap_publish

    spark.range(3).coalesce(1).write.parquet(f"{warehouse}/t/s1")
    commit(warehouse, "t", parts=["s1"])  # v1 references s1
    commit(warehouse, "t", parts=[])  # v2 drops it (still on disk + in v1)
    spark.createDataFrame(
        [(1, "x")], "event_id long, t string"
    ).coalesce(1).write.parquet(f"{warehouse}/t/_stage_ok")
    spark.createDataFrame(
        [(2, "y")], "event_id long, t string"
    ).coalesce(1).write.parquet(f"{warehouse}/t/_stage_s1")
    with pytest.raises(RuntimeError, match="collides"):
        # _stage_ok sorts first: without the up-front check it would be
        # promoted before _stage_s1's collision fired
        wap_publish(spark, warehouse, "t", ["_stage_ok", "_stage_s1"])
    assert os.path.exists(f"{warehouse}/t/_stage_ok")
    assert not os.path.exists(f"{warehouse}/t/ok")


def _mk_merge_table(spark, warehouse):
    from spark_spotify.warehouse import commit

    spark.createDataFrame(
        [(1, 10.0, "a"), (2, 20.0, "b"), (3, 30.0, "c")],
        "id long, v double, s string",
    ).coalesce(1).write.parquet(f"{warehouse}/t/p1")
    commit(warehouse, "t", parts=["p1"])


def test_merge_full_grammar_three_arms(spark, warehouse):
    """Conditional DELETE + partial-SET UPDATE + conditional INSERT in
    one commit: first-match clause order, unassigned columns keep TARGET
    values, and an unclaimed source row is discarded."""
    from spark_spotify.warehouse import (
        matched_delete,
        matched_update,
        merge_rows,
        not_matched_insert,
        read_table,
    )

    _mk_merge_table(spark, warehouse)
    src = spark.createDataFrame(
        [
            (1, 100.0, "X"),  # matched, v >= 100 -> DELETE
            (2, 5.0, "X"),  # matched -> UPDATE v=t.v+s.v; s kept target
            (4, 40.0, "X"),  # not matched, v >= 10 -> INSERT
            (5, 1.0, "X"),  # not matched, v < 10 -> discarded
        ],
        "id long, v double, s string",
    )
    merge_rows(
        spark,
        warehouse,
        "t",
        src,
        "id",
        "g",
        when_matched=[
            matched_delete(F.col("s.v") >= 100),
            matched_update(
                assignments={"v": F.col("t.v") + F.col("s.v")}
            ),
        ],
        when_not_matched=[not_matched_insert(F.col("s.v") >= 10)],
    )
    rows = {
        r.id: (r.v, r.s)
        for r in read_table(spark, warehouse, "t").collect()
    }
    assert rows == {
        2: (25.0, "b"),  # updated v, target s kept (partial SET)
        3: (30.0, "c"),  # untouched
        4: (40.0, "X"),  # conditional insert admitted
    }


def test_merge_matched_no_arm_keeps_target_row(spark, warehouse):
    """A matched row claimed by NO arm (every condition false/NULL) is
    left unchanged — not updated, not deleted."""
    from spark_spotify.warehouse import matched_update, merge_rows, read_table

    _mk_merge_table(spark, warehouse)
    src = spark.createDataFrame(
        [(1, None, "z"), (2, 999.0, "z")], "id long, v double, s string"
    )
    merge_rows(
        spark,
        warehouse,
        "t",
        src,
        "id",
        "g",
        # s.v > 50: NULL for id=1 (three-valued logic -> arm skipped),
        # true for id=2
        when_matched=[
            matched_update(F.col("s.v") > 50, {"v": F.col("s.v")})
        ],
        when_not_matched=[],
    )
    rows = {
        r.id: (r.v, r.s)
        for r in read_table(spark, warehouse, "t").collect()
    }
    assert rows == {
        1: (10.0, "a"),  # NULL condition: arm does not apply
        2: (999.0, "b"),  # v updated, s keeps target (partial SET)
        3: (30.0, "c"),
    }


def test_merge_clause_order_first_match_wins(spark, warehouse):
    """Two overlapping matched arms: the FIRST whose condition holds
    applies (Delta clause-order semantics), even if a later one also
    matches."""
    from spark_spotify.warehouse import matched_update, merge_rows, read_table

    _mk_merge_table(spark, warehouse)
    src = spark.createDataFrame(
        [(1, 100.0, "z")], "id long, v double, s string"
    )
    merge_rows(
        spark,
        warehouse,
        "t",
        src,
        "id",
        "g",
        when_matched=[
            matched_update(F.col("s.v") >= 10, {"v": F.lit(-1.0)}),
            matched_update(F.col("s.v") >= 10, {"v": F.lit(-2.0)}),
        ],
        when_not_matched=[],
    )
    rows = {r.id: r.v for r in read_table(spark, warehouse, "t").collect()}
    assert rows[1] == -1.0


def test_merge_pure_insert_path_applies_conditions(spark, warehouse):
    """When no source key matches any part (the affected-free fast
    path), insert conditions must still filter the source."""
    from spark_spotify.warehouse import (
        merge_rows,
        not_matched_insert,
        read_table,
    )

    _mk_merge_table(spark, warehouse)
    src = spark.createDataFrame(
        [(10, 1.0, "x"), (11, 50.0, "y")], "id long, v double, s string"
    )
    assert (
        merge_rows(
            spark,
            warehouse,
            "t",
            src,
            "id",
            "g",
            when_not_matched=[not_matched_insert(F.col("s.v") >= 10)],
        )
        == 0
    )
    ids = {r.id for r in read_table(spark, warehouse, "t").collect()}
    assert ids == {1, 2, 3, 11}


def test_merge_unconditional_delete_arm(spark, warehouse):
    """when_matched=[matched_delete()] with no insert arms is the CDC
    tombstone batch: matched keys vanish, nothing else changes."""
    from spark_spotify.warehouse import matched_delete, merge_rows, read_table

    _mk_merge_table(spark, warehouse)
    src = spark.createDataFrame(
        [(1, 0.0, ""), (3, 0.0, "")], "id long, v double, s string"
    )
    merge_rows(
        spark,
        warehouse,
        "t",
        src,
        "id",
        "g",
        when_matched=[matched_delete()],
        when_not_matched=[],
    )
    ids = {r.id for r in read_table(spark, warehouse, "t").collect()}
    assert ids == {2}


def test_refresh_daily_stats_untouched_rows_not_recomputed(spark):
    """Incrementality proof: a poisoned gold row for an UNTOUCHED date
    must survive the refresh byte-for-byte — untouched dates are copied,
    never recomputed; and a date whose rows were all deleted loses its
    gold row (the case a plain key-upsert keeps stale)."""
    import datetime as dt

    from spark_spotify.etl.pipeline import refresh_daily_stats
    from spark_spotify.warehouse import change_feed
    from spark_spotify.etl.stats import daily_stats

    def ev(eid, day, hour, user, etype, value):
        return (
            eid,
            user,
            etype,
            dt.datetime(2024, 1, day, hour, 0, 0),
            value,
            None,
        )

    schema = (
        "event_id long, user_id long, event_type string, "
        "ts timestamp, value double, props string"
    )
    b1 = spark.createDataFrame(
        [
            ev(1, 1, 9, 1, "play", 1.0),
            ev(2, 1, 14, 2, "play", 2.0),  # day 1
            ev(3, 2, 9, 1, "skip", 3.0),  # day 2: will be fully deleted
            ev(4, 3, 9, 1, "play", 4.0),  # day 3: untouched
        ],
        schema,
    )
    # live: day 1 gains a row, day 2's only row deleted, day 3 untouched
    b2 = spark.createDataFrame(
        [
            ev(1, 1, 9, 1, "play", 1.0),
            ev(2, 1, 14, 2, "play", 2.0),
            ev(5, 1, 20, 3, "play", 5.0),
            ev(4, 3, 9, 1, "play", 4.0),
        ],
        schema,
    )
    poison = daily_stats(b1).withColumn(
        "total_value",
        F.when(
            F.col("played_date") == F.lit(dt.date(2024, 1, 3)),
            F.lit(-999.0),
        ).otherwise(F.col("total_value")),
    )
    feed = change_feed(b1, b2, "event_id")
    out = refresh_daily_stats(spark, poison, feed, b2)
    rows = {r.played_date: r for r in out.collect()}
    assert set(rows) == {dt.date(2024, 1, 1), dt.date(2024, 1, 3)}
    # untouched day 3: the poison survives => it was copied, not rebuilt
    assert rows[dt.date(2024, 1, 3)].total_value == -999.0
    # touched day 1: recomputed from live (3 events now)
    assert rows[dt.date(2024, 1, 1)].total_events == 3
    # day 2 was fully deleted: no stale gold row


# --- OCC rebase (round 5) ---------------------------------------------------


def test_rebase_disjoint_appends_both_succeed(spark, warehouse):
    """Two appenders from the same base version: the second replays its
    delta onto the winner's manifest — BOTH parts land."""
    from spark_spotify import warehouse as W

    spark.range(3).coalesce(1).write.parquet(f"{warehouse}/t/p1")
    base = W.commit(warehouse, "t", parts=["p1"])
    for name in ("a1", "b1"):
        spark.range(3).coalesce(1).write.parquet(f"{warehouse}/t/{name}")
    W.swing_rebase(warehouse, "t", base, ["a1"])
    W.swing_rebase(warehouse, "t", base, ["b1"])  # stale base: rebases
    assert W.manifest_parts(warehouse, "t") == ["p1", "a1", "b1"]


def test_rebase_append_parallel_delete_of_other_parts(spark, warehouse):
    """append ∥ delete-of-other-parts from the same base: the delete's
    rewrite (drop p2, add d1) rebases over the append."""
    from spark_spotify import warehouse as W

    for name in ("p1", "p2", "a1", "d1"):
        spark.range(2).coalesce(1).write.parquet(f"{warehouse}/t/{name}")
    base = W.commit(warehouse, "t", parts=["p1", "p2"])
    W.swing_rebase(warehouse, "t", base, ["a1"])  # appender wins first
    W.swing_rebase(warehouse, "t", base, ["d1"], {"p2"})
    assert W.manifest_parts(warehouse, "t") == ["p1", "a1", "d1"]


def test_rebase_overlapping_rewrites_exactly_one_winner(spark, warehouse):
    """Both writers rewrite the SAME part: the second must raise with no
    side effects — no lost update, no double-applied rewrite."""
    import pytest

    from spark_spotify import warehouse as W

    for name in ("p1", "p2", "x2", "y2"):
        spark.range(2).coalesce(1).write.parquet(f"{warehouse}/t/{name}")
    base = W.commit(warehouse, "t", parts=["p1", "p2"])
    W.swing_rebase(warehouse, "t", base, ["x2"], {"p2"})
    with pytest.raises(W.CommitConflictError, match="overlap"):
        W.swing_rebase(warehouse, "t", base, ["y2"], {"p2"})
    assert W.manifest_parts(warehouse, "t") == ["p1", "x2"]


def test_rebase_added_name_collision_raises(spark, warehouse):
    import pytest

    from spark_spotify import warehouse as W

    spark.range(2).coalesce(1).write.parquet(f"{warehouse}/t/p1")
    spark.range(2).coalesce(1).write.parquet(f"{warehouse}/t/n1")
    base = W.commit(warehouse, "t", parts=["p1"])
    W.swing_rebase(warehouse, "t", base, ["n1"])
    with pytest.raises(W.CommitConflictError, match="overlap"):
        W.swing_rebase(warehouse, "t", base, ["n1"])


def test_delete_rebases_under_concurrent_append(spark, warehouse, monkeypatch):
    """End-to-end WriteSerializable: an append lands between a DELETE's
    snapshot read and its commit — the delete rebases, and BOTH the
    appended rows and the delete survive (no lost update)."""
    from spark_spotify import warehouse as W
    from spark_spotify.warehouse import dml

    spark.range(1, 4).coalesce(1).write.parquet(f"{warehouse}/t/p1")
    spark.range(10, 14).coalesce(1).write.parquet(f"{warehouse}/t/p2")
    W.commit(warehouse, "t", parts=["p1", "p2"])

    real = W.swing_rebase
    fired = {"n": 0}

    def hooked(wh, tbl, base, added, removed=None, **kw):
        if fired["n"] == 0:
            fired["n"] = 1
            # a concurrent appender commits first
            spark.range(100, 103).coalesce(1).write.parquet(
                f"{warehouse}/t/px"
            )
            real(wh, tbl, W.current_version(wh, tbl), ["px"])
        return real(wh, tbl, base, added, removed, **kw)

    monkeypatch.setattr(dml, "swing_rebase", hooked)
    assert (
        W.delete_rows(spark, warehouse, "t", F.col("id") == 10, "g") == 1
    )
    assert W.manifest_parts(warehouse, "t") == ["p1", "px", "dg"]
    ids = {r.id for r in W.read_table(spark, warehouse, "t").collect()}
    assert ids == {1, 2, 3, 11, 12, 13, 100, 101, 102}


def test_drop_column_metadata_only_and_versioned(spark, warehouse):
    """DROP COLUMN writes one manifest, no part bytes; time travel shows
    the column pre-drop; the mapping halves compose (drop a RENAMED
    column by its logical name); re-drop and rename-of-dropped raise."""
    import os

    from spark_spotify.warehouse import (
        commit,
        drop_column,
        read_table,
        rename_column,
    )

    spark.createDataFrame(
        [(1, "x", 2.0)], "id long, tag string, v double"
    ).coalesce(1).write.parquet(f"{warehouse}/t/p1")
    commit(warehouse, "t", parts=["p1"])
    rename_column(warehouse, "t", "tag", "label")  # v2
    files_before = set(os.listdir(f"{warehouse}/t/p1"))
    drop_column(warehouse, "t", "label")  # v3: drop via LOGICAL name
    assert set(os.listdir(f"{warehouse}/t/p1")) == files_before
    assert read_table(spark, warehouse, "t").columns == ["id", "v"]
    assert read_table(spark, warehouse, "t", version=2).columns == [
        "id",
        "label",
        "v",
    ]
    assert read_table(spark, warehouse, "t", version=1).columns == [
        "id",
        "tag",
        "v",
    ]
    with pytest.raises(RuntimeError, match="already dropped"):
        drop_column(warehouse, "t", "tag")
    with pytest.raises(RuntimeError, match="dropped column"):
        rename_column(warehouse, "t", "tag", "zz")


def test_stream_left_outer_null_emission_boundary(spark, tmp_path):
    """Pins the left-outer stream-join eviction rule the oracle encodes:
    an unmatched click emits a null row iff click_ts + window < global
    watermark, where the global watermark is the MIN across both inputs
    (click-side max 240 min, purchase-side max 180 min → wm 170, strict
    boundary at click_ts 140)."""
    import datetime as dt
    import os

    from spark_spotify.streaming.drain import _run_to_memory
    from spark_spotify.streaming.pipeline import WATERMARK_DELAY

    base = dt.datetime(2024, 1, 1)

    def m(x):
        return base + dt.timedelta(minutes=x)

    rows = [
        (100 + i, 1, "click", m(x), 1.0, None)
        for i, x in enumerate(list(range(135, 146)) + list(range(195, 206)))
    ]
    rows += [
        (900, 2, "purchase", m(180), 5.0, None),
        (901, 3, "click", m(240), 1.0, None),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, user_id long, event_type string, ts timestamp,"
        " value double, props string",
    )
    src = os.path.join(str(tmp_path), "ev")
    df.coalesce(1).write.parquet(src)
    raw = spark.readStream.schema(spark.read.parquet(src).schema).parquet(
        src
    )
    clicks = (
        raw.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", WATERMARK_DELAY)
    )
    purch = (
        raw.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", WATERMARK_DELAY)
    )
    joined = clicks.join(
        purch,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")
        ),
        "left_outer",
    )
    out = _run_to_memory(spark, joined, "lob")
    got = sorted(r.click_ts for r in out.collect() if r.user_id == 1)
    # 135..139 evicted-and-emitted; 140 (== boundary, strict) and later
    # — including everything past the 170 watermark — still live state
    assert got == [m(x) for x in range(135, 140)]


def test_sweep_orphaned_tmp_age_gate(tmp_path, monkeypatch):
    """The startup sweep removes only spark_spotify_* dirs older than
    the age gate — a fresh dir (possibly a live concurrent session) and
    foreign names are untouched."""
    import os
    import time

    import spark_spotify.session as S

    monkeypatch.setattr(
        "tempfile.gettempdir", lambda: str(tmp_path)
    )
    old = tmp_path / "spark_spotify_dead"
    young = tmp_path / "spark_spotify_live"
    foreign = tmp_path / "other_tool_scratch"
    for d in (old, young, foreign):
        d.mkdir()
        (d / "f").write_text("x")
    stale = time.time() - 7200
    os.utime(old, (stale, stale))
    removed = S.sweep_orphaned_tmp()
    assert removed == [str(old)]
    assert not old.exists() and young.exists() and foreign.exists()


def test_cdc_merge_apply_all_three_arms(spark, warehouse):
    """CDC apply via the full MERGE grammar reconstructs s2 from s1 +
    feed when the feed carries ALL change types (the fixture's gate feed
    is insert-only at test SFs): delete tombstone, update postimage,
    insert — and the condition-only _change_type column never lands in
    the table."""
    from spark_spotify.warehouse import (
        change_feed,
        commit,
        matched_delete,
        matched_update,
        merge_rows,
        not_matched_insert,
        read_table,
    )

    s1 = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "id long, v double"
    )
    s2 = spark.createDataFrame(
        [(2, 99.0), (3, 30.0), (4, 40.0)], "id long, v double"
    )  # 1 deleted, 2 updated, 3 unchanged, 4 inserted
    s1.coalesce(1).write.parquet(f"{warehouse}/t/base")
    commit(warehouse, "t", parts=["base"])
    feed = change_feed(s1, s2, "id")
    src = feed.filter(F.col("_change_type") != "update_preimage")
    merge_rows(
        spark,
        warehouse,
        "t",
        src,
        "id",
        "1",
        when_matched=[
            matched_delete(F.col("s._change_type") == "delete"),
            matched_update(F.col("s._change_type") == "update_postimage"),
        ],
        when_not_matched=[
            not_matched_insert(F.col("s._change_type") == "insert")
        ],
    )
    out = read_table(spark, warehouse, "t")
    assert out.columns == ["id", "v"]  # _change_type never landed
    assert {(r.id, r.v) for r in out.collect()} == {
        (2, 99.0),
        (3, 30.0),
        (4, 40.0),
    }


def test_wap_revalidates_collisions_on_each_retry(
    spark, warehouse, monkeypatch
):
    """After a lost CAS race the WINNER may have published a part under
    one of our promotion-target names.  The retry must re-run the
    collision validation (not just the pre-loop check) and raise cleanly
    with every part still staged — never os.rename onto the winner's
    directory mid-loop."""
    import os

    import pytest

    from spark_spotify import warehouse as W
    from spark_spotify.warehouse import dml

    spark.createDataFrame(
        [(1, "x")], "event_id long, t string"
    ).coalesce(1).write.parquet(f"{warehouse}/t/_stage_s1")
    W.commit(warehouse, "t", parts=[])

    real_commit = dml.commit
    calls = {"n": 0}

    def flaky_commit(*a, **kw):
        calls["n"] += 1
        if calls["n"] == 1:
            # the winner lands a manifest claiming the name "s1", then
            # our commit loses the race
            real_commit(warehouse, "t", parts=["s1"])
            raise W.CommitConflictError("simulated lost race")
        return real_commit(*a, **kw)

    monkeypatch.setattr(dml, "commit", flaky_commit)
    with pytest.raises(RuntimeError, match="collides"):
        W.wap_publish(spark, warehouse, "t", ["_stage_s1"])
    assert os.path.exists(f"{warehouse}/t/_stage_s1")  # fully staged


def test_merge_schema_evolution_null_backfill_and_travel(spark, warehouse):
    """merge_schema=True: a source column the target lacks evolves the
    table in the same commit — matched rows carry source values,
    untouched parts read back NULL via the manifest-owned schema (no
    footer merge), and time travel to the pre-evolution version still
    reads the OLD schema."""
    from spark_spotify.warehouse import merge_rows, read_manifest, read_table

    _mk_merge_table(spark, warehouse)  # p1: (1,10,a) (2,20,b) (3,30,c)
    spark.createDataFrame(
        [(9, 90.0, "z")], "id long, v double, s string"
    ).coalesce(1).write.parquet(f"{warehouse}/t/p2")
    from spark_spotify.warehouse import swing_rebase

    swing_rebase(warehouse, "t", 1, ["p2"])
    src = spark.createDataFrame(
        [(9, 99.0, "z", "cdc"), (50, 500.0, "new", "cdc")],
        "id long, v double, s string, origin string",
    )
    n = merge_rows(
        spark, warehouse, "t", src, "id", "m1", merge_schema=True
    )
    assert n == 1  # only p2 matched — p1 keeps its bytes
    out = {
        r["id"]: (r["v"], r["origin"])
        for r in read_table(spark, warehouse, "t").collect()
    }
    assert out == {
        1: (10.0, None),
        2: (20.0, None),
        3: (30.0, None),
        9: (99.0, "cdc"),
        50: (500.0, "cdc"),
    }
    m = read_manifest(warehouse, "t", 3)
    assert m["schema"] is not None and "origin" in m["schema"]
    # pre-evolution version still reads its own (old) schema
    old = read_table(spark, warehouse, "t", version=2)
    assert "origin" not in old.columns


def test_evolved_schema_survives_later_commits(spark, warehouse):
    """The table-owned schema carries through later deletes and is
    materialized physically by compaction."""
    from spark_spotify.warehouse import (
        compact_table,
        delete_rows,
        merge_rows,
        read_manifest,
        read_table,
    )

    _mk_merge_table(spark, warehouse)
    src = spark.createDataFrame(
        [(1, 11.0, "a", 7)], "id long, v double, s string, extra int"
    )
    merge_rows(spark, warehouse, "t", src, "id", "m1", merge_schema=True)
    delete_rows(spark, warehouse, "t", F.col("id") == 2, "d1")
    got = {
        r["id"]: r["extra"]
        for r in read_table(spark, warehouse, "t").collect()
    }
    assert got == {1: 7, 3: None}
    compact_table(spark, warehouse, "t", "z")
    # after compaction every row carries the column physically
    import os

    files = [
        f
        for f in os.listdir(f"{warehouse}/t/cz")
        if f.endswith(".parquet")
    ]
    sch = spark.read.parquet(f"{warehouse}/t/cz/{files[0]}").columns
    assert "extra" in sch
    got = {
        r["id"]: r["extra"]
        for r in read_table(spark, warehouse, "t").collect()
    }
    assert got == {1: 7, 3: None}
