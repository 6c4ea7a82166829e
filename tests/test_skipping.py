"""Manifest-stats data skipping: commit-time footer stats, metadata-only
pruning, and the read path whose correctness never rests on the pruning."""

from __future__ import annotations

import datetime as dt
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from spark_spotify import warehouse as W
from spark_spotify.warehouse import manifest
from spark_spotify.warehouse import (
    commit_append,
    prune_parts,
    read_manifest,
    read_table,
    read_table_where,
    rename_column,
)


@pytest.fixture()
def warehouse():
    path = tempfile.mkdtemp(prefix="spark_spotify_test_skip_")
    yield path
    shutil.rmtree(path, ignore_errors=True)


def _ranged_table(spark, warehouse, table="t"):
    """Three appends with disjoint id ranges [0,10), [10,20), [20,30)."""
    for k in range(3):
        df = spark.range(k * 10, (k + 1) * 10).select(
            F.col("id"),
            (F.col("id") % 5).alias("grp"),
            F.concat(F.lit("u"), F.format_string("%03d", "id")).alias("tag"),
        )
        commit_append(df, warehouse, table, k + 1)
    return ["p1", "p2", "p3"]


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_stats_recorded_at_commit(spark, warehouse):
    _ranged_table(spark, warehouse)
    m = read_manifest(warehouse, "t", 3)
    assert set(m["stats"]) == {"p1", "p2", "p3"}
    s = m["stats"]["p2"]["id"]
    assert (s["lo"], s["hi"], s["n"], s["nulls"]) == (10, 19, 10, 0)
    assert m["stats"]["p1"]["tag"]["lo"] == "u000"


def test_prune_point_and_range(spark, warehouse):
    parts = _ranged_table(spark, warehouse)
    kept, _ = prune_parts(warehouse, "t", [("id", "=", 15)])
    assert kept == ["p2"]
    kept, _ = prune_parts(warehouse, "t", [("id", ">=", 20)])
    assert kept == ["p3"]
    kept, _ = prune_parts(warehouse, "t", [("id", "<", 10)])
    assert kept == ["p1"]
    kept, _ = prune_parts(warehouse, "t", [("id", "<=", 10)])
    assert kept == ["p1", "p2"]
    kept, _ = prune_parts(warehouse, "t", [("id", ">", 29)])
    assert kept == []
    # conjunction narrows further than either predicate alone
    kept, _ = prune_parts(
        warehouse, "t", [("id", ">=", 10), ("id", "<", 20)]
    )
    assert kept == ["p2"]
    # a column whose ranges overlap every part can never prune
    kept, _ = prune_parts(warehouse, "t", [("grp", "=", 3)])
    assert kept == parts


def test_string_pruning(spark, warehouse):
    _ranged_table(spark, warehouse)
    kept, _ = prune_parts(warehouse, "t", [("tag", ">=", "u020")])
    assert kept == ["p3"]
    kept, _ = prune_parts(warehouse, "t", [("tag", "=", "u005")])
    assert kept == ["p1"]


def test_read_where_matches_full_filter(spark, warehouse):
    _ranged_table(spark, warehouse)
    for preds, col_expr in [
        ([("id", ">=", 20)], F.col("id") >= 20),
        ([("id", "=", 7)], F.col("id") == 7),
        ([("grp", "=", 3)], F.col("grp") == 3),
        ([("id", ">", 29)], F.col("id") > 29),  # provably empty
    ]:
        got = read_table_where(spark, warehouse, "t", preds)
        want = read_table(spark, warehouse, "t").filter(col_expr)
        assert _rows(got) == _rows(want)


def test_empty_and_all_null_parts_skipped(spark, warehouse):
    df = spark.range(5).select(F.col("id"), F.lit(1).alias("v"))
    commit_append(df, warehouse, "t", 1)
    commit_append(df.filter(F.lit(False)), warehouse, "t", 2)  # empty
    commit_append(  # all-null v
        spark.range(5, 10).select(
            F.col("id"), F.lit(None).cast("int").alias("v")
        ),
        warehouse,
        "t",
        3,
    )
    kept, _ = prune_parts(warehouse, "t", [("v", "=", 1)])
    assert kept == ["p1"]
    # the null part still answers id predicates (its id stats are real)
    kept, _ = prune_parts(warehouse, "t", [("id", ">=", 5)])
    assert kept == ["p3"]


def test_long_string_bounds_dropped_conservatively(spark, warehouse):
    long = "x" * 200
    df = spark.range(3).select(
        F.col("id"), F.lit(long).alias("body")
    )
    commit_append(df, warehouse, "t", 1)
    m = read_manifest(warehouse, "t", 1)
    assert "lo" not in m["stats"]["p1"]["body"]  # bound dropped, not lied
    # unbounded column never prunes; the read is still correct
    kept, _ = prune_parts(warehouse, "t", [("body", "=", "zzz")])
    assert kept == ["p1"]
    assert read_table_where(
        spark, warehouse, "t", [("body", "=", "zzz")]
    ).count() == 0


def test_timestamp_pruning(spark, warehouse):
    rows = [
        (1, dt.datetime(2024, 1, 1, 12, 0, 0)),
        (2, dt.datetime(2024, 1, 2, 12, 0, 0)),
    ]
    early = spark.createDataFrame(rows, "id int, ts timestamp")
    late = spark.createDataFrame(
        [(3, dt.datetime(2024, 2, 1)), (4, dt.datetime(2024, 2, 2))],
        "id int, ts timestamp",
    )
    commit_append(early, warehouse, "t", 1)
    commit_append(late, warehouse, "t", 2)
    cut = dt.datetime(2024, 1, 15)
    kept, _ = prune_parts(warehouse, "t", [("ts", ">=", cut)])
    assert kept == ["p2"]
    # equality at an exact stored bound must keep the part (the
    # epoch-micros encoding has no renderer ambiguity at equality)
    kept, _ = prune_parts(
        warehouse, "t", [("ts", "=", dt.datetime(2024, 1, 2, 12, 0, 0))]
    )
    assert kept == ["p1"]
    got = read_table_where(spark, warehouse, "t", [("ts", ">=", cut)])
    assert sorted(r["id"] for r in got.collect()) == [3, 4]


def test_cross_family_temporal_predicate_never_prunes(spark, warehouse):
    """Dates encode as epoch-DAYS and datetimes as epoch-MICROS — both
    plain ints.  A datetime predicate on a DATE column must therefore
    never be compared against the day-encoded bounds (it would prune
    parts that match); the part is kept and the residual filter (Spark
    casts date -> timestamp) decides."""
    rows = [(1, dt.date(2024, 1, 1)), (2, dt.date(2024, 1, 2))]
    df = spark.createDataFrame(rows, "id int, d date")
    commit_append(df, warehouse, "t", 1)
    m = read_manifest(warehouse, "t", 1)
    assert m["stats"]["p1"]["d"]["k"] == "d"  # family recorded
    cut = dt.datetime(2024, 1, 2, 0, 0, 0)
    kept, _ = prune_parts(warehouse, "t", [("d", ">=", cut)])
    assert kept == ["p1"]  # cross-family: kept, not mis-pruned
    got = read_table_where(spark, warehouse, "t", [("d", ">=", cut)])
    assert sorted(r["id"] for r in got.collect()) == [2]
    # same-family date predicates still prune
    kept, _ = prune_parts(
        warehouse, "t", [("d", ">=", dt.date(2024, 1, 3))]
    )
    assert kept == []


def test_stats_carried_forward_without_rereading(
    spark, warehouse, monkeypatch
):
    _ranged_table(spark, warehouse)
    before = read_manifest(warehouse, "t", 3)["stats"]

    def boom(*a, **k):
        raise AssertionError("metadata-only commit re-read footers")

    monkeypatch.setattr(manifest, "_part_stats", boom)
    rename_column(warehouse, "t", "tag", "label")
    after = read_manifest(warehouse, "t", 4)
    assert after["stats"] == before  # carried, keyed by PHYSICAL names
    # predicates on the LOGICAL name prune via the physical stats
    kept, _ = prune_parts(warehouse, "t", [("label", "=", "u005")])
    assert kept == ["p1"]
    got = read_table_where(
        spark, warehouse, "t", [("label", "=", "u005")]
    )
    assert got.count() == 1 and got.columns.count("label") == 1


def test_dropped_stats_pruned_with_parts(spark, warehouse):
    from spark_spotify.warehouse import commit

    _ranged_table(spark, warehouse)
    commit(warehouse, "t", parts=["p1", "p3"])
    m = read_manifest(warehouse, "t", 4)
    assert set(m["stats"]) == {"p1", "p3"}


def test_prune_on_dropped_column_rejected(spark, warehouse):
    from spark_spotify.warehouse import drop_column

    _ranged_table(spark, warehouse)
    drop_column(warehouse, "t", "grp")
    with pytest.raises(RuntimeError, match="dropped column"):
        prune_parts(warehouse, "t", [("grp", "=", 1)])


def test_restore_reinstates_schema_state(spark, warehouse):
    from spark_spotify.warehouse import restore_table

    _ranged_table(spark, warehouse)  # v1..v3
    rename_column(warehouse, "t", "tag", "label")  # v4
    v = restore_table(warehouse, "t", 3)  # pre-rename head
    assert v == 5
    assert "tag" in read_table(spark, warehouse, "t").columns
    v = restore_table(warehouse, "t", 4)  # a restore can be restored
    assert v == 6
    assert "label" in read_table(spark, warehouse, "t").columns
    # stats travel with the restore: pruning still works at the new head
    kept, _ = prune_parts(warehouse, "t", [("label", "=", "u015")])
    assert kept == ["p2"]


def test_restore_rejects_missing_parts(spark, warehouse):
    import os

    from spark_spotify.warehouse import restore_table

    _ranged_table(spark, warehouse)  # v1..v3 (p1, p1+p2, p1+p2+p3)
    # simulate externally lost bytes (vacuum keeps retained manifests'
    # parts, so the guard's real-life trigger is tampering/races)
    shutil.rmtree(os.path.join(warehouse, "t", "p1"))
    with pytest.raises(RuntimeError, match="vacuumed"):
        restore_table(warehouse, "t", 2)
    with pytest.raises(RuntimeError, match="no committed version"):
        restore_table(warehouse, "t", 99)


def test_constraints_null_is_not_a_violation(spark, warehouse):
    from spark_spotify.warehouse import add_constraint

    df = spark.createDataFrame(
        [(1, 5), (2, None)], "id int, v int"
    )
    commit_append(df, warehouse, "t", 1)
    # UNKNOWN satisfies CHECK (SQL three-valued logic): the NULL row
    # neither blocks the backfill validation nor future appends
    add_constraint(spark, warehouse, "t", "v_pos", "v > 0")
    commit_append(
        spark.createDataFrame([(3, None)], "id int, v int"),
        warehouse,
        "t",
        2,
    )
    assert read_table(spark, warehouse, "t").count() == 3


def test_constraints_enforced_on_merge(spark, warehouse):
    from spark_spotify.warehouse import (
        ConstraintViolationError,
        add_constraint,
        merge_rows,
    )

    df = spark.createDataFrame([(1, 5), (2, 6)], "id int, v int")
    commit_append(df, warehouse, "t", 1)
    add_constraint(spark, warehouse, "t", "v_pos", "v > 0")
    bad = spark.createDataFrame([(1, -7)], "id int, v int")
    with pytest.raises(ConstraintViolationError):
        merge_rows(spark, warehouse, "t", bad, "id", "x1")
    assert read_table(spark, warehouse, "t").filter("v < 0").count() == 0
    ok = spark.createDataFrame([(1, 7), (9, 9)], "id int, v int")
    merge_rows(spark, warehouse, "t", ok, "id", "x2")
    assert read_table(spark, warehouse, "t").count() == 3


def test_constraints_on_logical_names_after_rename(spark, warehouse):
    from spark_spotify.warehouse import (
        ConstraintViolationError,
        add_constraint,
    )

    df = spark.createDataFrame([(1, 5)], "id int, v int")
    commit_append(df, warehouse, "t", 1)
    rename_column(warehouse, "t", "v", "score")
    add_constraint(spark, warehouse, "t", "score_pos", "score > 0")
    with pytest.raises(ConstraintViolationError):
        commit_append(
            spark.createDataFrame([(2, -1)], "id int, v int"),
            warehouse,
            "t",
            2,
        )
    commit_append(
        spark.createDataFrame([(2, 1)], "id int, v int"),
        warehouse,
        "t",
        3,
    )
    assert read_table(spark, warehouse, "t").count() == 2


def test_drop_constraint_and_restore_carries(spark, warehouse):
    from spark_spotify.warehouse import (
        ConstraintViolationError,
        add_constraint,
        drop_constraint,
        restore_table,
    )

    df = spark.createDataFrame([(1, 5)], "id int, v int")
    commit_append(df, warehouse, "t", 1)  # v1
    add_constraint(spark, warehouse, "t", "v_pos", "v > 0")  # v2
    drop_constraint(warehouse, "t", "v_pos")  # v3
    bad = spark.createDataFrame([(2, -1)], "id int, v int")
    commit_append(bad, warehouse, "t", 2)  # v4: admitted, no constraint
    restore_table(warehouse, "t", 2)  # v5: constraint is BACK
    with pytest.raises(ConstraintViolationError):
        commit_append(bad, warehouse, "t", 3)


def test_kmv_estimates_near_exact(spark, sf_dir):
    """The sketch is hash-gated by the oracle; this gates its STATISTICAL
    quality: every pair estimate within 8/sqrt(K) relative error of the
    exact intersection/union (KMV rsd ~ 1/sqrt(K); 8 sigma never flakes,
    a broken estimator blows past it)."""
    from spark_spotify.analytics.scaleops import KMV_K, q_kmv_set_ops
    from spark_spotify.sources.tables import load_table

    est = {
        (r["ta"], r["tb"]): r
        for r in q_kmv_set_ops(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "user_id"
    )
    a = ev.alias("a")
    b = ev.alias("b")
    exact = {
        (r["ta"], r["tb"]): r
        for r in (
            a.join(b, F.col("a.user_id") == F.col("b.user_id"))
            .filter(F.col("a.event_type") < F.col("b.event_type"))
            .select(
                F.col("a.event_type").alias("ta"),
                F.col("b.event_type").alias("tb"),
                "a.user_id",
            )
            .distinct()
            .groupBy("ta", "tb")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
    }
    tol = 8.0 / (KMV_K ** 0.5)
    assert set(est) == set(exact)
    for pair, r in est.items():
        n = exact[pair]["n"]
        assert abs(r["est_common_users"] - n) <= max(tol * n, 2), (
            pair,
            r["est_common_users"],
            n,
        )


def test_wap_audit_enforces_constraints(spark, warehouse):
    from spark_spotify.warehouse import (
        add_constraint,
        manifest_parts,
        wap_publish,
    )

    df = spark.createDataFrame([(1, 5), (2, 6)], "id int, v int")
    commit_append(df, warehouse, "t", 1)
    add_constraint(spark, warehouse, "t", "v_pos", "v > 0")
    v_before = manifest_parts(warehouse, "t")
    import os

    bad = spark.createDataFrame([(3, -1)], "id int, v int")
    bad.coalesce(1).write.parquet(
        os.path.join(warehouse, "t", "_stage_bad")
    )
    assert not wap_publish(spark, warehouse, "t", ["_stage_bad"], key="id")
    assert manifest_parts(warehouse, "t") == v_before  # audit left no trace
    ok = spark.createDataFrame([(3, 1)], "id int, v int")
    ok.coalesce(1).write.parquet(
        os.path.join(warehouse, "t", "_stage_ok")
    )
    assert wap_publish(spark, warehouse, "t", ["_stage_ok"], key="id")
    assert read_table(spark, warehouse, "t").count() == 3


def test_generated_columns_materialize_and_validate(spark, warehouse):
    from spark_spotify.warehouse import (
        ConstraintViolationError,
        add_generated_column,
        merge_rows,
    )

    df = spark.createDataFrame([(1, 10), (2, 20)], "id int, v int")
    commit_append(df.withColumn("v2", F.col("v") * 2), warehouse, "t", 1)
    add_generated_column(spark, warehouse, "t", "v2", "v * 2")
    # omitted -> materialized
    commit_append(
        spark.createDataFrame([(3, 30)], "id int, v int"), warehouse, "t", 2
    )
    got = {r["id"]: r["v2"] for r in read_table(spark, warehouse, "t").collect()}
    assert got == {1: 20, 2: 40, 3: 60}
    # supplied-but-wrong -> rejected, no trace
    with pytest.raises(ConstraintViolationError):
        commit_append(
            spark.createDataFrame([(4, 40, 99)], "id int, v int, v2 int"),
            warehouse,
            "t",
            3,
        )
    assert read_table(spark, warehouse, "t").count() == 3
    # MERGE output is validated too: an update arm breaking v2 rejects
    bad = spark.createDataFrame([(1, 10, 21)], "id int, v int, v2 int")
    with pytest.raises(ConstraintViolationError):
        merge_rows(spark, warehouse, "t", bad, "id", "g1")
    ok = spark.createDataFrame([(1, 11, 22)], "id int, v int, v2 int")
    merge_rows(spark, warehouse, "t", ok, "id", "g2")
    assert {
        r["id"]: (r["v"], r["v2"])
        for r in read_table(spark, warehouse, "t").collect()
    }[1] == (11, 22)


def test_read_where_scans_only_surviving_parts(spark, warehouse):
    """The pruning is PHYSICAL: the executed scan's input files all come
    from the one part the stats admit — not filtered-after-read."""
    _ranged_table(spark, warehouse)
    got = read_table_where(spark, warehouse, "t", [("id", ">=", 20)])
    files = {
        r[0] for r in got.select(F.input_file_name()).distinct().collect()
    }
    assert files and all("/p3/" in f for f in files), files


def test_multi_commit_and_recovery(spark, warehouse):
    import os

    from spark_spotify.warehouse import (
        CommitConflictError,
        manifest_parts,
        multi_commit,
        recover_transactions,
    )

    a = spark.createDataFrame([(1,)], "id int")
    b = spark.createDataFrame([(2,)], "id int")
    commit_append(a, warehouse, "x", 1)
    commit_append(a, warehouse, "y", 1)
    # stage deltas, commit both atomically
    b.write.parquet(os.path.join(warehouse, "x", "p2"))
    b.write.parquet(os.path.join(warehouse, "y", "p2"))
    multi_commit(
        warehouse, {"x": (["p2"], set()), "y": (["p2"], set())}, "t1"
    )
    assert manifest_parts(warehouse, "x") == ["p1", "p2"]
    assert manifest_parts(warehouse, "y") == ["p1", "p2"]
    assert recover_transactions(warehouse) == []  # nothing pending
    # a tag collides only with an IN-FLIGHT intent (retired tags free
    # their name); simulate one mid-transaction
    import json

    from spark_spotify.warehouse import TXN_DIR

    with open(os.path.join(warehouse, TXN_DIR, "t2.json"), "w") as fh:
        json.dump({}, fh)
    b.write.parquet(os.path.join(warehouse, "x", "p3"))
    with pytest.raises(CommitConflictError):
        multi_commit(warehouse, {"x": (["p3"], set())}, "t2")


def test_vacuum_by_retention_age(spark, warehouse):
    import json
    import os

    from spark_spotify.warehouse import (
        MANIFEST_PREFIX,
        read_manifest,
        read_table,
        vacuum_table,
    )

    _ranged_table(spark, warehouse)  # v1..v3, all just now
    # age v1 artificially: rewrite its commit wall-clock 10 h back
    p1 = os.path.join(warehouse, "t", f"{MANIFEST_PREFIX}1")
    m = json.load(open(p1))
    m["ts"] -= 36000
    json.dump(m, open(p1, "w"))
    removed = vacuum_table(warehouse, "t", retain_hours=1.0)
    # v2/v3 are younger than 1 h -> retained; v1 expired, but every part
    # it references is still referenced by v2/v3, so no DATA is reclaimed
    assert removed == []
    assert read_table(spark, warehouse, "t", version=2) is not None
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        read_manifest(warehouse, "t", 1)
    # a pre-timestamp manifest cannot prove its age -> retained
    p2 = os.path.join(warehouse, "t", f"{MANIFEST_PREFIX}2")
    m = json.load(open(p2))
    del m["ts"]
    json.dump(m, open(p2, "w"))
    vacuum_table(warehouse, "t", retain_hours=0.0)
    assert read_manifest(warehouse, "t", 2)["parts"]


def test_enc_stat_normalizes_timezones():
    from spark_spotify.warehouse.manifest import _enc_stat

    utc = dt.timezone.utc
    plus2 = dt.timezone(dt.timedelta(hours=2))
    naive = dt.datetime(2024, 1, 1, 12, 0, 0)
    aware_utc = dt.datetime(2024, 1, 1, 12, 0, 0, tzinfo=utc)
    aware_p2 = dt.datetime(2024, 1, 1, 14, 0, 0, tzinfo=plus2)  # same instant
    assert _enc_stat(naive) == _enc_stat(aware_utc) == _enc_stat(aware_p2)


def test_swing_rebase_multiprocess_stress(warehouse):
    """REAL cross-process contention on the commit protocol: four
    independent Python processes each land six rebased appends on the
    same table concurrently.  The os.link CAS plus rebase-replay must
    admit every commit exactly once — 24 parts, 24 versions, no losses,
    no duplicates — which mocked single-process interleavings cannot
    prove."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = (
        "import os, sys\n"
        f"sys.path.insert(0, {repo!r})\n"
        "from spark_spotify.warehouse import current_version, swing_rebase\n"
        "wh, wid, k = sys.argv[1], sys.argv[2], int(sys.argv[3])\n"
        "for i in range(k):\n"
        "    part = f'w{wid}_{i}'\n"
        "    os.makedirs(os.path.join(wh, 't', part))\n"
        "    base = current_version(wh, 't')\n"
        "    swing_rebase(wh, 't', base, [part], max_retries=500)\n"
    )
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", script, warehouse, str(w), "6"],
            stderr=subprocess.PIPE,
        )
        for w in range(4)
    ]
    for p in procs:
        _, err = p.communicate(timeout=120)
        assert p.returncode == 0, err.decode()[-800:]

    from spark_spotify.warehouse import list_versions, manifest_parts

    parts = sorted(manifest_parts(warehouse, "t") or [])
    want = sorted(f"w{w}_{i}" for w in range(4) for i in range(6))
    assert parts == want
    assert len(list_versions(warehouse, "t")) == 24


def test_wap_audit_enforces_generated_columns(spark, warehouse):
    import os

    from spark_spotify.warehouse import (
        add_generated_column,
        manifest_parts,
        wap_publish,
    )

    df = spark.createDataFrame([(1, 5, 10)], "id int, v int, v2 int")
    commit_append(df, warehouse, "t", 1)
    add_generated_column(spark, warehouse, "t", "v2", "v * 2")
    before = manifest_parts(warehouse, "t")
    # wrong generated values -> audit fails, staging intact
    spark.createDataFrame(
        [(2, 6, 99)], "id int, v int, v2 int"
    ).coalesce(1).write.parquet(os.path.join(warehouse, "t", "_stage_w"))
    assert not wap_publish(spark, warehouse, "t", ["_stage_w"], key="id")
    # column absent entirely -> audit fails (cannot materialize post-hoc)
    spark.createDataFrame([(3, 7)], "id int, v int").coalesce(
        1
    ).write.parquet(os.path.join(warehouse, "t", "_stage_m"))
    assert not wap_publish(spark, warehouse, "t", ["_stage_m"], key="id")
    assert manifest_parts(warehouse, "t") == before
    spark.createDataFrame(
        [(4, 8, 16)], "id int, v int, v2 int"
    ).coalesce(1).write.parquet(os.path.join(warehouse, "t", "_stage_ok"))
    assert wap_publish(spark, warehouse, "t", ["_stage_ok"], key="id")


def test_recovery_quarantines_conflicted_intent(spark, warehouse):
    import json
    import os

    from spark_spotify.warehouse import (
        TXN_DIR,
        CommitConflictError,
        commit,
        manifest_parts,
        recover_transactions,
    )

    a = spark.createDataFrame([(1,)], "id int")
    commit_append(a, warehouse, "x", 1)
    commit_append(a, warehouse, "y", 1)
    # intent that removes x/p1 — then a concurrent commit removes it
    # first (true overlap: the intent can never apply)
    os.makedirs(os.path.join(warehouse, TXN_DIR))
    a.write.parquet(os.path.join(warehouse, "x", "p9"))
    with open(os.path.join(warehouse, TXN_DIR, "bad.json"), "w") as fh:
        json.dump({"x": {"base": 1, "added": ["p9"], "removed": ["p1"]}}, fh)
    a.write.parquet(os.path.join(warehouse, "x", "p2"))
    commit(warehouse, "x", parts=["p2"])  # the winner removed p1 too
    # a later healthy intent must still recover despite the poisoned one
    a.write.parquet(os.path.join(warehouse, "y", "p2"))
    with open(os.path.join(warehouse, TXN_DIR, "ok.json"), "w") as fh:
        json.dump({"y": {"base": 1, "added": ["p2"], "removed": []}}, fh)
    with pytest.raises(CommitConflictError, match="quarantined"):
        recover_transactions(warehouse)
    assert manifest_parts(warehouse, "y") == ["p1", "p2"]  # healthy applied
    assert os.path.exists(
        os.path.join(warehouse, TXN_DIR, "bad.json.conflict")
    )
    assert recover_transactions(warehouse) == []  # loop unbricked

def test_recovery_replays_in_creation_order(spark, warehouse):
    """Two pending intents whose CREATION order is the reverse of their
    lexicographic tag order: 'b' (created first) already swung the table
    and crashed before retiring; 'a' (created second) was cut against
    the post-'b' state.  Lexicographic replay would apply 'a' first and
    then quarantine 'b' on a spurious overlap conflict; creation-order
    replay detects 'b' as already-applied, retires it, and applies 'a'
    cleanly."""
    import json
    import os

    from spark_spotify.warehouse import (
        TXN_DIR,
        commit,
        manifest_parts,
        recover_transactions,
    )

    df = spark.createDataFrame([(1,)], "id int")
    commit_append(df, warehouse, "t", 1)  # v1 = [p1]
    os.makedirs(os.path.join(warehouse, TXN_DIR))
    # intent "b": created FIRST, applied (v2 = [p2]), crash before retire
    df.write.parquet(os.path.join(warehouse, "t", "p2"))
    with open(os.path.join(warehouse, TXN_DIR, "b.json"), "w") as fh:
        json.dump(
            {
                "_ts": 100.0,
                "t": {"base": 1, "added": ["p2"], "removed": ["p1"]},
            },
            fh,
        )
    commit(warehouse, "t", parts=["p2"])  # b's swing landed
    # intent "a": created SECOND against the post-b state, never applied
    df.write.parquet(os.path.join(warehouse, "t", "p3"))
    with open(os.path.join(warehouse, TXN_DIR, "a.json"), "w") as fh:
        json.dump(
            {
                "_ts": 200.0,
                "t": {"base": 2, "added": ["p3"], "removed": ["p2"]},
            },
            fh,
        )
    assert recover_transactions(warehouse) == ["b", "a"]
    assert manifest_parts(warehouse, "t") == ["p3"]

def test_widen_column_rejects_narrowing_and_cross_family(spark, warehouse):
    from spark_spotify.warehouse import widen_column

    df = spark.createDataFrame([(1, 2.5, "x")], "a long, b double, s string")
    commit_append(df, warehouse, "t", 1)
    with pytest.raises(RuntimeError, match="lossless"):
        widen_column(spark, warehouse, "t", "a", "int")  # narrowing
    with pytest.raises(RuntimeError, match="lossless"):
        widen_column(spark, warehouse, "t", "b", "string")  # cross-family
    with pytest.raises(RuntimeError, match="no physical column"):
        widen_column(spark, warehouse, "t", "zz", "long")


def test_widened_schema_survives_compact_and_delete(spark, warehouse):
    """The widened table-owned schema carries through later commits, and
    compaction materializes the wide type physically."""
    from spark_spotify.warehouse import (
        compact_table,
        delete_rows,
        widen_column,
    )

    df = spark.createDataFrame([(1, 10), (2, 20), (3, 30)], "id int, v int")
    commit_append(df, warehouse, "t", 1)
    widen_column(spark, warehouse, "t", "v", "bigint")
    big = spark.createDataFrame([(4, 5_000_000_000)], "id int, v long")
    commit_append(big, warehouse, "t", 2)
    delete_rows(spark, warehouse, "t", F.col("id") == 2, "d1")
    got = {r["id"]: r["v"] for r in read_table(spark, warehouse, "t").collect()}
    assert got == {1: 10, 3: 30, 4: 5_000_000_000}
    compact_table(spark, warehouse, "t", "z")
    import os

    cz = os.path.join(warehouse, "t", "cz")
    f = next(x for x in os.listdir(cz) if x.endswith(".parquet"))
    phys = dict(spark.read.parquet(os.path.join(cz, f)).dtypes)
    assert phys["v"] == "bigint"  # compaction wrote the wide type
    got = {r["id"]: r["v"] for r in read_table(spark, warehouse, "t").collect()}
    assert got == {1: 10, 3: 30, 4: 5_000_000_000}

def test_bloom_index_point_pruning_and_incremental_cover(spark, warehouse):
    """Bloom sidecars prune equality lookups on hash-like columns where
    min/max cannot; parts appended after the build stay conservatively
    un-pruned until the next (incremental) build covers them."""
    from spark_spotify.warehouse import add_bloom_index

    def batch(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id"), F.md5(F.col("id").cast("string")).alias("tag")
        )

    commit_append(batch(0, 50), warehouse, "t", 1)
    commit_append(batch(50, 100), warehouse, "t", 2)
    add_bloom_index(spark, warehouse, "t", "tag", "1")
    import hashlib

    v7 = hashlib.md5(b"7").hexdigest()  # lives in p1
    kept, _ = prune_parts(warehouse, "t", [("tag", "=", v7)])
    assert kept == ["p1"]
    # a value in NO part: every covered part pruned
    kept, _ = prune_parts(warehouse, "t", [("tag", "=", "0" * 32)])
    assert kept == []
    # append an uncovered part: it is always kept (never mis-pruned)
    commit_append(batch(100, 150), warehouse, "t", 3)
    v120 = hashlib.md5(b"120").hexdigest()
    kept, _ = prune_parts(warehouse, "t", [("tag", "=", v120)])
    assert kept == ["p3"]  # p1/p2 bloom-pruned, p3 uncovered -> kept
    # incremental build covers ONLY p3, then prunes precisely
    add_bloom_index(spark, warehouse, "t", "tag", "2")
    kept, _ = prune_parts(warehouse, "t", [("tag", "=", v7)])
    assert kept == ["p1"]
    kept, _ = prune_parts(warehouse, "t", [("tag", "=", "0" * 32)])
    assert kept == []
    got = read_table_where(spark, warehouse, "t", [("tag", "=", v120)])
    assert [r["id"] for r in got.collect()] == [120]


def test_bloom_sidecars_survive_vacuum_and_restore(spark, warehouse):
    from spark_spotify.warehouse import (
        add_bloom_index,
        restore_table,
        vacuum_table,
    )

    df = spark.range(0, 30).select(
        F.col("id"), F.md5(F.col("id").cast("string")).alias("tag")
    )
    commit_append(df, warehouse, "t", 1)
    add_bloom_index(spark, warehouse, "t", "tag", "1")
    import os

    assert vacuum_table(warehouse, "t") == []  # live sidecar retained
    assert os.path.isdir(os.path.join(warehouse, "t", "bl1"))
    restore_table(warehouse, "t", 2)  # restore keeps the bloom map
    import hashlib

    kept, _ = prune_parts(
        warehouse, "t", [("tag", "=", hashlib.md5(b"5").hexdigest())]
    )
    assert kept == ["p1"]

def test_in_list_pruning_stats_and_conservatism(spark, warehouse):
    """IN-list pruning drops a part only when EVERY element is provably
    outside its bounds; unknown or cross-family elements keep it."""
    _ranged_table(spark, warehouse)  # p1 [0,10) p2 [10,20) p3 [20,30)
    kept, _ = prune_parts(warehouse, "t", [("id", "in", [5, 25])])
    assert kept == ["p1", "p3"]
    kept, _ = prune_parts(warehouse, "t", [("id", "in", [100, 200])])
    assert kept == []
    # a cross-family (string) element cannot be proven absent -> keep all
    kept, _ = prune_parts(warehouse, "t", [("id", "in", [100, "x"])])
    assert kept == ["p1", "p2", "p3"]
    # pruned read still applies the exact filter
    got = read_table_where(spark, warehouse, "t", [("id", "in", [5, 25])])
    assert sorted(r["id"] for r in got.collect()) == [5, 25]
    got = read_table_where(spark, warehouse, "t", [("id", "in", [])])
    assert got.count() == 0


def test_bloom_maintenance_covers_rewrites_same_commit(spark, warehouse):
    """COW delete / MERGE rewrites and compaction rebuild bloom coverage
    for the parts they produce inside their own commit — an erased-key
    probe can prune the rewrite, which only coverage allows."""
    import hashlib

    from spark_spotify.warehouse import (
        add_bloom_index,
        bloom_covered,
        compact_table,
        delete_rows,
        merge_rows,
    )

    def batch(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id"), F.md5(F.col("id").cast("string")).alias("tag")
        )

    commit_append(batch(0, 50), warehouse, "t", 1)
    commit_append(batch(50, 100), warehouse, "t", 2)
    add_bloom_index(spark, warehouse, "t", "tag", "1")
    # COW delete rewrites p1 -> dd1, covered in the same commit
    delete_rows(spark, warehouse, "t", F.col("id").isin(7, 9), "d1")
    m = W.read_manifest(warehouse, "t", W.current_version(warehouse, "t"))
    assert "dd1" in bloom_covered(warehouse, "t", m, "tag")
    v7 = hashlib.md5(b"7").hexdigest()
    kept, _ = prune_parts(warehouse, "t", [("tag", "=", v7)])
    assert kept == []  # erased key pruned EVERYWHERE, incl. the rewrite
    v8 = hashlib.md5(b"8").hexdigest()
    kept, _ = prune_parts(warehouse, "t", [("tag", "=", v8)])
    assert kept == ["dd1"]
    # COW MERGE rewrite likewise
    src = batch(8, 9).withColumn("id", F.col("id") * 1)
    merge_rows(spark, warehouse, "t", src, "id", "m1")
    m = W.read_manifest(warehouse, "t", W.current_version(warehouse, "t"))
    assert "mm1" in bloom_covered(warehouse, "t", m, "tag")
    # compaction: the replacement is the only live part and is covered
    compact_table(spark, warehouse, "t", "z")
    m = W.read_manifest(warehouse, "t", W.current_version(warehouse, "t"))
    assert m["parts"] == ["cz"]
    assert bloom_covered(warehouse, "t", m, "tag") >= {"cz"}
    kept, _ = prune_parts(warehouse, "t", [("tag", "=", v7)])
    assert kept == []


def test_bloom_maintenance_optimize_tops_up_appends(spark, warehouse):
    """Appends land uncovered (kept conservatively); OPTIMIZE covers its
    fold AND the surviving uncovered parts in the same commit."""
    import hashlib
    import os

    from spark_spotify.warehouse import (
        add_bloom_index,
        bloom_covered,
        optimize_table,
    )

    def batch(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id"), F.md5(F.col("id").cast("string")).alias("tag")
        )

    commit_append(batch(0, 2000), warehouse, "t", 1)
    add_bloom_index(spark, warehouse, "t", "tag", "1")
    # two tiny appends + one mid-size append, all uncovered
    commit_append(batch(2000, 2010), warehouse, "t", 2)
    commit_append(batch(2010, 2020), warehouse, "t", 3)
    commit_append(batch(2020, 2500), warehouse, "t", 4)
    m = W.read_manifest(warehouse, "t", W.current_version(warehouse, "t"))
    assert not ({"p2", "p3", "p4"} & bloom_covered(warehouse, "t", m, "tag"))

    def psize(p):
        d = os.path.join(warehouse, "t", p)
        return sum(
            os.path.getsize(os.path.join(d, f))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )

    # fold exactly the two tiny parts; p4 survives as an uncovered part
    target = min(psize("p1"), psize("p4"))
    assert max(psize("p2"), psize("p3")) < target
    assert optimize_table(spark, warehouse, "t", target, tag="g1") == 2
    m = W.read_manifest(warehouse, "t", W.current_version(warehouse, "t"))
    covered = bloom_covered(warehouse, "t", m, "tag")
    # the fold output AND the surviving append are now covered
    assert {"og1", "p4"} <= covered
    v = hashlib.md5(b"2300").hexdigest()  # lives in p4
    kept, _ = prune_parts(warehouse, "t", [("tag", "=", v)])
    assert kept == ["p4"]
    kept, _ = prune_parts(warehouse, "t", [("tag", "=", "f" * 32)])
    assert kept == []


def test_delete_where_pure_metadata(spark, warehouse):
    """A delete aligned exactly on part boundaries drops parts with
    ZERO data I/O — no new part, no rewrite, one manifest swing."""
    from spark_spotify.warehouse import delete_where, read_table

    _ranged_table(spark, warehouse)  # p1 [0,10) p2 [10,20) p3 [20,30)
    res = delete_where(spark, warehouse, "t", [("id", "<", 10)], "g1")
    assert res == {"dropped": ["p1"], "rewritten": []}
    assert sorted(W.manifest_parts(warehouse, "t")) == ["p2", "p3"]
    assert sorted(
        r["id"] for r in read_table(spark, warehouse, "t").collect()
    ) == list(range(10, 30))
    # time travel still reads the dropped part
    assert read_table(spark, warehouse, "t", version=3).count() == 30


def test_delete_where_boundary_rewrite(spark, warehouse):
    from spark_spotify.warehouse import delete_where, read_table

    _ranged_table(spark, warehouse)
    res = delete_where(spark, warehouse, "t", [("id", "<", 15)], "g1")
    assert res == {"dropped": ["p1"], "rewritten": ["p2"]}
    assert sorted(
        r["id"] for r in read_table(spark, warehouse, "t").collect()
    ) == list(range(15, 30))


def test_delete_where_null_rows_block_metadata_drop(spark, warehouse):
    """NULL-predicate rows survive a SQL DELETE, so a part holding
    nulls in the column is never metadata-dropped."""
    from spark_spotify.warehouse import delete_where, read_table

    df = spark.range(0, 10).select(
        F.when(F.col("id") < 9, F.col("id")).alias("v"),
        F.col("id").alias("id"),
    )
    commit_append(df, warehouse, "t", 1)
    res = delete_where(spark, warehouse, "t", [("v", "<", 100)], "g1")
    assert res == {"dropped": [], "rewritten": ["p1"]}  # row-level path
    out = read_table(spark, warehouse, "t").collect()
    assert [r["id"] for r in out] == [9] and out[0]["v"] is None


def test_delete_where_in_list_single_valued_part(spark, warehouse):
    from spark_spotify.warehouse import delete_where, read_table

    for k, v in enumerate((5, 7, 9)):
        df = spark.range(0, 4).select(
            F.lit(v).alias("grp"), F.col("id")
        )
        commit_append(df, warehouse, "t", k + 1)
    res = delete_where(
        spark, warehouse, "t", [("grp", "in", [5, 9])], "g1"
    )
    assert res == {"dropped": ["p1", "p3"], "rewritten": []}
    assert read_table(spark, warehouse, "t").count() == 4


def test_delete_where_no_matches_is_noop(spark, warehouse):
    from spark_spotify.warehouse import delete_where

    _ranged_table(spark, warehouse)
    v0 = W.current_version(warehouse, "t")
    res = delete_where(spark, warehouse, "t", [("id", ">", 999)], "g1")
    assert res == {"dropped": [], "rewritten": []}
    assert W.current_version(warehouse, "t") == v0  # no commit


def test_delete_where_mor_moves_zero_part_bytes(spark, warehouse):
    """Metadata drops + deletion-vector boundary in ONE commit: a MOR
    retention delete rewrites nothing anywhere — the full part drops
    from the manifest, the boundary part gains a row-sized vector, and
    every part file keeps its inode."""
    import os

    from spark_spotify.warehouse import delete_where, read_table

    _ranged_table(spark, warehouse)  # p1 [0,10) p2 [10,20) p3 [20,30)

    def inodes():
        out = {}
        for p in ("p1", "p2", "p3"):
            d = os.path.join(warehouse, "t", p)
            for f in os.listdir(d):
                if f.endswith(".parquet"):
                    out[f"{p}/{f}"] = os.stat(os.path.join(d, f)).st_ino
        return out

    before = inodes()
    res = delete_where(
        spark, warehouse, "t", [("id", "<", 15)], "g1", mode="mor"
    )
    assert res == {"dropped": ["p1"], "rewritten": ["p2"]}
    assert inodes() == before  # zero part bytes moved, even boundary
    m = W.read_manifest(warehouse, "t", W.current_version(warehouse, "t"))
    assert sorted(m["parts"]) == ["p2", "p3"]
    assert m["dv"] == {"p2": ["vdg1"]}
    assert sorted(
        r["id"] for r in read_table(spark, warehouse, "t").collect()
    ) == list(range(15, 30))
    # redelivery: the existing vector absorbs it as a no-op
    res = delete_where(
        spark, warehouse, "t", [("id", "<", 15)], "g2", mode="mor"
    )
    assert res == {"dropped": [], "rewritten": []}


def test_describe_bloom_coverage_reports_staleness(spark, warehouse):
    from spark_spotify.warehouse import (
        add_bloom_index,
        describe_bloom_coverage,
        optimize_table,
    )

    def batch(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id"), F.md5(F.col("id").cast("string")).alias("tag")
        )

    commit_append(batch(0, 2000), warehouse, "t", 1)
    add_bloom_index(spark, warehouse, "t", "tag", "1")
    commit_append(batch(2000, 2010), warehouse, "t", 2)
    commit_append(batch(2010, 2020), warehouse, "t", 3)
    rep = {r["col"]: r for r in describe_bloom_coverage(spark, warehouse, "t").collect()}
    assert rep["tag"]["n_parts"] == 3 and rep["tag"]["n_covered"] == 1
    assert rep["tag"]["uncovered"] == ["p2", "p3"]
    # OPTIMIZE tops coverage up; the report goes clean
    import os

    big = sum(
        os.path.getsize(os.path.join(warehouse, "t", "p1", f))
        for f in os.listdir(os.path.join(warehouse, "t", "p1"))
        if f.endswith(".parquet")
    )
    assert optimize_table(spark, warehouse, "t", big, tag="g1") == 2
    rep = {r["col"]: r for r in describe_bloom_coverage(spark, warehouse, "t").collect()}
    assert rep["tag"]["uncovered"] == []


def test_optimize_where_out_of_scope_is_noop(spark, warehouse):
    """A scoped OPTIMIZE whose predicate proves no part in scope must
    commit nothing — no new version, no part moved."""
    from spark_spotify.warehouse import (
        commit_append,
        current_version,
        optimize_table,
    )

    for k in range(3):
        df = spark.range(k * 10, (k + 1) * 10).select(
            F.col("id"), (F.col("id") * 2).alias("v")
        )
        commit_append(df, warehouse, "t", k + 1)
    v0 = current_version(warehouse, "t")
    n = optimize_table(
        spark, warehouse, "t", 1 << 40, tag="oos",
        predicates=[("id", ">", 10_000)],
    )
    assert n == 0
    assert current_version(warehouse, "t") == v0
