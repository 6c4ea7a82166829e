"""Operator-level unit tests: merge semantics, as-of, ingestion, streaming."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from spark_spotify.operators.merge import (
    dynamic_insert,
    insert_if_absent,
    merge_upsert,
)
from spark_spotify.sources.rest import (
    ingest_audio_features,
    ingest_plays,
    new_ids_for_enrichment,
    search_source,
)
from spark_spotify.streaming.pipeline import run_hourly_rollup
from tests.oracle import compare


def test_merge_upsert_incoming_wins(spark):
    old = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int")
    new = spark.createDataFrame([("b", 20), ("c", 30)], "k string, v int")
    got = {r.k: r.v for r in merge_upsert(old, new, ["k"]).collect()}
    assert got == {"a": 1, "b": 20, "c": 30}


def test_insert_if_absent_keeps_existing(spark):
    old = spark.createDataFrame([("a", 1)], "k string, v int")
    new = spark.createDataFrame([("a", 99), ("b", 2), ("b", 3)], "k string, v int")
    got = {r.k: r.v for r in insert_if_absent(old, new, ["k"]).collect()}
    assert got["a"] == 1  # existing wins
    assert got["b"] in (2, 3)  # one of the duplicate incoming rows


def test_dynamic_insert_aligns_to_target_schema(spark):
    """S9 generic dynamic insert (utils/database.py:195-211): record keys
    pick the columns, missing target columns go NULL, unknown keys raise —
    the Postgres dynamic-INSERT semantics."""
    import pytest

    target = spark.createDataFrame(
        [("a", 1, 0.5)], "k string, v int, w double"
    )
    out = dynamic_insert(target, [{"k": "b", "v": 2}, {"w": 9.0}])
    rows = {tuple(r) for r in out.collect()}
    assert rows == {("a", 1, 0.5), ("b", 2, None), (None, None, 9.0)}
    assert out.schema == target.schema  # insert never drifts the schema
    with pytest.raises(ValueError, match="nope"):
        dynamic_insert(target, [{"k": "c", "nope": 1}])
    assert dynamic_insert(target, []) is target  # empty page: no-op


def _play(tid, minute, name="t"):
    return {
        "track_id": tid,
        "played_at": dt.datetime(2024, 1, 1, 12, minute),
        "track_name": name,
        "artist_name": "x",
        "album_name": "y",
        "duration_ms": 1000,
        "explicit": False,
        "popularity": 5,
    }


def test_ingest_plays_idempotent(spark):
    page1 = [_play("t1", 0), _play("t2", 1)]
    bronze = ingest_plays(spark, lambda: page1, None)
    assert bronze.count() == 2
    # re-delivery of t2 plus one new play — re-sync must be idempotent
    page2 = [_play("t2", 1, name="renamed"), _play("t3", 2)]
    bronze2 = ingest_plays(spark, lambda: page2, bronze)
    assert bronze2.count() == 3
    kept = bronze2.filter(F.col("track_id") == "t2").collect()[0]
    assert kept.track_name == "t"  # original row survived re-delivery


def test_new_ids_batching(spark):
    bronze = spark.createDataFrame(
        [(f"id{i:03d}",) for i in range(120)], "track_id string"
    )
    dim = spark.createDataFrame([("id000",), ("id001",)], "track_id string")
    batches = new_ids_for_enrichment(bronze, dim, "track_id")
    assert [len(b) for b in batches] == [50, 50, 18]
    assert "id000" not in batches[0]


def test_audio_features_batched_idempotent(spark):
    calls = []

    def fake_fetch(ids):
        calls.append(list(ids))
        # the API drops unknown ids — emit features for all but one
        return [
            {"track_id": t, "danceability": 0.5, "energy": 0.9,
             "loudness": -5.0, "speechiness": 0.1, "acousticness": 0.2,
             "instrumentalness": 0.0, "liveness": 0.3, "valence": 0.4,
             "tempo": 120.0}
            for t in ids if t != "id000"
        ]

    ids = [f"id{i:03d}" for i in range(150)] + ["id001"]  # dup collapses
    feats = ingest_audio_features(spark, fake_fetch, ids, None)
    assert [len(b) for b in calls] == [100, 50]  # API cap respected
    assert feats.count() == 149  # 150 unique - 1 unknown
    # re-ingest with changed values — original rows survive (idempotent)
    feats2 = ingest_audio_features(
        spark,
        lambda b: [{**r.asDict(), "tempo": 999.0} for r in feats.collect()
                   if r.track_id in b],
        ["id001", "id555"],
        feats,
    )
    assert feats2.count() == 149
    assert feats2.filter(F.col("tempo") == 999.0).count() == 0


def test_search_source_rank_order(spark):
    def fake_search(q, stype, limit):
        assert stype == "track" and limit == 2
        return [
            {"id": f"{q}_a", "name": "A", "popularity": 10},
            {"id": f"{q}_b", "name": "B", "popularity": 7},
            {"id": f"{q}_c", "name": "C", "popularity": 99},  # beyond limit
        ]

    out = search_source(spark, fake_search, ["q1", "q2"], "track", limit=2)
    rows = sorted(tuple(r) for r in out.collect())
    assert len(rows) == 4  # 2 queries × limit 2, over-limit items dropped
    assert rows[0] == ("q1", "track", 1, "q1_a", "A", 10)
    assert rows[1] == ("q1", "track", 2, "q1_b", "B", 7)


def test_events_load_under_ntz_inference(spark, sf_dir):
    """The driver's session reads parquet timestamp[us] (isAdjustedToUTC
    false) as TIMESTAMP_NTZ (`spark.sql.parquet.inferTimestampNTZ.enabled`);
    round 1 died on exactly this path.  normalize_event_ts must coerce it
    to session-zone TIMESTAMP with identical values."""
    from spark_spotify.sources.tables import load_table

    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "true")
        ntz = load_table(spark, sf_dir, "events")
        assert dict(ntz.dtypes)["ts"] == "timestamp"
        got = ntz.orderBy("event_id").limit(3).collect()
    finally:
        spark.conf.set(key, old)
    plain = (
        load_table(spark, sf_dir, "events").orderBy("event_id").limit(3).collect()
    )
    assert [r.ts for r in got] == [r.ts for r in plain]


def test_incremental_dedup_verdicts(spark):
    from spark_spotify.operators.dedup import incremental_near_dups

    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "one two three four five six seven eight nine ten"),
        ],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            # exact copy of corpus doc 1 (modulo case/whitespace)
            (10, "  Alpha beta gamma delta epsilon zeta eta theta "),
            # near-dup of corpus doc 2: one token changed at the end
            (11, "one two three four five six seven eight nine eleven"),
            # unrelated
            (12, "completely different words with no overlap at all"),
            # too short to shingle, no exact match -> keep
            (13, "xy"),
        ],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: r for r in incremental_near_dups(batch, corpus).collect()
    }
    assert rows[10].verdict == "drop_exact" and rows[10].match_id == 1
    assert rows[11].verdict == "drop_near" and rows[11].match_id == 2
    assert rows[11].match_jaccard is not None
    assert rows[12].verdict == "keep" and rows[12].match_id is None
    assert rows[13].verdict == "keep"


def test_streaming_rollup_matches_batch_oracle(spark, sf_dir):
    from spark_spotify.streaming.pipeline import ORACLE

    got = run_hourly_rollup(spark, sf_dir)
    report = compare(got, ORACLE["stream_hourly_rollup"], sf_dir)
    assert report["ok"], report["errors"]


def test_pandas_ann_matches_exact_path(spark, sf_dir):
    """The Arrow/numpy scorer has no fold-order oracle (BLAS re-associates
    float adds); gate it against the oracle-exact JVM path instead: same
    ranking, cosines within float tolerance."""
    from spark_spotify.registry import QUERIES

    fast = QUERIES["sim_ann_cosine_pandas"](spark, sf_dir).collect()
    exact = QUERIES["sim_ann_cosine_topk"](spark, sf_dir).collect()
    assert [r.vec_id for r in fast] == [r.vec_id for r in exact]
    assert all(
        abs(a.cosine_sim - b.cosine_sim) < 1e-6
        for a, b in zip(fast, exact)
    )


def test_connected_components_chain_and_isolates(spark):
    """A 6-node chain (worst-case diameter for min-label propagation) plus
    isolated nodes and a 2-clique; labels must be each component's min id."""
    from spark_spotify.operators.components import (
        cluster_assign,
        connected_components,
    )

    nodes = spark.createDataFrame(
        [(f"n{i}",) for i in range(10)], "node string"
    )
    chain = [(f"n{i}", f"n{i+1}") for i in range(5)]  # n0..n5 one component
    edges = spark.createDataFrame(
        chain + [("n7", "n6")], "src string, dst string"
    )  # n6~n7 reversed orientation; n8, n9 isolated
    got = {r.node: r.label for r in connected_components(nodes, edges).collect()}
    want = {f"n{i}": "n0" for i in range(6)}
    want.update({"n6": "n6", "n7": "n6", "n8": "n8", "n9": "n9"})
    assert got == want

    ca = {
        r.node: (r.cluster_id, r.cluster_size, r.is_keeper)
        for r in cluster_assign(nodes, edges).collect()
    }
    assert ca["n3"] == ("n0", 6, False)
    assert ca["n0"] == ("n0", 6, True)
    assert ca["n9"] == ("n9", 1, True)


def test_connected_components_empty_edges(spark):
    """No duplicate pairs at all: every node is its own singleton and the
    loop terminates on the first round (empty-agg convergence path)."""
    from spark_spotify.operators.components import connected_components

    nodes = spark.createDataFrame([("a",), ("b",)], "node string")
    edges = spark.createDataFrame([], "src string, dst string")
    got = {r.node: r.label for r in connected_components(nodes, edges).collect()}
    assert got == {"a": "a", "b": "b"}


def test_stable_checkpoint_branches(spark, monkeypatch):
    """stable_checkpoint falls back to localCheckpoint with no checkpoint
    dir, and upgrades to reliable checkpoint() when one is configured
    (cluster mode; blocks must survive executor loss)."""
    import pyspark

    from spark_spotify.functions.checkpoint import stable_checkpoint

    assert spark.sparkContext.getCheckpointDir() is None
    assert stable_checkpoint(spark.range(10)).count() == 10  # local path

    calls = {}
    monkeypatch.setattr(
        type(spark.range(1)),  # the concrete (classic) DataFrame class
        "checkpoint",
        lambda self, eager=True: calls.setdefault("reliable", True)
        and self.localCheckpoint(eager),
    )
    monkeypatch.setattr(
        pyspark.SparkContext, "getCheckpointDir", lambda self: "/tmp/ckpt"
    )
    assert stable_checkpoint(spark.range(5)).count() == 5
    assert calls.get("reliable") is True


def test_expectation_rules_fire_on_dirty_rows(spark):
    """The constraint engine must COUNT violations, not just report zero
    on clean fixtures — feed one violation per rule and check each rule
    attributes exactly its own."""
    from spark_spotify.etl.expectations import expectation_report

    import datetime as dt

    rows = [
        # clean row
        (1, 20240105, "et", 1, 10, False, "morning", 1.0, dt.date(2024, 1, 1)),
        # null event_id
        (None, 20240105, "et", 1, 10, False, "morning", 1.0, dt.date(2024, 1, 1)),
        # duplicate event_id (x2)
        (2, 20240105, "et", 1, 10, False, "morning", 1.0, dt.date(2024, 1, 1)),
        (2, 20240105, "et", 1, 10, False, "morning", 1.0, dt.date(2024, 1, 1)),
        # hour out of range
        (3, 20240105, "et", 1, 99, False, "morning", 1.0, dt.date(2024, 1, 1)),
        # bad time_period
        (4, 20240105, "et", 1, 10, False, "brunch", 1.0, dt.date(2024, 1, 1)),
        # null weekend flag
        (5, 20240105, "et", 1, 10, None, "morning", 1.0, dt.date(2024, 1, 1)),
        # first_seen after the event date
        (6, 20240105, "et", 1, 10, False, "morning", 1.0, dt.date(2024, 2, 1)),
    ]
    fact = spark.createDataFrame(
        rows,
        "event_id long, date_key int, event_type_key string, user_id long,"
        " played_hour int, is_weekend boolean, time_period string,"
        " value double, user_first_seen date",
    )
    got = {r.rule: r.n_violations for r in expectation_report(fact).collect()}
    assert got == {
        "event_id_not_null": 1,
        "event_id_unique": 1,  # 2 copies - 1 distinct
        "played_hour_in_range": 1,
        "time_period_in_domain": 1,
        "weekend_flag_not_null": 1,
        "first_seen_before_event": 1,
    }


def test_heavy_hitters_matches_exact_under_any_partitioning(spark, tmp_path):
    """The certified sketch-then-verify top-k equals the exact top-k on a
    skew+uniform mixture regardless of partition layout (candidates vary
    with partitioning; the verified output must not)."""
    import pandas as pd

    from spark_spotify.analytics import scaleops as S

    rng = __import__("random").Random(7)
    toks = (
        ["hot%d" % i for i in range(30) for _ in range(200 - i)]
        + ["cold%d" % rng.randrange(5000) for _ in range(8000)]
    )
    rng.shuffle(toks)
    docs = pd.DataFrame(
        {
            "doc_id": range(len(toks) // 10),
            "text": [
                " ".join(toks[i * 10:(i + 1) * 10])
                for i in range(len(toks) // 10)
            ],
        }
    )
    sf_dir = str(tmp_path)
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.Table.from_pandas(docs), f"{sf_dir}/documents.parquet")
    got = [
        (r["rank"], r.token, r.n)
        for r in S.q_heavy_hitters(spark, sf_dir).collect()
    ]
    kept = [t for txt in docs["text"] for t in txt.split(" ")]
    exact = (
        pd.Series(kept).value_counts().rename_axis("t").reset_index(name="n")
    )
    exact = exact.sort_values(["n", "t"], ascending=[False, True]).head(
        S.HH_TOPK
    )
    want = [
        (i + 1, r.t, r.n) for i, r in enumerate(exact.itertuples(index=False))
    ]
    assert got == want


def test_exact_order_stats_narrowing_loop(spark, monkeypatch):
    """Force the histogram-narrowing loop (cap far below n) on mixed and
    duplicate-heavy data; results must equal the sorted truth."""
    import random

    from spark_spotify.analytics import scaleops as S

    monkeypatch.setattr(S, "MEDIAN_LOCAL_CAP", 50)
    rng = random.Random(11)
    vals = [rng.uniform(-100, 100) for _ in range(3000)] + [7.5] * 2000
    rng.shuffle(vals)
    df = spark.createDataFrame([(v,) for v in vals], "value double")
    n = len(vals)
    ranks = [1, (n + 1) // 2, n // 2 + 1, n]
    got = S.exact_order_stats(df, "value", ranks)
    truth = sorted(vals)
    assert got == {r: truth[r - 1] for r in ranks}


def test_exact_order_stats_all_duplicates(spark, monkeypatch):
    """A > cap mass of ONE exact value must resolve without collecting."""
    from spark_spotify.analytics import scaleops as S

    monkeypatch.setattr(S, "MEDIAN_LOCAL_CAP", 10)
    df = spark.createDataFrame([(3.25,)] * 500, "value double")
    assert S.exact_order_stats(df, "value", [250]) == {250: 3.25}


def test_triangle_count_known_graph(spark, tmp_path, monkeypatch):
    """Hand-built co-supply graph with sampling disabled (mod 1): K4 on
    suppliers 1-4 (4 triangles) via one shared order, plus a dangling
    edge (5-6) contributing none."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from spark_spotify.analytics import graph as G

    monkeypatch.setattr(G, "TRI_SAMPLE_MOD", 1)
    rows = [(100, s) for s in (1, 2, 3, 4)] + [(200, 5), (200, 6)]
    pq.write_table(
        pa.table(
            {
                "l_orderkey": [r[0] for r in rows],
                "l_suppkey": [r[1] for r in rows],
            }
        ),
        f"{tmp_path}/lineitem.parquet",
    )
    got = G.q_triangle_count(spark, str(tmp_path)).collect()[0]
    assert (
        got.n_vertices,
        got.n_edges,
        got.n_triangles,
        got.est_triangles,
    ) == (6, 7, 4, 4)


def test_triangle_pairing_paths_agree_on_hyper_order(spark, monkeypatch):
    """A 3000-supplier hyper-order (above TRI_GROUP_CAP) routes through
    the distributed self-join path; forcing the cap high routes the SAME
    order through the array path — both must produce the identical
    sampled edge set, and the hyper-order must not blow up a single
    task's array (the round-4 skew hole: C(k,2) structs materialized
    before the coin)."""
    from spark_spotify.analytics import graph as G

    rows = [(1, s) for s in range(3000)] + [
        (2, 1),
        (2, 2),
        (2, 9999),
        (3, 5),
        (3, 6),
    ]
    li = spark.createDataFrame(rows, "l_orderkey long, l_suppkey long")

    def edges(cap):
        monkeypatch.setattr(G, "TRI_GROUP_CAP", cap)
        df, grp = G._sampled_edges(li)
        out = {(r.u, r.v) for r in df.collect()}
        grp.unpersist()
        return out

    via_join = edges(100)  # hyper-order -> self-join path
    via_array = edges(10**6)  # same order -> array path
    assert via_join == via_array
    assert len(via_join) > 0
    # sampling still applied (~1/8 of ~4.5M pairs, not all of them)
    assert len(via_join) < 1_000_000


def _scores(spark):
    """Key 1: five rows with a two-way tie at the top; key 2: one row."""
    rows = [(1, 10, 0.5), (1, 11, 0.9), (1, 12, 0.9), (1, 13, 0.1),
            (1, 14, 0.7), (2, 20, 0.3)]
    return spark.createDataFrame(rows, "g int, id int, score double")


def test_top_k_ties_break_by_order_tiebreak(spark):
    from spark_spotify.operators.topk import top_k

    got = top_k(
        _scores(spark), ["g"], [F.desc("score"), F.asc("id")], 3
    ).filter(F.col("g") == 1)
    assert sorted((r.rank, r.id) for r in got.collect()) == [
        (1, 11), (2, 12), (3, 14)
    ]
    got = top_k(
        _scores(spark), ["g"], [F.desc("score"), F.desc("id")], 1
    ).filter(F.col("g") == 1)
    assert [r.id for r in got.collect()] == [12]


def test_top_k_small_group_keeps_all_rows_ranked_1_to_n(spark):
    from spark_spotify.operators.topk import top_k

    got = top_k(_scores(spark), ["g"], [F.desc("score"), F.asc("id")], 10)
    by_g: dict[int, list[int]] = {}
    for r in got.collect():
        by_g.setdefault(r.g, []).append(r.rank)
    assert sorted(by_g[1]) == [1, 2, 3, 4, 5]
    assert by_g[2] == [1]
    assert dict(got.dtypes)["rank"] == "int"


def test_top_k_limits_each_partition_before_the_shuffle(spark):
    """The keyed plan holds a Partial WindowGroupLimit below the
    Exchange: each map partition keeps at most k rows per key before
    anything shuffles, which is why no site salts its key by hand."""
    from spark_spotify.operators.topk import top_k

    df = spark.range(1000).select(
        (F.col("id") % 7).alias("g"), (F.col("id") % 13).alias("s"), "id"
    )
    t = top_k(df, ["g"], [F.desc("s"), F.asc("id")], 3)
    plan = t._sc._jvm.PythonSQLUtils.explainString(
        t._jdf.queryExecution(), "formatted"
    )
    tree = plan.split("== Physical Plan ==")[1].split("\n\n")[0].splitlines()
    exchange = next(i for i, ln in enumerate(tree) if "Exchange" in ln)
    partial = [
        i for i, ln in enumerate(tree) if "WindowGroupLimit" in ln
    ]
    # the formatted tree prints parents first: the partial limit is the
    # one below (after) the exchange
    assert any(i > exchange for i in partial), "\n".join(tree)
    assert "row_number(), 3, Partial" in plan
