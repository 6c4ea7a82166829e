"""Physical-plan assertions — the 100 TB efficiency gates.

Correctness is the oracle harness's job; these tests pin the *plan shapes*
that make the same queries viable at cluster scale: filter pushdown reaching
the parquet scan, column pruning, broadcast of dim tables in the star join,
whole-stage codegen on hot paths, partial (map-side) aggregation, and
partition pruning on a partitioned warehouse write.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from spark_spotify.registry import QUERIES
from spark_spotify.sources.tables import load_table
from spark_spotify.sources.warehouse import read_partitioned, write_partitioned


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    plan = _plan(df)
    assert "PushedFilters: [" in plan
    assert "o_orderstatus" in plan.split("PushedFilters:")[1].split("]")[0]


def test_column_pruning(spark, sf_dir):
    df = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    plan = _plan(df)
    scan_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in scan_schema
    assert "l_comment" not in scan_schema


def test_star_join_broadcasts_dims(spark, sf_dir):
    plan = _plan(QUERIES["etl_fact_star"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # every dim side must broadcast


def test_rollup_has_partial_aggregation(spark, sf_dir):
    plan = _plan(QUERIES["agg_rollup_revenue"](spark, sf_dir))
    # partial + final HashAggregate pair around the exchange
    assert plan.count("HashAggregate") >= 2
    assert "Expand" in plan  # rollup grouping-sets expansion


def test_relational_query_uses_codegen(spark, sf_dir):
    df = QUERIES["rel_pricing_summary"](spark, sf_dir)
    df.collect()  # finalize the AQE plan; codegen marks appear post-exec
    simple = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )
    # "*(n)" marks a WholeStageCodegen stage in simple mode
    assert "*(" in simple


def test_salted_join_shuffles_on_key_and_salt(spark, sf_dir):
    plan = _plan(QUERIES["op_salted_segment_value"](spark, sf_dir))
    assert "_salt" in plan  # salt participates in the join keys


def test_range_join_broadcasts_tier_table(spark, sf_dir):
    plan = _plan(QUERIES["rel_value_range_join"](spark, sf_dir))
    # non-equi join against the tiny tier table must be a broadcast nested
    # loop (no shuffle of the fact side), built from a literal LocalRelation
    # (never the Python-RDD conversion path)
    assert "BroadcastNestedLoopJoin" in plan
    assert "ExistingRDD" not in plan


def test_curation_split_is_scan_only(spark, sf_dir):
    plan = _plan(QUERIES["curate_split_assign"](spark, sf_dir))
    # hash-split assignment must stay shuffle-free: pure per-row scan work
    assert "Exchange" not in plan


def test_rolling_window_preaggregates_by_day(spark, sf_dir):
    plan = _plan(QUERIES["ana_rolling_value_7d"](spark, sf_dir))
    # the unpartitioned RANGE window must consume the daily pre-aggregate
    # (the formatted tree prints parents first, so Window appears above the
    # HashAggregate it reads from), never raw events
    assert "Window" in plan and "HashAggregate" in plan
    assert plan.index("Window") < plan.index("HashAggregate")


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    import re

    plan = _plan(QUERIES["op_bucketed_join"](spark, sf_dir))
    # the fact side is bucketed on the join/agg key: no SHUFFLE exchange may
    # appear anywhere — the aggregation reuses the bucket partitioning paid
    # at write time.  A BroadcastExchange of the small dim side is fine
    # (broadcast beats even a co-located SMJ); shuffle nodes print as bare
    # "(n) Exchange", broadcasts as "(n) BroadcastExchange".
    assert re.search(r"\(\d+\) Exchange\b", plan) is None


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    path = str(tmp_path / "events_by_type")
    ev = load_table(spark, sf_dir, "events")
    write_partitioned(ev, path, ["event_type"])
    back = read_partitioned(spark, path).filter(
        F.col("event_type") == "purchase"
    )
    plan = _plan(back)
    pf = plan.split("PartitionFilters:")[1].split("]")[0]
    assert "event_type" in pf
    # pruned read returns exactly the matching rows
    want = ev.filter(F.col("event_type") == "purchase").count()
    assert back.count() == want


def test_partitioned_write_one_file_per_partition(spark, sf_dir, tmp_path):
    import glob

    path = str(tmp_path / "events_layout")
    write_partitioned(
        load_table(spark, sf_dir, "events"), path, ["event_type"]
    )
    for d in glob.glob(f"{path}/event_type=*"):
        files = glob.glob(f"{d}/*.parquet")
        assert len(files) == 1, d


def test_cluster_assign_restores_shuffle_conf(spark, sf_dir):
    """connected_components scopes spark.sql.shuffle.partitions to the edge
    graph for its rounds; the session value must be restored afterwards
    (and under failure — the restore is in a finally)."""
    from spark_spotify.registry import QUERIES

    before = spark.conf.get("spark.sql.shuffle.partitions")
    QUERIES["dedup_cluster_assign"](spark, sf_dir).count()
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_domain_mix_broadcasts_rates(spark, sf_dir):
    """The per-source acceptance-rate table must come back onto the scan as
    a broadcast join — a shuffled join here would shuffle the corpus."""
    from spark_spotify.registry import QUERIES

    plan = _plan(QUERIES["curate_domain_mix"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_nullable_dim_profile_broadcasts_dim(spark, sf_dir):
    """The customer-derived dim must broadcast onto the events fact — the
    artist-gender dashboard shape must never shuffle the fact side for a
    dim-sized join."""
    plan = _plan(QUERIES["ana_nullable_dim_profile"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bm25_stats_broadcast_no_corpus_shuffle(spark, sf_dir):
    """The one-row corpus-stats relation must broadcast back onto the
    per-doc tf rows; a shuffled join here would shuffle the corpus for a
    single-row lookup."""
    plan = _plan(QUERIES["text_bm25_topk"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_kmeans_assignment_broadcasts_centroids(spark, sf_dir):
    """K centroids must broadcast for the assignment cross join — the
    corpus side stays scan-parallel with no shuffle before the (cell, dim)
    aggregation."""
    plan = _plan(QUERIES["sim_kmeans_step"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_sql_text_interface_matches_dataframe(spark, sf_dir):
    """The engine's tables register as views and the same query expressed as
    Spark SQL TEXT returns identical results to the DataFrame formulation —
    the API-parity contract for SQL-first users of the reference."""
    from spark_spotify.sources.tables import register_views

    register_views(spark, sf_dir)
    sql = spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
                 AS sum_qty,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= DATE '2000-12-01'
        GROUP BY l_returnflag, l_linestatus
        """
    )
    df = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") <= "2000-12-01")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,4)"))
            .cast("double")
            .alias("sum_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )
    key = lambda r: (r["l_returnflag"], r["l_linestatus"])  # noqa: E731
    assert sorted(map(tuple, sql.collect())) == sorted(
        map(tuple, df.collect())
    )


def test_bench_list_resolves_in_registry():
    import bench

    missing = [q for q in bench.BENCH_QUERIES if q not in QUERIES]
    assert not missing, missing
    dupes = {
        q for q in bench.BENCH_QUERIES if bench.BENCH_QUERIES.count(q) > 1
    }
    assert not dupes, dupes
    # drift guard: every registered query must be benched — a new registry
    # entry without a bench row decays per-query perf coverage silently
    unbenched = sorted(set(QUERIES) - set(bench.BENCH_QUERIES))
    assert not unbenched, unbenched


def test_tfidf_broadcasts_idf(spark, sf_dir):
    """The idf table is vocabulary-sized and must ride in as a broadcast —
    a shuffle join of tf against idf would re-shuffle the corpus-sized tf
    relation on token."""
    plan = _plan(QUERIES["text_tfidf_topk"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_cube_is_single_expand_single_shuffle(spark, sf_dir):
    """CUBE computes all four grouping sets in one Expand + one exchange —
    the whole point over four separate aggregation scans."""
    import re

    plan = _plan(QUERIES["agg_cube_sales"](spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Expand", plan)) == 1
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1


def test_unpivot_adds_no_exchange(spark, sf_dir):
    """Unpivot is a map-side Expand: the only exchange in the plan is the
    upstream groupBy's — melting the wide block must not add one."""
    import re

    plan = _plan(QUERIES["ana_unpivot_metrics"](spark, sf_dir))
    # the upstream aggregate pays its shuffles (two: count-distinct is a
    # two-phase aggregate); the Expand from unpivot sits ABOVE them all in
    # the tree — no exchange between the aggregate output and the melt
    tree = plan.split("== Physical Plan ==")[1].split("(1) ")[0]
    expand_line = next(
        i for i, ln in enumerate(tree.splitlines()) if "Expand" in ln
    )
    exchange_lines = [
        i for i, ln in enumerate(tree.splitlines())
        if re.search(r"Exchange\b", ln)
    ]
    assert exchange_lines and all(expand_line < i for i in exchange_lines)


def test_multiprobe_broadcasts_probe_ring(spark, sf_dir):
    """The (n_planes + 1)-row probe set joins in as a broadcast; the
    corpus side is looked up by bucket, never shuffled."""
    plan = _plan(QUERIES["sim_ann_lsh_multiprobe"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_semantic_dedup_pair_join_is_cell_keyed(spark, sf_dir):
    """SemDeDup's whole scale story: centroid assignment broadcasts the K
    centroids (no corpus shuffle), and the within-cluster pair join is an
    equi-join keyed on the cell id — never a cartesian over the corpus."""
    plan = _plan(QUERIES["dedup_semantic"](spark, sf_dir, materialize=False))
    assert "BroadcastNestedLoopJoin" in plan  # K-centroid assignment
    assert "CartesianProduct" not in plan
    # the a.cell = b.cell pair join resolves to a hash equi-join
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan


def test_quality_lr_is_scan_side_partial_agg(spark, sf_dir):
    """Hashing-trick scoring must stay a scan-side expression with map-side
    combine: the doc_id exchange plus the deliberate input fan-out
    (round-robin over INPUT rows, pre-explosion — the single-row-group
    parallelism fix), partial HashAggregate below the agg exchange."""
    plan = _plan(QUERIES["text_quality_lr"](spark, sf_dir))
    tree = plan.split("== Physical Plan ==")[1].split("(1) ")[0]
    assert tree.count("Exchange") == 2  # fan-out + doc_id agg, nothing else
    assert "HashAggregate" in tree


def test_bloom_prune_join_injects_runtime_filter(spark, sf_dir):
    """The large×large selective join must carry Catalyst's runtime Bloom
    filter: a bloom_filter_agg over the filtered orders keys and a
    might_contain probe pushed onto the lineitem side — the semi-join
    reduction that keeps the fact shuffle small when nothing broadcasts."""
    plan = _plan(QUERIES["op_bloom_prune_join"](spark, sf_dir))
    assert "bloom_filter_agg" in plan
    assert "might_contain" in plan
    # and the conf scope must not leak into the session
    assert (
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold") != "-1"
    )


def test_regex_extractions_run_once_per_row(spark, sf_dir):
    """The one-element-explode barrier in q_text_token_regex / q_pii_scan
    exists solely so Catalyst's projection collapse cannot inline the
    regexp_extract_all into every downstream reference (measured 2-4x
    per-row regex re-execution without it).  That barrier leans on the
    optimizer's CURRENT inability to collapse through a Generate node — if
    a future Spark version learns to, correctness holds but the regex
    silently multiplies.  Pin the invariant: each pattern appears exactly
    once in the physical plan (token profile: 1 regex; PII scan: 3
    patterns, each once — not 6)."""
    plan = _plan(QUERIES["text_token_regex"](spark, sf_dir))
    assert plan.count("regexp_extract_all") == 1, plan.count(
        "regexp_extract_all"
    )
    plan = _plan(QUERIES["text_pii_scan"](spark, sf_dir))
    assert plan.count("regexp_extract_all") == 3, plan.count(
        "regexp_extract_all"
    )


def test_global_shuffle_ranks_within_shard_only(spark, sf_dir):
    """The shuffle rank must partition by shard — one bounded sort per
    shard, no global single-partition Window."""
    plan = _plan(QUERIES["curate_global_shuffle"](spark, sf_dir))
    # rank exchange is hashpartitioning on shard, never a SinglePartition
    assert "SinglePartition" not in plan
    assert "hashpartitioning(shard" in plan


def test_prefilter_ann_pushes_label_to_scan(spark, sf_dir):
    """The pre-filter vector search must push the label literal into the
    parquet scan (the strategy's whole point) — a join-derived predicate
    would evaluate after the read."""
    plan = _plan(QUERIES["sim_ann_prefilter_topk"](spark, sf_dir))
    assert "EqualTo(label," in plan


def test_profile_columns_keeps_melt_shape(spark, sf_dir):
    """The profiler must keep the melt shape: no Expand (the
    multi-DISTINCT rewrite that amplified the stream column-fold and
    dragged every aggregate into one sorted pipeline — measured 5x
    slower), and the exact-distinct branch must stay hash-aggregated
    (SortAggregate is tolerated only for the 6-group stats branch,
    whose string min/max buffers cannot hash-agg)."""
    import re

    plan = _plan(QUERIES["etl_profile_columns"](spark, sf_dir))
    assert "Expand" not in plan
    assert "HashAggregate" in plan
    # node lines look like "(5) SortAggregate"; the details section
    # repeats each name, so count node lines only
    nodes = re.findall(r"\(\d+\) SortAggregate", plan)
    assert len(nodes) <= 2, nodes  # stats partial+final only


def test_triangle_count_avoids_cartesian_wedges(spark, sf_dir):
    """The wedge stage must stay a keyed equi-join on the oriented
    source (the orientation's whole point) — a planner regression to
    CartesianProduct/BroadcastNestedLoop would be the O(m^2) shape."""
    from spark_spotify.analytics import graph as G
    from spark_spotify.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    # reproduce the oriented-edge relation cheaply, then the wedge join
    grp = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_suppkey")).alias("ss")
    )
    pairs = grp.select(
        F.explode(
            F.expr(
                "flatten(transform(ss, (x, i) -> transform(slice(ss,"
                " i + 2, greatest(size(ss) - i - 1, 0)), y ->"
                " struct(x AS u, y AS v))))"
            )
        ).alias("p")
    ).select(F.col("p.u").alias("src"), F.col("p.v").alias("dst"))
    e1, e2 = pairs.alias("e1"), pairs.alias("e2")
    wedges = e1.join(
        e2,
        (F.col("e1.src") == F.col("e2.src"))
        & (F.col("e1.dst") < F.col("e2.dst")),
    )
    plan = _plan(wedges)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_asof_join_is_union_window_not_pair_join(spark, sf_dir):
    """The as-of join is the union + ordered-window rewrite: NO join
    operator anywhere in the plan (the inequality-join alternative
    materializes every event x earlier-purchase pair — quadratic on a
    frequent-buyer key), and exactly two exchanges: the purchase
    pre-aggregation on (user_id, ts) and the per-user window sort."""
    import re

    plan = _plan(QUERIES["op_asof_join"](spark, sf_dir))
    phys = plan.split("== Physical Plan ==")[1]
    assert "Join" not in phys
    assert len(re.findall(r"\(\d+\) Exchange\b", phys)) == 2


def test_pagerank_iter_lineage_truncated(spark, sf_dir):
    """The iterative PageRank's returned plan must be the top-k over the
    FINAL checkpoint — no per-iteration joins, exchanges, or scans may
    survive into it.  Without the stable_checkpoint cadence the plan
    grows a join+agg pair per iteration (optimizer time explodes with
    iteration count — the classic iterative-Spark failure mode); with
    it, the physical plan is a TakeOrderedAndProject over a
    checkpointed RDD scan regardless of PR_ITERS."""
    plan = _plan(QUERIES["graph_pagerank_iter"](spark, sf_dir))
    phys = plan.split("== Physical Plan ==")[1]
    assert "Scan ExistingRDD" in phys
    assert "TakeOrderedAndProject" in phys
    assert "Join" not in phys
    assert "HashAggregate" not in phys


def test_dpp_join_prunes_fact_scan(spark, sf_dir, tmp_path):
    """Dynamic partition pruning: the fact scan's PartitionFilters carry
    the runtime dim-derived subquery, and only the dim-matching
    partitions' rows come back."""
    from spark_spotify.sources.warehouse import (
        read_partitioned,
        write_partitioned,
    )

    path = str(tmp_path / "events_dpp")
    ev = load_table(spark, sf_dir, "events")
    write_partitioned(
        ev.select("event_id", "value", "event_type"), path, ["event_type"]
    )
    fact = read_partitioned(spark, path)
    dim = (
        ev.select("event_type")
        .distinct()
        .filter(F.length("event_type") % 2 == 0)
    )
    joined = fact.join(dim, "event_type", "inner")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan
    want = ev.join(dim, "event_type", "inner").count()
    assert joined.count() == want


def test_ivf_queries_run_no_window_over_the_assignment(spark, sf_dir):
    """IVF cell assignment is the shared map-side-combinable argmax
    (``assign_cells``), and the ANN shortlists are global top-k's: no
    Window runs over the n·K scored (vector, centroid) relation, so the
    embedding arrays never shuffle through a window."""
    for name in ("sim_ann_ivf_topk", "sim_ann_ivfpq_topk"):
        plan = _plan(QUERIES[name](spark, sf_dir))
        assert "Window" not in plan, name
        assert "BroadcastNestedLoopJoin" in plan, name
