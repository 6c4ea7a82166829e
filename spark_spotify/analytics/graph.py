"""Graph analytics over the relational fixture — one exact PageRank
power-iteration step on the customer→supplier trade graph.

Connected components (``operators/components.py``) cover the
contraction-style iterative family; this adds the OTHER canonical
distributed-graph shape: score propagation along out-edges with in-edge
aggregation — the inner loop of PageRank / label propagation / belief-ish
updates.  A full PageRank run iterates this step to a fixed point
(checkpointing every few iterations to truncate lineage, as
``dedup_cluster_assign`` already demonstrates); the step itself is the
per-iteration cost that matters at scale.

Determinism: ranks are parts-per-billion BIGINTs — the uniform prior is
``10^9 // out_degree`` (floor division) and the damping update is
``150_000_000 + (85 * inflow) // 100`` — integer arithmetic end-to-end, so
the hash oracle is exact (no float fold-order dependence).

Scale: the edge list shuffles once to dedup, once on source for degrees
(Exchange reuse co-locates the contribution join), once on target for the
inflow sum — all map-side-combinable aggregates; no vertex state lives on
the driver.  At 100 TB the edge list is bucketed by source so iterations
re-use the layout instead of re-shuffling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_spotify.sources.tables import load_table, table_rows

PR_SCALE = 1_000_000_000  # rank unit: parts-per-billion
PR_TOP_K = 20

# Vertex-state broadcast is only a hint when the state PROVABLY fits:
# 16M rows of two bigints is ~0.5 GB as a built hash relation — inside
# the guide's "a few hundred MB is usually fine" band and far under the
# 8 GB / 512M-row broadcast hard cap (§3.1 "the small side must actually
# fit").  Vertex state grows with SF (suppliers, customers+suppliers):
# at ~100 TB it is ~1e9 rows, where a forced broadcast would OOM the
# driver — past the bound the loop falls back to a plain equi-join
# (values identical; the hint never changes results, only the plan).
GRAPH_STATE_BROADCAST_ROWS = 16_000_000


def _state_broadcast(df: DataFrame, sf_dir: str, *tables: str) -> DataFrame:
    """Broadcast hint for loop vertex state, gated on the parquet-footer
    row counts of the base tables that bound it (a driver-side metadata
    read, zero Spark jobs).  Unknown size (object store) or over-bound
    sizes take the conservative branch: no hint."""
    n = 0
    for t in tables:
        r = table_rows(sf_dir, t)
        if r is None:
            return df
        n += r
    return F.broadcast(df) if n <= GRAPH_STATE_BROADCAST_ROWS else df


def q_pagerank_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    edges = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s")
        )
        .distinct()
    )
    # out-degree as a window count — one shuffle on the source key and no
    # degree join (a groupBy+join would shuffle the edge list twice more)
    from pyspark.sql import Window

    inflow = (
        edges.withColumn(
            "d", F.count(F.lit(1)).over(Window.partitionBy("c"))
        )
        .select("s", F.expr(f"{PR_SCALE} div d").alias("cb"))
        .groupBy("s")
        .agg(F.sum("cb").alias("cs"))
    )
    return (
        inflow.select(
            F.col("s").alias("supp_key"),
            (F.lit(150_000_000) + F.expr("85 * cs div 100"))
            .cast("bigint")
            .alias("rank_ppb"),
        )
        .orderBy(F.desc("rank_ppb"), F.asc("supp_key"))
        .limit(PR_TOP_K)
    )


TRI_SAMPLE_MOD = 8  # DOULION edge-sampling rate p = 1/8
TRI_GROUP_CAP = 1024  # per-order set size above which pairing leaves the array path

def _coin_sql(u: str, v: str) -> str:
    """The deterministic DOULION coin as a SQL predicate over an edge's
    endpoint expressions — usable both inside higher-order-function
    lambdas and as a column filter.  Reads TRI_SAMPLE_MOD at call time
    (tests pin it to 1 to disable sampling)."""
    return (
        f"cast(conv(substring(md5(concat(cast({u} as string), '-', "
        f"cast({v} as string))), 1, 8), 16, 10) as bigint) "
        f"% {TRI_SAMPLE_MOD} = 0"
    )


def _order_pairs(li: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Deduped undirected co-supply pairs (u < v) from a
    (l_orderkey, l_suppkey) relation — the UNSAMPLED twin of
    ``_sampled_edges``: per-order array pairing for bounded orders
    (measured 3-4× faster than a row self-join on the fixture — see
    ``_sampled_edges``), hyper-orders (> {TRI_GROUP_CAP} suppliers)
    diverted to the distributed self-join path.  Returns ``(pairs,
    grp)`` with ``grp`` the persisted per-order set aggregate; the
    caller unpersists it once the pair set is materialized."""
    grp = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_suppkey")).alias("ss")
    )
    grp = grp.persist()
    pairs_small = (
        grp.filter(F.size("ss") <= TRI_GROUP_CAP)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ss, (x, i) -> "
                    "transform(slice(ss, i + 2, "
                    "greatest(size(ss) - i - 1, 0)), "
                    "y -> struct(x AS u, y AS v))))"
                )
            ).alias("p")
        )
        .select("p.u", "p.v")
    )
    ex = (
        grp.filter(F.size("ss") > TRI_GROUP_CAP)
        .select("l_orderkey", F.explode("ss").alias("s"))
        .alias("a")
    )
    pairs_big = ex.join(
        ex.alias("b"),
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.s") < F.col("b.s")),
    ).select(F.col("a.s").alias("u"), F.col("b.s").alias("v"))
    return pairs_small.unionByName(pairs_big).distinct(), grp


def _sampled_edges(li: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Deduped, DOULION-sampled undirected co-supply edges (u < v) from a
    (l_orderkey, l_suppkey) relation.  Returns ``(edges, grp)`` where
    ``grp`` is the PERSISTED per-order set aggregate feeding both paths —
    the caller unpersists it once the edge set is materialized.  Two
    pair-generation paths split on per-order supplier-set size:

    - **array path** (size ≤ {TRI_GROUP_CAP}): one groupBy + per-order
      array pairing, with the sampling coin INSIDE the pairing lambda —
      each inner slice is filtered before ``flatten`` ever materializes
      the full C(k,2) pair array, so peak per-row memory is
      ~C(k,2)/p + O(k), not C(k,2).  3-4× faster than a self-join on
      the fixture's tiny orders.
    - **self-join path** (size > cap): the order's supplier set is
      exploded back to rows and pair generation becomes a distributed
      equi-join with the coin fused into the same stage — pairs stream
      through the filter instead of materializing inside ONE task's
      array.  A pathological 10^5-supplier order is still O(k²/p)
      EMITTED rows (the coin is a function of the pair, so no sampling
      scheme can dodge pair enumeration), but they stream to the dedup
      shuffle instead of sitting in a single 10^10-element array.

    Both paths apply the same pure-function coin, so
    filter-then-distinct ≡ distinct-then-filter and the union is
    path-invariant (property-tested at the cap boundary)."""
    grp = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_suppkey")).alias("ss")
    )
    grp = grp.persist()
    small = grp.filter(F.size("ss") <= TRI_GROUP_CAP)
    coin_p = _coin_sql("p.u", "p.v")
    pairs_small = small.select(
        F.explode(
            F.expr(
                "flatten(transform(ss, (x, i) -> "
                "filter(transform(slice(ss, i + 2, "
                "greatest(size(ss) - i - 1, 0)), "
                "y -> struct(x AS u, y AS v)), "
                f"p -> {coin_p})))"
            )
        ).alias("p")
    ).select("p.u", "p.v")
    ex = (
        grp.filter(F.size("ss") > TRI_GROUP_CAP)
        .select("l_orderkey", F.explode("ss").alias("s"))
        .alias("a")
    )
    pairs_big = (
        ex.join(
            ex.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.s") < F.col("b.s")),
        )
        .select(F.col("a.s").alias("u"), F.col("b.s").alias("v"))
        .filter(F.expr(_coin_sql("u", "v")))
    )
    return pairs_small.unionByName(pairs_big).distinct(), grp


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed triangle counting — DOULION edge sampling (Tsourakakis
    et al., KDD 2009) over DEGREE ORIENTATION (Schank & Wagner 2005),
    the third canonical graph shape after contraction (connected
    components) and propagation (PageRank).  Two independent scale
    levers compose:

    - **DOULION**: keep each undirected edge iff a hash of the pair
      mods to 0 (p = 1/{TRI_SAMPLE_MOD}; deterministic md5 coin, so the
      sample — and the oracle — is reproducible), count triangles
      EXACTLY on the sampled graph, estimate the full count as
      n_tri · p⁻³.  Cuts wedge-join work by ~p² on dense graphs (the
      co-supply graph here saturates toward complete, the worst case).
    - **Orientation**: direct each surviving edge from its
      (degree, id)-smaller endpoint, bounding per-vertex out-degree to
      O(√m); each triangle materializes as exactly ONE wedge + one
      closing edge, so the wedge join is O(m^1.5), not Σ deg².

    Graph: suppliers co-supplying the same order.  Three keyed shuffles
    after edge build: degree aggregate, wedge self-join on the oriented
    source, closing-edge join on the oriented pair.  Output: exact
    BIGINTs on the sampled graph + the integer DOULION estimate."""
    # pair generation via _sampled_edges: per-order array pairing with
    # the coin inside the lambda (measured 3-4x faster than a self-join
    # on the fixture's tiny orders), hyper-orders (> TRI_GROUP_CAP
    # suppliers) diverted to the distributed self-join path
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    und, grp = _sampled_edges(li)
    # three actions (triangle count, vertex count, edge count) read the
    # sampled edge set — persist it once instead of re-running the
    # pair-generation join per action (measured 6.7 s -> ~2 s at sf0.1)
    und = und.persist()
    deg = (
        und.select(F.col("u").alias("x"))
        .unionAll(und.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("x").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("x").alias("v"), F.col("d").alias("dv"))
    # orient by the (degree, id) total order — explicit, engine-portable
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = (
        und.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
            u_first.alias("uf"),
            "du",
            "dv",
        )
        .select(
            "src",
            "dst",
            # carry the endpoint order used for orientation so wedge
            # pairs can be canonicalized under the SAME total order
            F.when(F.col("uf"), F.col("dv"))
            .otherwise(F.col("du"))
            .alias("ddst"),
        )
    )
    # oriented feeds BOTH wedge sides and the closing-edge probe —
    # persist it too, or each consumer re-runs the degree joins
    oriented = oriented.persist()
    e1, e2 = oriented.alias("e1"), oriented.alias("e2")
    # wedge (src; x, y) with (x, y) canonical under (degree, id)
    x_first = (F.col("e1.ddst") < F.col("e2.ddst")) | (
        (F.col("e1.ddst") == F.col("e2.ddst"))
        & (F.col("e1.dst") < F.col("e2.dst"))
    )
    wedges = (
        e1.join(
            e2,
            (F.col("e1.src") == F.col("e2.src"))
            & (F.col("e1.dst") < F.col("e2.dst")),
        )
        .select(
            F.when(x_first, F.col("e1.dst"))
            .otherwise(F.col("e2.dst"))
            .alias("wx"),
            F.when(x_first, F.col("e2.dst"))
            .otherwise(F.col("e1.dst"))
            .alias("wy"),
        )
    )
    closing = oriented.select(
        F.col("src").alias("wx"), F.col("dst").alias("wy")
    )
    # job ORDER is load-bearing at scale: the wedge join must be the
    # action that materializes the persisted edge set, because the
    # cached partitioning is whatever AQE chose for the MATERIALIZING
    # job — und.count() first coalesces the distinct output to
    # count-sized partitions and the big self-join then starts from
    # that crippled layout (measured at the 10x corpus: 7.3 s
    # wedge-first vs 10.2 s count-first, 17.9 s with the counts
    # additionally overlapped).  The two cheap counts then read the
    # well-partitioned cache sequentially; overlapping them buys
    # nothing once the big job is done.
    n_tri = wedges.join(closing, ["wx", "wy"]).count()
    n_v = deg.count()
    n_e = und.count()
    oriented.unpersist()
    und.unpersist()
    grp.unpersist()
    return spark.createDataFrame(
        [(n_v, n_e, n_tri, n_tri * TRI_SAMPLE_MOD**3)],
        "n_vertices long, n_edges long, n_triangles long,"
        " est_triangles long",
    )


PR_ITERS = 5  # fixed power-iteration count (also unrolled in the oracle)
# lineage-truncation cadence: vertex state is tiny and its plan grows
# LINEARLY per iteration (each broadcast consumes the previous round
# once), so truncating every 2 rounds was pure overhead at this
# horizon — measured back-to-back at sf0.1: cadence 2 = 5.52 s,
# cadence 4 = 5.13 s, none = 5.08 s, results bit-identical.  Keep the
# machinery (mandatory at real iteration counts where planner time
# compounds), pay at most one mid-loop materialization at this horizon.
PR_CKPT_EVERY = 4


def q_pagerank_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL PageRank — {PR_ITERS} exact power iterations to a converged
    ranking over the undirected co-supply graph (each undirected edge
    doubled into two directed edges), completing the propagation family:
    ``graph_pagerank_step`` is the per-iteration cost, this is the LOOP —
    the driver-orchestrated iterative-algorithm discipline every
    distributed graph/ML workload on Spark needs:

    - the edge list (with source out-degree attached) is built ONCE and
      persisted; iterations never re-shuffle or re-derive it,
    - per iteration the vertex-state relation joins the edges and
      re-aggregates — vertex state here is supplier-sized (orders of
      magnitude smaller than the edge list), so Catalyst broadcasts it
      and the only shuffle per iteration is the map-side-combined
      inflow sum,
    - lineage is truncated every {PR_CKPT_EVERY} iterations via ``stable_checkpoint``
      (localCheckpoint, upgraded to reliable when the session has a
      checkpoint dir) — without it the plan doubles per iteration and
      optimizer time, not data, becomes the bottleneck (the classic
      iterative-Spark failure mode).

    Determinism: integer ppb arithmetic end-to-end exactly as the step
    gate — init 10^9, contribution ``r div d`` (floor), update
    ``150e6 + 85*inflow div 100`` — so the unrolled-CTE oracle is exact.

    At 100 TB: the co-supply edge list is bucketed by ``src`` so the
    per-iteration join co-locates; vertex state lives in the cluster
    (broadcast here only because suppliers << edges), and the checkpoint
    cadence bounds both lineage depth and recovery cost."""
    from pyspark.sql import Window

    from spark_spotify.functions.checkpoint import stable_checkpoint

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    # pair generation via the per-order array pairing (_order_pairs) —
    # the same measured 3-4× win over the row self-join the triangle
    # gate already banked; collect_set dedups (orderkey, suppkey)
    # repeats, so no up-front distinct pass over lineitem is needed
    und, grp = _order_pairs(li)
    e = und.unionAll(und.select(F.col("v").alias("u"), F.col("u").alias("v")))
    e = e.select(F.col("u").alias("src"), F.col("v").alias("dst"))
    # out-degree as a window count over the edge list — ONE shuffle on
    # src attaches d to every edge, where the groupBy + equi-join form
    # shuffled the edge list twice more (guide §2.4: two operations
    # keyed the same way share one exchange)
    ed = e.withColumn(
        "d", F.count(F.lit(1)).over(Window.partitionBy("src"))
    ).persist()
    ranks = (
        ed.select(F.col("src").alias("v"))
        .distinct()
        .select("v", F.lit(PR_SCALE).cast("bigint").alias("r"))
    )
    for i in range(PR_ITERS):
        # vertex state is supplier-sized (orders of magnitude under the
        # edge list): broadcast it explicitly so no iteration ever
        # falls back to shuffling the persisted edge list — but ONLY
        # when the supplier footer count proves the state fits (§3.1);
        # past the bound the join of ranks against the src-partitioned
        # persisted edge list reuses ed's layout instead
        ranks = (
            ed.join(
                _state_broadcast(ranks, sf_dir, "supplier"),
                ed["src"] == ranks["v"],
            )
            .select("dst", F.expr("r div d").alias("cb"))
            .groupBy("dst")
            .agg(F.sum("cb").alias("inflow"))
            .select(
                F.col("dst").alias("v"),
                (F.lit(150_000_000) + F.expr("85 * inflow div 100"))
                .cast("bigint")
                .alias("r"),
            )
        )
        if (i + 1) % PR_CKPT_EVERY == 0 and (i + 1) < PR_ITERS:
            ranks = stable_checkpoint(ranks)
    out = (
        stable_checkpoint(
            ranks.select(
                F.col("v").alias("supp_key"), F.col("r").alias("rank_ppb")
            )
        )
        .orderBy(F.desc("rank_ppb"), F.asc("supp_key"))
        .limit(PR_TOP_K)
    )
    ed.unpersist()
    grp.unpersist()
    return out


LP_ROUNDS = 3  # synchronous label-propagation rounds
LP_TOP_K = 20
# the loop below carries no mid-loop checkpoint: the pagerank cadence
# point (round PR_CKPT_EVERY) lies past the horizon.  Raising LP_ROUNDS
# to it needs a re-measure of the plan depth first.
assert LP_ROUNDS < PR_CKPT_EVERY, "re-measure LP lineage truncation"


def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label propagation (community detection, Raghavan et
    al.) over the bipartite customer↔supplier trade graph — the THIRD
    canonical distributed-graph shape after score propagation
    (pagerank) and contraction (connected components): each round every
    node adopts the MAJORITY label among its neighbors, ties to the
    smallest label, for a fixed {LP_ROUNDS} rounds.  Fully
    deterministic (labels are node ids, counts are integers, one total
    tie order), so the oracle replays the loop as an unrolled CTE chain
    and must agree exactly — no float anywhere.

    Scale shape per round: one edge⋈label join keyed on the neighbor
    (the edge list's layout key at 100 TB) + two map-side-combinable
    aggregations ((node, label) count, then per-node max_by argmax) —
    label state shuffles one row per node, never the edge list; the
    {LP_ROUNDS}-round plan stays under the pagerank loop's checkpoint
    cadence ({PR_CKPT_EVERY} rounds), so no mid-loop cut runs.
    Customer and supplier keys live in one node-id space via even/odd
    interleaving."""
    from spark_spotify.functions.checkpoint import stable_checkpoint

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    cs = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            (F.col("o_custkey") * 2).alias("u"),
            (F.col("l_suppkey") * 2 + 1).alias("v"),
        )
        .distinct()
    )
    edges = stable_checkpoint(
        cs.unionByName(
            cs.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
    )
    labels = (
        edges.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("lab", F.col("node"))
    )
    for _ in range(LP_ROUNDS):
        # label state is node-sized (orders of magnitude under the
        # edge list): broadcast it explicitly so no round shuffles the
        # checkpointed edge relation, whose RDD-scan leaf has no size
        # statistics for the planner to pick the broadcast itself
        # (§3.1) — gated on the customer+supplier footer counts that
        # bound the node space, since label state grows with SF.
        # Measured at sf0.1: per-round checkpoint 4.26 s, broadcast
        # with no mid-loop cut 3.79 s, results bit-identical.
        lb = _state_broadcast(labels, sf_dir, "customer", "supplier")
        nb = edges.join(lb, edges["v"] == lb["node"]).select("u", "lab")
        new = (
            nb.groupBy("u", "lab")
            .agg(F.count(F.lit(1)).alias("n"))
            .groupBy("u")
            .agg(
                F.max_by(
                    "lab", F.struct(F.col("n"), -F.col("lab"))
                ).alias("lab")
            )
        )
        labels = new.select(F.col("u").alias("node"), "lab")
    return (
        labels.groupBy("lab")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .select(F.col("lab").alias("community"), "n_members")
        .orderBy(F.desc("n_members"), F.asc("community"))
        .limit(LP_TOP_K)
    )


KHOP_ROUNDS = 3  # BFS frontier expansions
KHOP_SEED_MAX = 5  # seed: customers with c_custkey <= this


def q_khop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-hop reachability (BFS frontier expansion with a visited set)
    over the customer↔supplier trade graph — the fourth canonical
    distributed-graph shape here (after score propagation, contraction,
    and label propagation), and the one recursive SQL expresses with
    ``WITH RECURSIVE``: Spark has no recursive CTE, so the loop is a
    driver-side iteration of frontier⋈edges joins with an anti-join
    against the visited set, checkpointed per hop.  Seed: customers
    with key ≤ {KHOP_SEED_MAX}; output: per hop distance, how many
    customer and supplier nodes are first reached at that distance.

    Scale shape per hop: one edges⋈frontier join keyed on the source
    (frontier is delta-sized — broadcast when small, co-partitioned
    with the edge layout otherwise) + one anti-join against visited
    (node-table-sized, never edge-sized).  Visited and frontier are
    one row per node; the edge list never shuffles on anything but its
    layout key.  Exactly GraphFrames' BFS dataflow, spelled in plain
    DataFrames."""
    from spark_spotify.functions.checkpoint import stable_checkpoint

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    cs = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            (F.col("o_custkey") * 2).alias("u"),
            (F.col("l_suppkey") * 2 + 1).alias("v"),
        )
        .distinct()
    )
    edges = stable_checkpoint(
        cs.unionByName(
            cs.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
    )
    frontier = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= KHOP_SEED_MAX)
        .select((F.col("c_custkey") * 2).alias("node"))
        .withColumn("dist", F.lit(0))
    )
    reached = stable_checkpoint(frontier)
    for hop in range(1, KHOP_ROUNDS + 1):
        nxt = (
            edges.join(
                frontier.select(F.col("node").alias("u")), "u"
            )
            .select(F.col("v").alias("node"))
            .distinct()
            .join(reached.select("node"), "node", "left_anti")
            .withColumn("dist", F.lit(hop))
        )
        frontier = stable_checkpoint(nxt)
        reached = stable_checkpoint(reached.unionByName(frontier))
    return (
        reached.groupBy("dist")
        .agg(
            F.sum(
                ((F.col("node") % 2) == 0).cast("long")
            ).alias("n_customers"),
            F.sum(
                ((F.col("node") % 2) == 1).cast("long")
            ).alias("n_suppliers"),
        )
        .orderBy("dist")
    )


QUERIES = {
    "graph_pagerank_step": q_pagerank_step,
    "graph_pagerank_iter": q_pagerank_iter,
    "graph_triangle_count": q_triangle_count,
    "graph_label_propagation": q_label_propagation,
    "graph_khop_reach": q_khop_reach,
}

def _pagerank_iter_oracle() -> str:
    """Unrolled-CTE replica of q_pagerank_iter: r0..r{PR_ITERS}, each
    iteration one join+group — DuckDB's ``//`` floors positives exactly
    like Spark's ``div``."""
    ctes = [
        "li AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem)",
        """und AS (
  SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
)""",
        """e AS (
  SELECT u AS src, v AS dst FROM und
  UNION ALL SELECT v, u FROM und
)""",
        "deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY src)",
        f"r0 AS (SELECT src AS v, CAST({PR_SCALE} AS BIGINT) AS r FROM deg)",
    ]
    for i in range(1, PR_ITERS + 1):
        ctes.append(
            f"""r{i} AS (
  SELECT e.dst AS v,
         CAST(150000000 + (85 * SUM(r{i - 1}.r // deg.d)) // 100
              AS BIGINT) AS r
  FROM e
  JOIN r{i - 1} ON e.src = r{i - 1}.v
  JOIN deg ON e.src = deg.src
  GROUP BY e.dst
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT v AS supp_key, r AS rank_ppb FROM r{PR_ITERS}
ORDER BY rank_ppb DESC, supp_key ASC
LIMIT {PR_TOP_K}
"""
    )


def _label_prop_oracle() -> str:
    """Unrolled-CTE replica of q_label_propagation's {LP_ROUNDS}
    synchronous rounds — majority label, smallest-label tie-break,
    integer-exact throughout."""
    ctes = [
        """cs AS (
  SELECT DISTINCT o.o_custkey * 2 AS u, l.l_suppkey * 2 + 1 AS v
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)""",
        "e AS (SELECT u, v FROM cs UNION ALL SELECT v AS u, u AS v FROM cs)",
        "l0 AS (SELECT DISTINCT u AS node, u AS lab FROM e)",
    ]
    for t in range(1, LP_ROUNDS + 1):
        ctes.append(
            f"""c{t} AS (
  SELECT e.u, l.lab, COUNT(*) AS n
  FROM e JOIN l{t - 1} l ON e.v = l.node
  GROUP BY e.u, l.lab
),
l{t} AS (
  SELECT u AS node, lab
  FROM (SELECT *, row_number() OVER (
          PARTITION BY u ORDER BY n DESC, lab ASC) AS rn
        FROM c{t})
  WHERE rn = 1
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT lab AS community, CAST(COUNT(*) AS BIGINT) AS n_members
FROM l{LP_ROUNDS} GROUP BY lab
ORDER BY n_members DESC, community ASC
LIMIT {LP_TOP_K}
"""
    )


def _khop_oracle() -> str:
    """Unrolled BFS replica of q_khop_reach — frontier per hop minus
    everything already reached."""
    ctes = [
        """cs AS (
  SELECT DISTINCT o.o_custkey * 2 AS u, l.l_suppkey * 2 + 1 AS v
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)""",
        "e AS (SELECT u, v FROM cs UNION ALL SELECT v AS u, u AS v FROM cs)",
        f"""f0 AS (
  SELECT c_custkey * 2 AS node FROM customer
  WHERE c_custkey <= {KHOP_SEED_MAX}
)""",
        "r0 AS (SELECT node, 0 AS dist FROM f0)",
    ]
    for h in range(1, KHOP_ROUNDS + 1):
        ctes.append(
            f"""f{h} AS (
  SELECT DISTINCT e.v AS node
  FROM e JOIN f{h - 1} ON e.u = f{h - 1}.node
  WHERE e.v NOT IN (SELECT node FROM r{h - 1})
),
r{h} AS (
  SELECT node, dist FROM r{h - 1}
  UNION ALL SELECT node, {h} AS dist FROM f{h}
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT dist,
       CAST(SUM(CASE WHEN node % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_customers,
       CAST(SUM(CASE WHEN node % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_suppliers
FROM r{KHOP_ROUNDS} GROUP BY dist ORDER BY dist
"""
    )


ORACLE = {
    "graph_khop_reach": _khop_oracle(),
    "graph_label_propagation": _label_prop_oracle(),
    "graph_pagerank_iter": _pagerank_iter_oracle(),
    "graph_triangle_count": f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
und0 AS (
  SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
),
und AS (
  SELECT u, v FROM und0
  WHERE (CAST(('0x' || substr(md5(CAST(u AS VARCHAR) || '-'
                                  || CAST(v AS VARCHAR)), 1, 8))
              AS BIGINT) % {TRI_SAMPLE_MOD}) = 0
),
deg AS (
  SELECT x, COUNT(*) AS d FROM (
    SELECT u AS x FROM und UNION ALL SELECT v FROM und
  ) GROUP BY x
),
o AS (
  SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v)
              THEN u ELSE v END AS src,
         CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v)
              THEN v ELSE u END AS dst,
         CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v)
              THEN dv.d ELSE du.d END AS ddst
  FROM und
  JOIN deg du ON und.u = du.x
  JOIN deg dv ON und.v = dv.x
),
w AS (
  SELECT CASE WHEN e1.ddst < e2.ddst
                   OR (e1.ddst = e2.ddst AND e1.dst < e2.dst)
              THEN e1.dst ELSE e2.dst END AS wx,
         CASE WHEN e1.ddst < e2.ddst
                   OR (e1.ddst = e2.ddst AND e1.dst < e2.dst)
              THEN e2.dst ELSE e1.dst END AS wy
  FROM o e1 JOIN o e2 ON e1.src = e2.src AND e1.dst < e2.dst
)
SELECT CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_vertices,
       CAST((SELECT COUNT(*) FROM und) AS BIGINT) AS n_edges,
       CAST((SELECT COUNT(*) FROM w
             JOIN o ON w.wx = o.src AND w.wy = o.dst) AS BIGINT)
         AS n_triangles,
       CAST((SELECT COUNT(*) FROM w
             JOIN o ON w.wx = o.src AND w.wy = o.dst)
            * {TRI_SAMPLE_MOD ** 3} AS BIGINT) AS est_triangles
""",
    "graph_pagerank_step": f"""
WITH e AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
),
deg AS (SELECT c, COUNT(*) AS d FROM e GROUP BY c),
inflow AS (
  SELECT e.s, CAST(SUM({PR_SCALE} // deg.d) AS BIGINT) AS cs
  FROM e JOIN deg ON e.c = deg.c
  GROUP BY e.s
)
SELECT s AS supp_key,
       CAST(150000000 + (85 * cs) // 100 AS BIGINT) AS rank_ppb
FROM inflow
ORDER BY rank_ppb DESC, supp_key ASC
LIMIT {PR_TOP_K}
""",
}
