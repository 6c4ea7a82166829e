"""Vector similarity search over the embeddings table.

Brute-force cosine top-k — the exact baseline for ANN (BASELINE.json
extension operator).  The dot product is a left-fold over zipped double
arrays (``zip_with`` + ``aggregate``), evaluated JVM-side; the anchor vector
is a one-row broadcast cross join, so the big side streams through a single
narrow stage.

Determinism: float->double casts are exact and both Spark's ``aggregate`` and
DuckDB's ``list_reduce`` fold left-to-right, so both engines produce the same
64-bit cosine; results round to 6dp and tie-break on vec_id.

Scale path (round 2+): LSH / IVF bucketing — random-hyperplane signatures via
the same fold primitives, bucket-join candidates, exact re-rank — turns the
O(N) scan per query into O(N/buckets); brute force here is the correctness
oracle for it.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_spotify.functions.checkpoint import stable_checkpoint
from spark_spotify.operators.topk import top_k
from spark_spotify.sources.tables import fan_out, load_table
from spark_spotify.warehouse import path_rows

ANCHOR_ID = 0
TOP_K = 10


EMB_DIM = 64

# SQL fragment for the scan-side array<float> -> array<double> view
E_SQL = "cast(embedding as array<double>)"


def _dot(a: str, b: str, dim: int = EMB_DIM) -> Column:
    """Left-associated unrolled dot product over fixed-width vectors,
    built as ONE SQL string -> one py4j call.

    Two pitfalls this dodges, both measured on the bench: Spark's array
    higher-order functions (``zip_with``/``aggregate``) are interpreted,
    not whole-stage-codegen'd (~6× slower than unrolled arithmetic); and
    composing the unrolled chain from PySpark Column operators costs ~190
    py4j round-trips per dot (~5 s of driver time per query).  Addition
    order is exactly the oracle's left fold from 0.0 (IEEE: 0.0 + x0 ==
    x0), so the 64-bit result is bit-identical to DuckDB's
    ``list_reduce``.  ``a``/``b`` are SQL fragments naming array<double>
    columns (0-indexed with [] in Spark SQL)."""
    return F.expr(
        " + ".join(f"({a}[{i}] * {b}[{i}])" for i in range(dim))
    )


def _norm(a: str, dim: int = EMB_DIM) -> Column:
    return F.sqrt(
        F.expr(" + ".join(f"({a}[{i}] * {a}[{i}])" for i in range(dim)))
    )


def cosine_topk(
    emb: DataFrame, anchor: DataFrame, k: int = TOP_K
) -> DataFrame:
    """Exact cosine top-k of ``emb`` rows against a 1-row ``anchor`` DataFrame
    with column ``q`` (array<double>)."""
    joined = emb.crossJoin(F.broadcast(anchor))
    cos = _dot(E_SQL, "q") / (_norm(E_SQL) * _norm("q"))
    return (
        joined.select(
            "vec_id",
            "label",
            F.round(cos, 6).alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
        .limit(k)
    )


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    anchor = (
        emb.filter(F.col("vec_id") == ANCHOR_ID)
        .select(F.expr(E_SQL).alias("q"))
    )
    others = emb.filter(F.col("vec_id") != ANCHOR_ID)
    return cosine_topk(others, anchor, TOP_K)


# Per-Arrow-batch shortlist width for the BLAS scorer.  Must comfortably
# exceed TOP_K so a ~1e-12 float re-association can never push a true
# top-k member below the cut; 256 per batch is 25x margin at zero cost
# (the shortlist is slim vec_ids, k-row-scale per batch).
PANDAS_SHORTLIST = 256


def q_ann_cosine_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k on the Arrow/numpy path: ``mapInPandas``
    with a matrix-vector BLAS product per batch — the vectorized-Python
    alternative to the JVM expression path (``sim_ann_cosine_topk``).
    Measured at sf0.1 the matmul scorer BEATS the JVM expression path
    (0.6 s vs 2.8 s): the unrolled chain's one-time codegen compile
    dominates at this corpus size, while a matmul has no compile step.

    Emission is the IVFADC two-phase shape (same as sim_ann_ivfpq_topk):
    the float matmul SELECTS a per-batch shortlist (k-row-scale slim
    ids — numpy's SIMD/pairwise summation re-associates float adds, so
    its scores are selection-only, never emitted), then the JVM
    exact-fold cosine re-ranks the shortlist and emits the rounded
    value.  That makes the output bit-identical to the exact path, so
    this query holds a full 64-bit hash oracle (the exact top-k SQL)
    instead of the rows-only check it had when it emitted BLAS floats;
    a transposed matmul / wrong vector / float32 truncation now fails
    the hash because the shortlist itself goes wrong."""
    import pandas as pd  # noqa: F401 (documents the dependency)

    emb = load_table(spark, sf_dir, "embeddings")
    anchor = (
        emb.filter(F.col("vec_id") == ANCHOR_ID)
        .select(F.expr(E_SQL).alias("q"))
    )
    q_vec = anchor.collect()[0]["q"]

    def shortlist(batches):
        import numpy as np

        q = np.asarray(q_vec, dtype=np.float64)
        qn = np.sqrt(q @ q)
        for pdf in batches:
            m = np.asarray(pdf["embedding"].to_list(), dtype=np.float64)
            cos = (m @ q) / (np.sqrt((m * m).sum(axis=1)) * qn)
            if len(pdf) > PANDAS_SHORTLIST:
                idx = np.argpartition(-cos, PANDAS_SHORTLIST - 1)[
                    :PANDAS_SHORTLIST
                ]
                yield pdf.iloc[idx][["vec_id"]]
            else:
                yield pdf[["vec_id"]]

    ids = emb.filter(F.col("vec_id") != ANCHOR_ID).mapInPandas(
        shortlist, "vec_id long"
    )
    # exact re-rank on the shortlist only: late materialization (slim ids
    # through the scorer, arrays attached after) + fold-order cosine
    cand = emb.join(F.broadcast(ids), "vec_id")
    return cosine_topk(cand, anchor, TOP_K)


def q_ann_prefilter_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search — the vector-DB "metadata predicate"
    problem: top-k among vectors sharing the anchor's label.  This is the
    PRE-filter strategy (filter first, score survivors): the label
    literal is resolved to a scalar and pushed into the parquet scan
    (PushedFilters), so the scoring stage touches only the matching
    corpus fraction and recall within the filtered set is exact by
    construction.  The alternative — post-filtering an unfiltered ANN
    top-k — loses recall whenever fewer than k of the global top-k match
    the predicate, which is exactly the failure this query's oracle would
    catch.  At 100 TB the label becomes a partition/cluster key and the
    pre-filter is a partition prune.

    The anchor's (vector, label) is ONE row collected to the driver — the
    documented scalar-anchor pattern — because a literal, unlike a
    join-derived predicate, is what reaches the scan."""
    emb = load_table(spark, sf_dir, "embeddings")
    a = (
        emb.filter(F.col("vec_id") == ANCHOR_ID)
        .select(F.expr(E_SQL).alias("q"), "label")
        .collect()[0]
    )
    anchor = spark.createDataFrame([(a["q"],)], "q array<double>")
    cand = emb.filter(
        (F.col("vec_id") != ANCHOR_ID) & (F.col("label") == F.lit(a["label"]))
    )
    return cosine_topk(cand, anchor, TOP_K)


# --- LSH-bucketed ANN (the scale path) ------------------------------------
#
# Random-hyperplane LSH with *integer* hyperplanes r_i[j] = ((31*i + 17*j)
# mod 7) - 3: deterministic, engine-portable (no RNG, no libm), and sign
# buckets computed with the same fold primitives as the exact path.  Probing
# only the anchor's bucket turns the per-query scan from O(N) into
# O(N / 2^n_planes) — at 100 TB the bucket id becomes the table's partition
# key so a query touches one partition.  Brute force above is its oracle.

N_PLANES = 6
LSH_TOP_K = 5


def _plane_dot(e: str, i: int) -> Column:
    """Dot with hyperplane i, whose components are compile-time constants —
    the products fold into codegen'd literal multiplies.  Zero-coefficient
    terms are kept so the addition sequence matches the oracle's fold
    bit-for-bit."""
    return F.expr(
        " + ".join(
            f"({e}[{j}] * {float((31 * i + 17 * j) % 7 - 3)}D)"
            for j in range(EMB_DIM)
        )
    )


def bucket_col(e: str) -> Column:
    bits = [
        F.when(_plane_dot(e, i) > 0, F.lit("1")).otherwise(F.lit("0"))
        for i in range(N_PLANES)
    ]
    return F.concat(*bits)


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    with_bucket = emb.select(
        "vec_id",
        "label",
        F.expr(E_SQL).alias("emb"),
        bucket_col(E_SQL).alias("bucket"),
    )
    anchor = (
        with_bucket.filter(F.col("vec_id") == ANCHOR_ID)
        .select(F.col("emb").alias("q"), F.col("bucket").alias("q_bucket"))
    )
    cand = with_bucket.filter(F.col("vec_id") != ANCHOR_ID).join(
        F.broadcast(anchor),
        F.col("bucket") == F.col("q_bucket"),
        "inner",
    )
    cos = _dot("emb", "q") / (_norm("emb") * _norm("q"))
    return (
        cand.select(
            "vec_id",
            "label",
            "bucket",
            F.round(cos, 6).alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
        .limit(LSH_TOP_K)
    )


MULTIPROBE_TOP_K = 10


def _flip_bit(b: Column, i: int) -> Column:
    """Bucket code with sign-bit i flipped (Hamming-1 neighbor)."""
    ch = F.substring(b, i + 1, 1)
    flipped = F.when(ch == "1", F.lit("0")).otherwise(F.lit("1"))
    return F.concat(
        F.substring(b, 1, i), flipped, F.substring(b, i + 2, N_PLANES - i - 1)
    )


def q_ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiprobe LSH ANN: the query probes its own bucket PLUS every
    bucket at Hamming distance 1 (one sign bit flipped) — the standard
    recall/cost dial for sign-random-projection LSH.  Near neighbors that
    land just across one hyperplane (the dominant LSH miss mode) are
    recovered at (n_planes + 1)/2^n_planes of the corpus instead of a full
    scan.  The probe set is (n_planes + 1) rows exploded from the one-row
    broadcast anchor, so the candidate join stays a bucket-key lookup — at
    100 TB, with bucket as the partition key, a query touches n_planes + 1
    partitions instead of one, still O(probes x partition), never O(N).
    ``probe_dist`` records which ring each candidate came from."""
    emb = load_table(spark, sf_dir, "embeddings")
    with_bucket = emb.select(
        "vec_id",
        "label",
        F.expr(E_SQL).alias("emb"),
        bucket_col(E_SQL).alias("bucket"),
    )
    b = F.col("q_bucket0")
    anchor = (
        with_bucket.filter(F.col("vec_id") == ANCHOR_ID)
        .select(F.col("emb").alias("q"), F.col("bucket").alias("q_bucket0"))
        .select(
            "q",
            F.explode(
                F.array(
                    F.struct(b.alias("probe"), F.lit(0).alias("probe_dist")),
                    *[
                        F.struct(
                            _flip_bit(b, i).alias("probe"),
                            F.lit(1).alias("probe_dist"),
                        )
                        for i in range(N_PLANES)
                    ],
                )
            ).alias("p"),
        )
        .select("q", F.col("p.probe").alias("probe"), F.col("p.probe_dist").alias("probe_dist"))
    )
    cand = with_bucket.filter(F.col("vec_id") != ANCHOR_ID).join(
        F.broadcast(anchor), F.col("bucket") == F.col("probe"), "inner"
    )
    cos = _dot("emb", "q") / (_norm("emb") * _norm("q"))
    return (
        cand.select(
            "vec_id",
            "label",
            "bucket",
            "probe_dist",
            F.round(cos, 6).alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
        .limit(MULTIPROBE_TOP_K)
    )


# --- IVF-bucketed ANN (coarse-quantizer scale path) ------------------------
#
# Inverted-file ANN: a coarse quantizer assigns every vector to its nearest
# centroid's cell; a query probes only its own cell (nprobe=1).  Centroids
# here are the first N_CELLS corpus vectors — a deterministic quantizer both
# engines reproduce exactly (Lloyd iterations are a driver-side loop that
# would improve recall, not change the operator's dataflow).  At 100 TB the
# cell id becomes the table's partition key: assignment is a broadcast join
# + per-row argmax, probing is partition pruning.  The quantizer functions
# below are the ONE copy: the registry queries here and the maintained
# index gates (``analytics/maintained.py``) both call them.

N_CELLS = 8
IVF_TOP_K = 5


def vec_view(df: DataFrame) -> DataFrame:
    """(vec_id, label, emb array<double>, nrm) scan-side projection."""
    return df.select(
        "vec_id",
        "label",
        F.expr(E_SQL).alias("emb"),
        _norm(E_SQL).alias("nrm"),
    )


def centroid_rows(base: DataFrame, k: int = N_CELLS) -> DataFrame:
    """(cent_id, cvec, cnrm) frozen-quantizer rows: the first ``k``
    corpus vectors (the deterministic quantizer every ANN gate and
    every oracle share)."""
    return base.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cent_id"),
        F.col("emb").alias("cvec"),
        F.col("nrm").alias("cnrm"),
    )


def scaled_k(sf_dir: str) -> int:
    """K = floor(sqrt(n)) from the source parquet footers (1:1
    projection, no filters): a driver-side metadata read, no count
    job."""
    return math.isqrt(path_rows(os.path.join(sf_dir, "embeddings.parquet")))


def assign_cells(vecs: DataFrame, cents: DataFrame) -> DataFrame:
    """IVF coarse-quantizer assignment: (vec_id, cell) — nearest-by-
    cosine centroid, ties to the lowest cent_id (the DuckDB oracle's
    ``row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC,
    cent_id)`` order; ``tests/test_maintained.py`` checks it against
    an independent window argmax).

    Shape: broadcast centroids, n·K dots scan-side, then a map-side-
    combinable ``max_by`` argmax over SLIM (vec_id, cos, cent_id) rows —
    the embedding arrays never enter the shuffle (the lesson
    ``sim_hard_negatives`` measured: arrays-through-window tripled its
    probe).  ``cents`` columns: cent_id, cvec, cnrm."""
    cos_c = _dot("emb", "cvec") / (F.col("nrm") * F.col("cnrm"))
    return (
        vecs.crossJoin(F.broadcast(cents))
        .select("vec_id", cos_c.alias("cos_c"), "cent_id")
        .groupBy("vec_id")
        .agg(
            F.max_by(
                "cent_id", F.struct(F.col("cos_c"), -F.col("cent_id"))
            ).alias("cell")
        )
    )


def topk_from_cells(cells: DataFrame, k: int = IVF_TOP_K) -> DataFrame:
    """Single-probe IVF serve over (vec_id, label, emb, nrm, cell) rows:
    anchor's cell only, exact cosine re-rank.  At 100 TB ``cell`` is the
    index table's partition key and this filter is partition pruning."""
    anchor = cells.filter(F.col("vec_id") == ANCHOR_ID).select(
        F.col("emb").alias("q"),
        F.col("nrm").alias("qn"),
        F.col("cell").alias("qcell"),
    )
    cand = cells.filter(F.col("vec_id") != ANCHOR_ID).join(
        F.broadcast(anchor), F.col("cell") == F.col("qcell"), "inner"
    )
    cos = _dot("emb", "q") / (F.col("nrm") * F.col("qn"))
    return (
        cand.select(
            "vec_id",
            "label",
            "cell",
            F.round(cos, 6).alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
        .limit(k)
    )


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = vec_view(load_table(spark, sf_dir, "embeddings"))
    return topk_from_cells(
        vecs.join(assign_cells(vecs, centroid_rows(vecs)), "vec_id")
    )


MRL_DIM = 16  # served prefix width (Matryoshka truncation)


def q_matryoshka_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation audit — modern embedding stacks serve a
    PREFIX of each vector (MRL) to cut memory/IO 4× and re-rank with
    the full vector; the operational question is how much recall the
    prefix costs.  The audit: exact top-{TOP_K} under the {MRL_DIM}-dim
    prefix, each hit annotated with its membership in the full
    {EMB_DIM}-dim top-{TOP_K} — recall@k is the count of TRUE rows,
    and the FALSE rows are exactly the candidates a full-vector
    re-rank stage would demote.  Both searches are the broadcast-
    anchor scan shape of ``sim_ann_cosine_topk``; at 100 TB with the
    prefix stored as its own column the truncated scan reads 1/4 of
    the vector bytes.  Same fold/rounding discipline as every vector
    gate, so both engines elect identical rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select("vec_id", "label", F.expr(E_SQL).alias("e"))
    anchor = v.filter(F.col("vec_id") == ANCHOR_ID).select(
        F.col("e").alias("q")
    )
    others = v.filter(F.col("vec_id") != ANCHOR_ID).crossJoin(
        F.broadcast(anchor)
    )
    cos_full = _dot("e", "q") / (_norm("e") * _norm("q"))
    full_ids = (
        others.select(
            "vec_id", F.round(cos_full, 6).alias("_c")
        )
        .orderBy(F.desc("_c"), F.asc("vec_id"))
        .limit(TOP_K)
        .select("vec_id")
        .withColumn("_in_full", F.lit(True))
    )
    cos16 = _dot("e", "q", MRL_DIM) / (
        _norm("e", MRL_DIM) * _norm("q", MRL_DIM)
    )
    trunc = (
        others.select(
            "vec_id", "label", F.round(cos16, 6).alias("cosine_trunc")
        )
        .orderBy(F.desc("cosine_trunc"), F.asc("vec_id"))
        .limit(TOP_K)
    )
    return trunc.join(F.broadcast(full_ids), "vec_id", "left").select(
        "vec_id",
        "label",
        "cosine_trunc",
        F.coalesce(F.col("_in_full"), F.lit(False)).alias("in_full_topk"),
    )


IVF_NPROBE = 2


def q_ann_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with ``nprobe={IVF_NPROBE}`` — the recall/cost dial every
    IVF deployment exposes (FAISS ``nprobe``), the inverted-file twin
    of ``sim_ann_lsh_multiprobe``: the query probes its NPROBE
    nearest cells instead of one, recovering neighbors that fell just
    across a Voronoi boundary at NPROBE/N_CELLS of the corpus scanned.
    Assignment is the shared coarse quantizer ``assign_cells``; the
    probe list is the anchor's top-NPROBE centroids by cosine (ties to
    the lower cent_id) — ``top_k`` over the 1-row anchor × K
    centroids — broadcast as NPROBE rows; candidates come from one
    equi-join on the cell id — at 100 TB, NPROBE partition reads
    instead of one.  Ties and rounding identical to the single-probe
    gate, so the oracle replays the probe ranking exactly."""
    vecs = vec_view(load_table(spark, sf_dir, "embeddings"))
    cents = centroid_rows(vecs)
    cells = vecs.join(assign_cells(vecs, cents), "vec_id")
    probes = top_k(
        vecs.filter(F.col("vec_id") == ANCHOR_ID)
        .crossJoin(F.broadcast(cents))
        .withColumn(
            "cos_c", _dot("emb", "cvec") / (F.col("nrm") * F.col("cnrm"))
        ),
        ["vec_id"],
        [F.desc("cos_c"), F.asc("cent_id")],
        IVF_NPROBE,
    ).select(
        F.col("cent_id").alias("probe"),
        F.col("emb").alias("q"),
        F.col("nrm").alias("qn"),
    )
    cand = cells.filter(F.col("vec_id") != ANCHOR_ID).join(
        F.broadcast(probes), F.col("cell") == F.col("probe"), "inner"
    )
    cos = _dot("emb", "q") / (F.col("nrm") * F.col("qn"))
    return (
        cand.select(
            "vec_id",
            "label",
            "cell",
            F.round(cos, 6).alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
        .limit(IVF_TOP_K)
    )


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training — for EVERY vector,
    the most-similar vector carrying a DIFFERENT label: the pair-mining
    step of embedding/reranker training runs (in-batch negatives with
    cluster blocking).  Candidates come from the anchor's own IVF cell
    (first-K-vectors coarse quantizer, same family as every ANN gate
    here), so the join is CELL-BUCKETED — shuffle keyed by cell,
    per-cell candidate lists, never an all-pairs product.  The cell
    count SCALES WITH THE CORPUS: K = floor(sqrt(n)), the standard IVF
    balance where broadcast assignment (n·K dots) and within-cell
    mining (n·(n/K) dots) are both n^1.5 — a fixed K would make the
    blocked join quadratic (measured: the fixed-8-cell draft probed
    9.8× at 10× data; this shape probes ~3×).  At 100 TB the cell id
    is the partition key and mining is a co-partitioned self-join,
    the FAISS-style blocked negative miner.  An anchor whose entire
    cell shares its label yields no row (no in-cell negative exists —
    the blocking trade, same recall posture as single-probe IVF
    search).  Per-anchor argmax is ``top_k`` over the cell-sized
    candidate list; ties break on candidate id, so the mined pair set
    is deterministic and the oracle replays it exactly — including K:
    ``scaled_k`` reads isqrt(n) from the parquet footers, the value the
    oracle derives as floor(sqrt(count))."""
    emb = load_table(spark, sf_dir, "embeddings")
    # fan_out: the embeddings table arrives as ONE parquet row group at
    # every tested SF, so the n·K assignment dots would run on one core
    # (measured 63 s vs 9.8 s at the 10× probe); a no-op at real scale
    # where the scan arrives in thousands of splits
    vecs = vec_view(fan_out(emb))
    # Checkpointed: BOTH sides of the pair join consume the assignment,
    # and the n·K-dot subtree must be paid once, not once per side.
    assign = stable_checkpoint(
        assign_cells(vecs, centroid_rows(vecs, scaled_k(sf_dir)))
    )
    cells = vecs.join(assign, "vec_id")
    a = cells.select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.col("emb").alias("qa"),
        F.col("nrm").alias("na"),
        "cell",
    )
    b = cells.select(
        F.col("vec_id").alias("neg_id"),
        F.col("label").alias("neg_label"),
        F.col("emb").alias("qb"),
        F.col("nrm").alias("nb"),
        "cell",
    )
    scored = (
        a.join(b, "cell")
        .filter(F.col("anchor_label") != F.col("neg_label"))
        .select(
            "anchor_id",
            "anchor_label",
            "neg_id",
            "neg_label",
            F.round(
                _dot("qa", "qb") / (F.col("na") * F.col("nb")), 6
            ).alias("cos_n"),
        )  # slim BEFORE the per-anchor top-k: arrays never shuffle
    )
    return top_k(
        scored, ["anchor_id"], [F.desc("cos_n"), F.asc("neg_id")], 1
    ).select(
        "anchor_id", "anchor_label", "neg_id", "neg_label",
        F.col("cos_n").alias("cosine_sim"),
    )


# --- batch ANN (multi-query serving shape) ---------------------------------

BATCH_Q = 4  # anchors: vec_id 0..3
BATCH_TOP_K = 5


def q_ann_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch ANN: exact cosine top-k for a SET of query vectors at once —
    the actual serving pattern (queries arrive in batches, not one anchor
    at a time).  Queries broadcast; each corpus row scores all Q queries in
    one scan pass.

    Top-k is ``top_k`` per query: Spark plans its partial
    ``WindowGroupLimit`` below the shuffle, so each map partition keeps
    at most k rows per query and the Q-keyed exchange moves Q×k rows
    per partition, never the full scored relation — at 100 TB with
    thousands of queries, no reducer owns a corpus-sized partition."""
    vecs = vec_view(fan_out(load_table(spark, sf_dir, "embeddings")))
    anchors = vecs.filter(F.col("vec_id") < BATCH_Q).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("q"),
        F.col("nrm").alias("qn"),
    )
    scored = (
        vecs.filter(F.col("vec_id") >= BATCH_Q)
        .crossJoin(F.broadcast(anchors))
        .withColumn(
            "cosine_sim",
            F.round(_dot("emb", "q") / (F.col("nrm") * F.col("qn")), 6),
        )
    )
    return top_k(
        scored,
        ["query_id"],
        [F.desc("cosine_sim"), F.asc("vec_id")],
        BATCH_TOP_K,
    ).select("query_id", "rank", "vec_id", "label", "cosine_sim")


# --- k-means step (spherical Lloyd iteration) ------------------------------
#
# One iteration of spherical k-means over the embedding table: assign every
# vector to its max-cosine centroid (the IVF coarse quantizer's assignment,
# reused verbatim), then report per-cluster size and CENTROID SHIFT — the
# L2 distance between the old centroid and the new member mean, i.e. the
# convergence signal a Lloyd loop monitors.  The driver-side loop that
# iterates this to convergence is the same pattern as the IVF note above:
# re-run with centroids swapped; the operator's dataflow never changes.
#
# Engine determinism (the same integer-quantization trick as
# sim_label_cohesion): member coordinates quantize to round(x*1e6) BIGINTs,
# so per-(cell, dim) sums are exact integer math; the shift is computed in
# the all-integer form  D_d = sum_q_d − n·q_c_d  (q_c is the centroid's own
# quantization — exact, centroids are data vectors), then
# shift = sqrt(Σ D_d²) / (n·1e6) with the square-sum accumulated as exact
# DECIMAL(38,0) — associative, partitioning-independent; one final
# cast-to-double + sqrt in both engines.
#
# Scale: assignment is a broadcast-K cross join + per-row argmax (pure scan
# fan-out); the mean is a (cell, dim)-keyed shuffle that map-side combines
# to K×64 rows; the shift join is K×64 vs K×64.  No stage sees more than
# corpus-scan work.


def q_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = vec_view(load_table(spark, sf_dir, "embeddings"))
    cents = centroid_rows(vecs)
    cells = vecs.join(assign_cells(vecs, cents), "vec_id")
    dims = cells.select(
        "cell", F.posexplode("emb").alias("dim", "x")
    ).withColumn("qx", F.round(F.col("x") * Q_SCALE, 0).cast("bigint"))
    percell = dims.groupBy("cell", "dim").agg(
        F.sum("qx").alias("sq"), F.count(F.lit(1)).alias("n")
    )
    centq = cents.select(
        F.col("cent_id").alias("cell"), F.posexplode("cvec").alias("dim", "cx")
    ).withColumn("qc", F.round(F.col("cx") * Q_SCALE, 0).cast("bigint"))
    d = (F.col("sq") - F.col("n") * F.col("qc")).cast("decimal(19,0)")
    return (
        percell.join(F.broadcast(centq), ["cell", "dim"])
        .withColumn("d", d)
        .groupBy("cell")
        .agg(
            F.max("n").cast("bigint").alias("n_members"),
            F.round(
                F.sqrt(F.sum(F.col("d") * F.col("d")).cast("double"))
                / (F.max("n") * F.lit(float(Q_SCALE))),
                6,
            ).alias("centroid_shift"),
        )
    )


KM_ITERS = 3  # Lloyd iterations for the convergence gate


def q_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-iteration Lloyd's k-means to a FIXED horizon — the
    iterative-ML-on-DataFrames pattern (same posture as
    ``graph_pagerank_iter``): each round broadcast-assigns every vector
    to its nearest centroid (cosine, centroid-id tie-break) and
    recomputes centroids as quantized-integer means, with
    ``stable_checkpoint`` truncating the plan between rounds so
    iteration T's lineage is O(1), not O(T) (the un-checkpointed loop
    re-derives every previous assignment each action and eventually
    overflows the planner at real iteration counts).

    Engine determinism across {KM_ITERS} rounds: assignment cosines
    are the unrolled left-fold ``_dot`` (bit-identical to the oracle's
    ``list_reduce``); centroid components fold as exact scaled-long
    sums and return to double with one division, so the EXACT SAME
    doubles enter round t+1 in both engines — the oracle replays the
    whole loop as an unrolled CTE chain and must agree bit-for-bit,
    not approximately.  Per-round cost: one broadcast crossJoin scan
    (K×dim centroid table is KB-sized at any corpus scale) + one
    (cell, dim)-keyed map-side-combinable aggregation — no
    corpus-sized shuffle anywhere; the per-vec_id argmax is a struct
    max over slim rows, combined map-side."""
    emb = load_table(spark, sf_dir, "embeddings")
    base = fan_out(emb).select(
        "vec_id", F.expr(E_SQL).alias("v"), _norm(E_SQL).alias("nrm")
    ).persist()
    cents = base.filter(F.col("vec_id") < N_CELLS).select(
        F.col("vec_id").alias("cent_id"),
        F.col("v").alias("cvec"),
        F.col("nrm").alias("cnrm"),
    )

    def assign(c: DataFrame) -> DataFrame:
        """(vec_id, cent_id, cos_c) argmax — max cos, centroid-id
        tie-break — as a map-side-combinable max-of-struct over SLIM
        scored rows: the n·K relation never carries the vector arrays
        through a shuffle (the lesson sim_hard_negatives measured:
        arrays-through-window tripled its probe); consumers re-attach
        arrays by joining the n-row result back to ``base``."""
        scored = base.crossJoin(F.broadcast(c)).select(
            "vec_id",
            (
                _dot("v", "cvec") / (F.col("nrm") * F.col("cnrm"))
            ).alias("cos_c"),
            "cent_id",
        )
        best = scored.groupBy("vec_id").agg(
            F.max(
                F.struct(
                    F.col("cos_c"), (-F.col("cent_id")).alias("nc")
                )
            ).alias("b")
        )
        return best.select(
            "vec_id",
            (-F.col("b.nc")).alias("cent_id"),
            F.col("b.cos_c").alias("cos_c"),
        )

    for _ in range(KM_ITERS):
        dims = (
            assign(cents)
            .join(base, "vec_id")
            .select(
                F.col("cent_id").alias("cell"),
                F.posexplode("v").alias("dim", "x"),
            )
            .withColumn(
                "qx", F.round(F.col("x") * Q_SCALE, 0).cast("bigint")
            )
        )
        cents = (
            dims.groupBy("cell", "dim")
            .agg(F.sum("qx").alias("sq"), F.count(F.lit(1)).alias("n"))
            .groupBy("cell")
            .agg(
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.struct(
                                F.col("dim"),
                                (
                                    F.col("sq")
                                    / (F.col("n") * F.lit(float(Q_SCALE)))
                                ).alias("c"),
                            )
                        )
                    ),
                    lambda s: s["c"],
                ).alias("cvec")
            )
            .select(
                F.col("cell").alias("cent_id"),
                "cvec",
                _norm("cvec").alias("cnrm"),
            )
        )
        cents = stable_checkpoint(cents)
    out = (
        assign(cents)
        .select(
            F.col("cent_id").alias("cell"),
            F.round(F.col("cos_c"), 6).alias("cos6"),
        )
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.round(
                F.sum(F.col("cos6").cast("decimal(18,10)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_cos"),
            F.min("cos6").alias("min_cos"),
        )
    )
    out = stable_checkpoint(out)
    base.unpersist()
    return out


# --- label cohesion (embedding-quality profiling) --------------------------
#
# Per-label centroid + cosine-to-centroid cohesion — the "are my clusters
# tight" diagnostic of an embedding pipeline.  Determinism across engines
# needs care because float sums are order-dependent:
#   * centroid components: each float is quantized to an integer
#     round(x * 1e6) first, so the cross-row SUM is exact integer math
#     (associative, partitioning-independent); one final division returns
#     to double;
#   * per-vector cosine: a per-row left-fold over the two arrays (fixed
#     order, same as DuckDB's list_reduce);
#   * per-label mean cosine: the 6dp-rounded cosines are summed as exact
#     decimals (the dsum trick).
# Scale: one (label, dim)-keyed shuffle for centroids (64 rows per label
# after map-side partial agg), centroids broadcast back, cohesion is one
# more label-keyed agg.

Q_SCALE = 1_000_000


def q_label_cohesion(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id", "label", F.expr(E_SQL).alias("v"), _norm(E_SQL).alias("nrm")
    )
    dims = base.select(
        "label", F.posexplode("v").alias("dim", "x")
    ).withColumn("qx", F.round(F.col("x") * Q_SCALE, 0).cast("bigint"))
    centd = dims.groupBy("label", "dim").agg(
        F.sum("qx").alias("sq"), F.count(F.lit(1)).alias("n")
    )
    cent = centd.groupBy("label").agg(
        F.transform(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("dim"),
                        (F.col("sq") / (F.col("n") * F.lit(float(Q_SCALE)))).alias(
                            "c"
                        ),
                    )
                )
            ),
            lambda s: s["c"],
        ).alias("cvec")
    )
    joined = base.join(F.broadcast(cent), "label")
    cos = F.round(
        _dot("v", "cvec") / (F.col("nrm") * _norm("cvec")),
        6,
    )
    return (
        joined.select("label", cos.alias("cos_c"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(
                F.sum(F.col("cos_c").cast("decimal(18,10)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_cohesion"),
            F.min("cos_c").alias("min_cohesion"),
            F.max("cos_c").alias("max_cohesion"),
        )
    )


# --- int8 symmetric quantization (embedding compression audit) -------------
#
# Per-vector symmetric int8: scale = max|x| / 127, q_i = floor(x_i/scale +
# 0.5).  Reports the scale and the reconstruction MSE — the compression-loss
# audit run before shipping quantized embeddings to an ANN index.  Engine
# determinism: max is order-independent, floor-based half-up rounding and the
# left-folded error sum are the same IEEE operation sequence in both engines
# (same trick as ``_dot``).  Pure scan work — zero shuffles at any scale.

Q_LEVELS = 127


def q_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select("vec_id", "label", F.expr(E_SQL).alias("e"))
    maxabs = F.expr(
        "greatest(" + ", ".join(f"abs(e[{i}])" for i in range(EMB_DIM)) + ")"
    )
    b2 = base.withColumn("s", maxabs / F.lit(float(Q_LEVELS)))
    err = lambda i: f"(e[{i}] - floor(e[{i}] / s + 0.5D) * s)"  # noqa: E731
    mse = F.expr(
        " + ".join(f"({err(i)} * {err(i)})" for i in range(EMB_DIM))
    ) / F.lit(float(EMB_DIM))
    return b2.select(
        "vec_id",
        "label",
        F.round(F.col("s"), 6).alias("q_scale"),
        F.round(mse, 6).alias("recon_mse"),
    )


# --- product quantization (PQ codebook assignment, IVFADC serve) -----------
#
# The ANN-index compression stage after IVF: split each vector into PQ_SUB
# subvectors, assign each to its nearest codebook centroid (codebooks =
# subvectors of the first PQ_CENTS corpus vectors — deterministic, same
# convention as the IVF coarse quantizer).  At 100 TB the codebooks are a
# broadcast table and assignment is scan-side.  Like the IVF quantizer,
# the encoder and the IVFADC serve below are the one copy the registry
# queries and the maintained gates share.

PQ_SUB = 8
PQ_DIM = EMB_DIM // PQ_SUB
PQ_CENTS = 16
PQ_QSCALE = 1_000_000_000


def pq_sub(vecs: DataFrame) -> DataFrame:
    """(vec_id, s, v) sub-vector rows from a (vec_id, emb) view —
    the PQ decomposition every PQ path shares.  Every other column of
    ``vecs`` rides along (``sim_pq_audit`` keeps its label that way)."""
    return vecs.select(
        *[c for c in vecs.columns if c != "emb"],
        F.posexplode(
            F.array(
                *[
                    F.slice("emb", s * PQ_DIM + 1, PQ_DIM)
                    for s in range(PQ_SUB)
                ]
            )
        ).alias("s", "v"),
    )


def pq_codebook_rows(cents: DataFrame) -> DataFrame:
    """(cs, cent_id, cv) PQ codebook rows: the sub-vectors of the
    (vec_id, emb) codebook vectors ``cents``."""
    return pq_sub(cents).select(
        F.col("s").alias("cs"),
        F.col("vec_id").alias("cent_id"),
        F.col("v").alias("cv"),
    )


def _pq_l2(v: str) -> Column:
    """Squared L2 between sub-vector column ``v`` and codeword ``cv``:
    a fixed-order PQ_DIM-term fold (engine-identical IEEE sequence)."""
    return F.expr(
        " + ".join(
            f"(({v}[{i}] - cv[{i}]) * ({v}[{i}] - cv[{i}]))"
            for i in range(PQ_DIM)
        )
    )


def assign_pq_codes(vecs: DataFrame, codebook: DataFrame) -> DataFrame:
    """PQ encoding against a FROZEN codebook: (vec_id, s, code) — the
    nearest-centroid-per-subspace argmin as a slim map-side-combinable
    ``min_by`` (ties to the lower cent_id, the oracle's ``ORDER BY
    dist, cent_id``; ``tests/test_maintained.py`` checks it against an
    independent window argmin).  ``codebook`` columns: cs, cent_id, cv."""
    return (
        pq_sub(vecs)
        .join(F.broadcast(codebook), F.col("s") == F.col("cs"))
        .select("vec_id", "s", _pq_l2("v").alias("dist"), "cent_id")
        .groupBy("vec_id", "s")
        .agg(
            F.min_by(
                "cent_id", F.struct(F.col("dist"), F.col("cent_id"))
            ).alias("code")
        )
    )


IVFPQ_CAND = 20  # ADC shortlist size fed to the exact re-rank
IVFPQ_TOP_K = 5


def ivfadc_topk(
    live: DataFrame, idx: DataFrame, codes: DataFrame, codebook: DataFrame
) -> DataFrame:
    """IVFADC serve over a (vec_id, label, emb, nrm) corpus ``live``, its
    cell index ``idx`` (vec_id, cell), PQ codes ``codes`` (vec_id, s,
    code) and ``codebook`` (cs, cent_id, cv): anchor cell from the
    index, the anchor's ADC lookup table against the codebook, candidate
    scoring over slim (vec_id, s, code) rows, exact re-rank of the
    top-IVFPQ_CAND shortlist only."""
    anchor = (
        live.filter(F.col("vec_id") == ANCHOR_ID)
        .join(idx, "vec_id")
        .select(
            F.col("emb").alias("q"),
            F.col("nrm").alias("qn"),
            F.col("cell").alias("qcell"),
        )
    )
    q_sub = pq_sub(
        live.filter(F.col("vec_id") == ANCHOR_ID)
    ).select(F.col("s").alias("qs"), F.col("v").alias("qv"))
    adc = (
        q_sub.join(F.broadcast(codebook), F.col("qs") == F.col("cs"))
        .select(
            F.col("qs").alias("s"),
            F.col("cent_id").alias("code"),
            F.round(_pq_l2("qv") * PQ_QSCALE, 0).cast("bigint").alias("q_ad"),
        )
    )
    shortlist = (
        idx.filter(F.col("vec_id") != ANCHOR_ID)
        .join(F.broadcast(anchor), F.col("cell") == F.col("qcell"))
        .select("vec_id", "cell")
        .join(codes, "vec_id")
        .join(F.broadcast(adc), ["s", "code"])
        .groupBy("vec_id", "cell")
        .agg(F.sum("q_ad").alias("adc_dist"))
        .orderBy(F.asc("adc_dist"), F.asc("vec_id"))
        .limit(IVFPQ_CAND)
    )
    cos = _dot("emb", "q") / (F.col("nrm") * F.col("qn"))
    return (
        shortlist.join(live, "vec_id")
        .crossJoin(F.broadcast(anchor.select("q", "qn")))
        .select(
            "vec_id",
            "label",
            "cell",
            "adc_dist",
            F.round(cos, 6).alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
        .limit(IVFPQ_TOP_K)
    )


def q_pq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector PQ code (8 centroid ids) and reconstruction MSE — the
    compression-loss audit run before shipping a PQ index.

    Determinism: subspace L2 distances are fixed-order 8-term folds
    (engine-identical IEEE sequences); the argmin is ``top_k`` with a
    centroid-id tie-break (it keeps the winning distance, which
    ``assign_pq_codes`` drops); per-subspace distances are quantized to
    integer nano-units before the cross-subspace sum so the MSE is
    aggregation-order-proof."""
    vecs = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.expr(E_SQL).alias("emb")
    )
    codebook = pq_codebook_rows(vecs.filter(F.col("vec_id") < PQ_CENTS))
    best = top_k(
        pq_sub(vecs)
        .join(F.broadcast(codebook), F.col("s") == F.col("cs"))
        .withColumn("dist", _pq_l2("v")),
        ["vec_id", "s"],
        [F.asc("dist"), F.asc("cent_id")],
        1,
    ).withColumn(
        "qdist", F.round(F.col("dist") * PQ_QSCALE, 0).cast("bigint")
    )
    return best.groupBy("vec_id", "label").agg(
        F.concat_ws(
            "-",
            F.transform(
                F.sort_array(F.collect_list(F.struct("s", "cent_id"))),
                lambda x: x["cent_id"].cast("string"),
            ),
        ).alias("pq_code"),
        F.round(
            F.sum("qdist")
            / F.lit(float(PQ_QSCALE))
            / F.lit(float(EMB_DIM)),
            6,
        ).alias("recon_mse"),
    )


def q_ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN — the production read path at billion-vector scale
    (FAISS IVFADC; Jégou et al., "Product Quantization for Nearest
    Neighbor Search"): the coarse quantizer restricts candidates to the
    anchor's cell (``assign_cells``, the same 8 centroids as
    sim_ann_ivf_topk), candidates are scored by ASYMMETRIC DISTANCE —
    the query's per-subspace squared distances to the 16 PQ centroids
    form a 128-entry lookup table (broadcast), and a candidate's
    approximate distance is just 8 table lookups summed from its PQ code
    (``assign_pq_codes`` against sim_pq_audit's codebook) — and only the
    top-{IVFPQ_CAND} shortlist touches full vectors for the exact cosine
    re-rank (``ivfadc_topk``, the serve ``sim_ann_pq_maintained`` runs
    over its maintained tables).

    Scale: the corpus side carries codes (8 small ints), never vectors,
    through candidate scoring — the memory-bandwidth win that makes PQ
    the standard at 10^9 vectors; the ADC table is O(subspaces ×
    centroids) regardless of corpus size; full vectors are read only for
    the shortlist join (late materialization, same pattern as
    _bucket_pairs).  Determinism: per-subspace distances are fixed-order
    folds quantized to integer nano-units, so ADC sums and the shortlist
    cut are exact integer comparisons; ties break on vec_id; the re-rank
    rounds at 6 dp like every cosine here."""
    vecs = vec_view(load_table(spark, sf_dir, "embeddings"))
    codebook = pq_codebook_rows(vecs.filter(F.col("vec_id") < PQ_CENTS))
    return ivfadc_topk(
        vecs,
        assign_cells(vecs, centroid_rows(vecs)),
        assign_pq_codes(vecs, codebook),
        codebook,
    )


def _sql_plane(i: int) -> str:
    return (
        f"list_transform(range(64), "
        f"j -> CAST((31*{i} + 17*j) % 7 - 3 AS DOUBLE))"
    )


def _sql_dot(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(list_zip({a}, {b}), "
        f"p -> p[1] * p[2]), (acc, x) -> acc + x)"
    )


_SQL_BUCKET = "|| ".join(
    f"(CASE WHEN {_sql_dot('e', _sql_plane(i))} > 0 THEN '1' ELSE '0' END) "
    for i in range(N_PLANES)
)

_SQL_QERR = (
    "(x - floor(x / s + 0.5) * s) * (x - floor(x / s + 0.5) * s)"
)

_SQL_PQ_DIST = " + ".join(
    f"((v[{i + 1}] - cv[{i + 1}]) * (v[{i + 1}] - cv[{i + 1}]))"
    for i in range(PQ_DIM)
)

_SQL_ADC_DIST = " + ".join(
    f"((qv[{i + 1}] - cv[{i + 1}]) * (qv[{i + 1}] - cv[{i + 1}]))"
    for i in range(PQ_DIM)
)

ORACLE = {
    "sim_pq_audit": f"""
WITH base AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings
),
sub AS (
  SELECT vec_id, label, CAST(g.s AS INT) AS s,
         list_slice(e, CAST(g.s AS INT) * {PQ_DIM} + 1,
                    CAST(g.s AS INT) * {PQ_DIM} + {PQ_DIM}) AS v
  FROM base CROSS JOIN generate_series(0, {PQ_SUB - 1}) g(s)
),
cents AS (
  SELECT s AS cs, vec_id AS cent_id, v AS cv FROM sub
  WHERE vec_id < {PQ_CENTS}
),
scored AS (
  SELECT sub.vec_id, sub.label, sub.s, cents.cent_id,
         {_SQL_PQ_DIST} AS dist
  FROM sub JOIN cents ON sub.s = cents.cs
),
best AS (
  SELECT *, row_number() OVER (
           PARTITION BY vec_id, s ORDER BY dist ASC, cent_id ASC) AS rn,
         CAST(round(dist * {PQ_QSCALE}, 0) AS BIGINT) AS qdist
  FROM scored
)
SELECT vec_id, label,
       string_agg(CAST(cent_id AS VARCHAR), '-' ORDER BY s) AS pq_code,
       round(SUM(qdist) / {PQ_QSCALE}.0 / {EMB_DIM}.0, 6) AS recon_mse
FROM best WHERE rn = 1
GROUP BY vec_id, label
""",
    "sim_quantize_int8": f"""
WITH b AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS e,
         list_max(list_transform(embedding::DOUBLE[], x -> abs(x)))
           / {float(Q_LEVELS)} AS s
  FROM embeddings
)
SELECT vec_id, label,
       round(s, 6) AS q_scale,
       round(list_reduce(list_transform(e, x -> {_SQL_QERR}),
                         (acc, x) -> acc + x) / {float(EMB_DIM)}, 6)
         AS recon_mse
FROM b
""",
    "sim_ann_batch_topk": f"""
WITH base AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v,
         sqrt({_sql_dot('embedding::DOUBLE[]', 'embedding::DOUBLE[]')}) AS nrm
  FROM embeddings
),
a AS (
  SELECT vec_id AS query_id, v AS q, nrm AS qn
  FROM base WHERE vec_id < {BATCH_Q}
),
scored AS (
  SELECT a.query_id, b.vec_id, b.label,
         round({_sql_dot('b.v', 'a.q')} / (b.nrm * a.qn), 6) AS cosine_sim
  FROM base b CROSS JOIN a
  WHERE b.vec_id >= {BATCH_Q}
)
SELECT query_id, CAST(rn AS INT) AS rank, vec_id, label, cosine_sim
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine_sim DESC, vec_id ASC) AS rn
      FROM scored)
WHERE rn <= {BATCH_TOP_K}
""",
    "sim_kmeans_step": f"""
WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt({_sql_dot('embedding::DOUBLE[]', 'embedding::DOUBLE[]')}) AS nrm
  FROM embeddings
),
cents AS (
  SELECT vec_id AS cent_id, v AS cvec, nrm AS cnrm
  FROM base WHERE vec_id < {N_CELLS}
),
scored AS (
  SELECT b.vec_id, b.v, c.cent_id,
         {_sql_dot('b.v', 'c.cvec')} / (b.nrm * c.cnrm) AS cos_c
  FROM base b CROSS JOIN cents c
),
assign AS (
  SELECT vec_id, v, cent_id AS cell
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY cos_c DESC, cent_id ASC) AS rn
        FROM scored)
  WHERE rn = 1
),
dims AS (
  SELECT cell, CAST(r.i AS INT) AS dim,
         CAST(round(v[CAST(r.i AS INT) + 1] * {Q_SCALE}, 0) AS BIGINT) AS qx
  FROM assign CROSS JOIN range({EMB_DIM}) r(i)
),
percell AS (
  SELECT cell, dim, SUM(qx) AS sq, COUNT(*) AS n
  FROM dims GROUP BY cell, dim
),
centq AS (
  SELECT cent_id AS cell, CAST(r.i AS INT) AS dim,
         CAST(round(cvec[CAST(r.i AS INT) + 1] * {Q_SCALE}, 0) AS BIGINT) AS qc
  FROM cents CROSS JOIN range({EMB_DIM}) r(i)
),
j AS (
  SELECT p.cell, p.n,
         CAST(p.sq - p.n * c.qc AS DECIMAL(19,0)) AS d
  FROM percell p JOIN centq c ON p.cell = c.cell AND p.dim = c.dim
)
SELECT cell, CAST(MAX(n) AS BIGINT) AS n_members,
       round(sqrt(CAST(SUM(d * d) AS DOUBLE)) / (MAX(n) * {Q_SCALE}.0), 6)
         AS centroid_shift
FROM j GROUP BY cell
""",
    "sim_label_cohesion": f"""
WITH base AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v,
         sqrt({_sql_dot('embedding::DOUBLE[]', 'embedding::DOUBLE[]')}) AS nrm
  FROM embeddings
),
dims AS (
  SELECT label, CAST(r.i AS INT) AS dim,
         CAST(round(v[CAST(r.i AS INT) + 1] * {Q_SCALE}, 0) AS BIGINT) AS qx
  FROM base CROSS JOIN range({EMB_DIM}) r(i)
),
centd AS (
  SELECT label, dim, SUM(qx) AS sq, COUNT(*) AS n
  FROM dims GROUP BY label, dim
),
cent AS (
  SELECT label,
         list(sq / (n * {Q_SCALE}.0) ORDER BY dim) AS cvec
  FROM centd GROUP BY label
),
scored AS (
  SELECT b.label,
         round({_sql_dot('b.v', 'c.cvec')}
               / (b.nrm * sqrt({_sql_dot('c.cvec', 'c.cvec')})), 6) AS cos_c
  FROM base b JOIN cent c ON b.label = c.label
)
SELECT label, COUNT(*) AS n_vecs,
       round(CAST(SUM(CAST(cos_c AS DECIMAL(18,10))) AS DOUBLE) / COUNT(*),
             6) AS avg_cohesion,
       MIN(cos_c) AS min_cohesion,
       MAX(cos_c) AS max_cohesion
FROM scored GROUP BY label
""",
    "sim_ann_ivf_topk": f"""
WITH v AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS e,
         sqrt({_sql_dot('embedding::DOUBLE[]', 'embedding::DOUBLE[]')}) AS nrm
  FROM embeddings
),
c AS (
  SELECT vec_id AS cent_id, e AS ce, nrm AS cnrm FROM v
  WHERE vec_id < {N_CELLS}
),
a AS (
  SELECT v.vec_id, v.label, v.e, v.nrm, c.cent_id,
         {_sql_dot('v.e', 'c.ce')} / (v.nrm * c.cnrm) AS cos_c
  FROM v CROSS JOIN c
),
r AS (
  SELECT *, row_number() OVER (
    PARTITION BY vec_id ORDER BY cos_c DESC, cent_id ASC) AS rn
  FROM a
),
cells AS (
  SELECT vec_id, label, e, nrm, cent_id AS cell FROM r WHERE rn = 1
),
anchor AS (
  SELECT e AS q, nrm AS qn, cell AS qcell FROM cells WHERE vec_id = {ANCHOR_ID}
)
SELECT cells.vec_id, cells.label, cells.cell,
       round({_sql_dot('cells.e', 'anchor.q')} / (cells.nrm * anchor.qn), 6)
         AS cosine_sim
FROM cells JOIN anchor ON cells.cell = anchor.qcell
WHERE cells.vec_id <> {ANCHOR_ID}
ORDER BY cosine_sim DESC, cells.vec_id ASC
LIMIT {IVF_TOP_K}
""",
    "sim_matryoshka_audit": f"""
WITH v AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS e,
         list_slice(embedding::DOUBLE[], 1, {MRL_DIM}) AS e16
  FROM embeddings
),
q AS (
  SELECT e AS qf, e16 AS q16 FROM v WHERE vec_id = {ANCHOR_ID}
),
fk AS (
  SELECT vec_id FROM (
    SELECT v.vec_id,
           round({_sql_dot('v.e', 'q.qf')}
                 / (sqrt({_sql_dot('v.e', 'v.e')})
                    * sqrt({_sql_dot('q.qf', 'q.qf')})), 6) AS c
    FROM v CROSS JOIN q WHERE v.vec_id <> {ANCHOR_ID}
    ORDER BY c DESC, v.vec_id ASC LIMIT {TOP_K})
),
tr AS (
  SELECT v.vec_id, v.label,
         round({_sql_dot('v.e16', 'q.q16')}
               / (sqrt({_sql_dot('v.e16', 'v.e16')})
                  * sqrt({_sql_dot('q.q16', 'q.q16')})), 6) AS cosine_trunc
  FROM v CROSS JOIN q WHERE v.vec_id <> {ANCHOR_ID}
  ORDER BY cosine_trunc DESC, v.vec_id ASC LIMIT {TOP_K}
)
SELECT tr.vec_id, tr.label, tr.cosine_trunc,
       fk.vec_id IS NOT NULL AS in_full_topk
FROM tr LEFT JOIN fk ON tr.vec_id = fk.vec_id
""",
    "sim_ann_ivf_multiprobe": f"""
WITH v AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS e,
         sqrt({_sql_dot('embedding::DOUBLE[]', 'embedding::DOUBLE[]')}) AS nrm
  FROM embeddings
),
c AS (
  SELECT vec_id AS cent_id, e AS ce, nrm AS cnrm FROM v
  WHERE vec_id < {N_CELLS}
),
r AS (
  SELECT v.vec_id, v.label, v.e, v.nrm, c.cent_id,
         row_number() OVER (PARTITION BY v.vec_id ORDER BY
           {_sql_dot('v.e', 'c.ce')} / (v.nrm * c.cnrm) DESC,
           c.cent_id ASC) AS rn
  FROM v CROSS JOIN c
),
cells AS (
  SELECT vec_id, label, e, nrm, cent_id AS cell FROM r WHERE rn = 1
),
probes AS (
  SELECT cent_id AS probe, e AS q, nrm AS qn FROM r
  WHERE vec_id = {ANCHOR_ID} AND rn <= {IVF_NPROBE}
)
SELECT cells.vec_id, cells.label, cells.cell,
       round({_sql_dot('cells.e', 'probes.q')} / (cells.nrm * probes.qn), 6)
         AS cosine_sim
FROM cells JOIN probes ON cells.cell = probes.probe
WHERE cells.vec_id <> {ANCHOR_ID}
ORDER BY cosine_sim DESC, cells.vec_id ASC
LIMIT {IVF_TOP_K}
""",
    "sim_ann_ivfpq_topk": f"""
WITH v AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS e,
         sqrt({_sql_dot('embedding::DOUBLE[]', 'embedding::DOUBLE[]')}) AS nrm
  FROM embeddings
),
c AS (
  SELECT vec_id AS cent_id, e AS ce, nrm AS cnrm FROM v
  WHERE vec_id < {N_CELLS}
),
cellr AS (
  SELECT v.vec_id, v.label, v.e, v.nrm, c.cent_id,
         row_number() OVER (PARTITION BY v.vec_id ORDER BY
           {_sql_dot('v.e', 'c.ce')} / (v.nrm * c.cnrm) DESC,
           c.cent_id ASC) AS rn
  FROM v CROSS JOIN c
),
cells AS (
  SELECT vec_id, label, e, nrm, cent_id AS cell FROM cellr WHERE rn = 1
),
sub AS (
  SELECT vec_id, CAST(g.s AS INT) AS s,
         list_slice(e, CAST(g.s AS INT) * {PQ_DIM} + 1,
                    CAST(g.s AS INT) * {PQ_DIM} + {PQ_DIM}) AS v
  FROM v CROSS JOIN generate_series(0, {PQ_SUB - 1}) g(s)
),
pqc AS (
  SELECT s AS cs, vec_id AS cent_id, v AS cv FROM sub
  WHERE vec_id < {PQ_CENTS}
),
codes AS (
  SELECT vec_id, s, cent_id AS code
  FROM (SELECT sub.vec_id, sub.s, pqc.cent_id,
               row_number() OVER (PARTITION BY sub.vec_id, sub.s
                 ORDER BY {_SQL_PQ_DIST} ASC, pqc.cent_id ASC) AS rn
        FROM sub JOIN pqc ON sub.s = pqc.cs)
  WHERE rn = 1
),
anchor AS (
  SELECT e AS q, nrm AS qn, cell AS qcell FROM cells
  WHERE vec_id = {ANCHOR_ID}
),
qsub AS (
  SELECT s AS qs, v AS qv FROM sub WHERE vec_id = {ANCHOR_ID}
),
adc AS (
  SELECT qs AS s, cent_id AS code,
         CAST(round(({_SQL_ADC_DIST}) * {PQ_QSCALE}, 0) AS BIGINT) AS q_ad
  FROM qsub JOIN pqc ON qs = pqc.cs
),
scored AS (
  SELECT cl.vec_id, CAST(SUM(adc.q_ad) AS BIGINT) AS adc_dist
  FROM cells cl
  JOIN anchor ON cl.cell = anchor.qcell
  JOIN codes ON codes.vec_id = cl.vec_id
  JOIN adc ON adc.s = codes.s AND adc.code = codes.code
  WHERE cl.vec_id <> {ANCHOR_ID}
  GROUP BY cl.vec_id
),
short AS (
  SELECT vec_id, adc_dist FROM (
    SELECT *, row_number() OVER (ORDER BY adc_dist ASC, vec_id ASC) AS rn
    FROM scored)
  WHERE rn <= {IVFPQ_CAND}
)
SELECT s.vec_id, cl.label, cl.cell, s.adc_dist,
       round({_sql_dot('cl.e', 'anchor.q')} / (cl.nrm * anchor.qn), 6)
         AS cosine_sim
FROM short s JOIN cells cl ON cl.vec_id = s.vec_id CROSS JOIN anchor
ORDER BY cosine_sim DESC, s.vec_id ASC
LIMIT {IVFPQ_TOP_K}
""",
    "sim_ann_lsh_multiprobe": f"""
WITH b AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS e,
         {_SQL_BUCKET} AS bucket
  FROM embeddings
), anchor AS (
  SELECT e AS q, bucket AS qb FROM b WHERE vec_id = {ANCHOR_ID}
), probes AS (
  SELECT q, qb AS probe, 0 AS probe_dist FROM anchor
"""
    + "".join(
        "  UNION ALL\n"
        f"  SELECT q, substr(qb, 1, {i}) || "
        f"(CASE WHEN substr(qb, {i + 1}, 1) = '1' THEN '0' ELSE '1' END)"
        f" || substr(qb, {i + 2}, {N_PLANES - i - 1}), 1 FROM anchor\n"
        for i in range(N_PLANES)
    )
    + f""")
SELECT b.vec_id, b.label, b.bucket, p.probe_dist,
       round({_sql_dot('b.e', 'p.q')}
             / (sqrt({_sql_dot('b.e', 'b.e')}) * sqrt({_sql_dot('p.q', 'p.q')})),
             6) AS cosine_sim
FROM b JOIN probes p ON b.bucket = p.probe
WHERE b.vec_id <> {ANCHOR_ID}
ORDER BY cosine_sim DESC, b.vec_id ASC
LIMIT {MULTIPROBE_TOP_K}
""",
    "sim_ann_lsh_topk": f"""
WITH b AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS e,
         {_SQL_BUCKET} AS bucket
  FROM embeddings
), anchor AS (
  SELECT e AS q, bucket AS q_bucket FROM b WHERE vec_id = 0
)
SELECT b.vec_id, b.label, b.bucket,
       round({_sql_dot('b.e', 'a.q')}
             / (sqrt({_sql_dot('b.e', 'b.e')}) * sqrt({_sql_dot('a.q', 'a.q')})),
             6) AS cosine_sim
FROM b JOIN anchor a ON b.bucket = a.q_bucket
WHERE b.vec_id <> 0
ORDER BY cosine_sim DESC, b.vec_id ASC
LIMIT 5
""",
    "sim_ann_cosine_topk": """
WITH anchor AS (
  SELECT embedding::DOUBLE[] AS q FROM embeddings WHERE vec_id = 0
), scored AS (
  SELECT e.vec_id, e.label,
         round(
           list_reduce(list_transform(
               list_zip(e.embedding::DOUBLE[], a.q),
               p -> p[1] * p[2]), (acc, x) -> acc + x)
           / (sqrt(list_reduce(list_transform(e.embedding::DOUBLE[],
                                              x -> x * x), (acc, x) -> acc + x))
              * sqrt(list_reduce(list_transform(a.q, x -> x * x),
                                 (acc, x) -> acc + x))),
           6) AS cosine_sim
  FROM embeddings e CROSS JOIN anchor a
  WHERE e.vec_id <> 0
)
SELECT vec_id, label, cosine_sim
FROM scored
ORDER BY cosine_sim DESC, vec_id ASC
LIMIT 10
""",
}

# --- ANN recall audit -------------------------------------------------------


def q_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k audit of every approximate ANN method against the exact
    brute-force top-k — the evaluation loop an ANN deployment runs before
    turning a recall/cost dial (LSH plane count, probe ring width, IVF
    cell count).  Composes the already-gated queries, so the audit result
    is consistent with each method's own oracle by construction.

    Scale: each method's candidate generation keeps its own bucketed
    shape; the audit adds only per-method top-k-sized joins (k rows a
    side) and one k-row aggregate — free at any corpus size.  Oracle:
    the same composition of each method's oracle SQL as CTE subqueries.

    The five searches are fully independent, and fusing them into ONE
    lazy union used to build a 198-operator plan (44 parquet scans, 50
    Exchanges — nothing shared at runtime, so the fusion bought only
    planning cost).  Each method's k-row result is instead materialized
    via ``stable_checkpoint`` with the five jobs OVERLAPPED from driver
    threads (guide §2.6); the audit join then runs over five k-row
    leaves — same rows, a ~40× smaller plan, and the methods back-fill
    each other's stragglers on an otherwise idle cluster."""
    from spark_spotify.functions.checkpoint import stable_checkpoint
    from spark_spotify.functions.concurrency import overlap

    exact, *parts = overlap(
        lambda: stable_checkpoint(
            q_ann_cosine_topk(spark, sf_dir).select("vec_id")
        ),
        *[
            lambda method=method, fn=fn: stable_checkpoint(
                fn(spark, sf_dir).select(
                    F.lit(method).alias("method"), "vec_id"
                )
            )
            for method, fn in [
                ("lsh", q_ann_lsh_topk),
                ("multiprobe", q_ann_lsh_multiprobe),
                ("ivf", q_ann_ivf_topk),
                ("ivfpq", q_ann_ivfpq_topk),
            ]
        ],
    )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    hit = exact.withColumn("is_hit", F.lit(1))
    return (
        u.join(F.broadcast(hit), "vec_id", "left")
        .groupBy("method")
        .agg(
            F.count(F.lit(1)).alias("n_returned"),
            F.sum(F.coalesce("is_hit", F.lit(0))).alias("n_hits"),
        )
        .select(
            "method",
            "n_returned",
            "n_hits",
            # small-int / small-double division: correctly rounded in both
            # engines, no decimal re-round needed
            (F.col("n_hits") / F.lit(float(TOP_K))).alias("recall_at_k"),
        )
    )


PANDAS_AGREE_TOL = 1.5e-6  # covers 6dp rounding-mode skew + fp re-association


def q_pandas_exact_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Agreement gate for the Arrow/numpy scorer: every member of the
    EXACT top-k must appear in the pandas path's top-k with a cosine
    within {PANDAS_AGREE_TOL}.  Since round 4 sim_ann_cosine_pandas
    re-ranks its BLAS shortlist with the exact fold (and so carries its
    own full hash oracle); this gate remains as the SET-membership proof
    that the float selection phase alone recovers the exact top-k — a
    shortlist bug (transposed matmul, wrong vector, float32 truncation)
    fails the left-join here even before the hash does."""
    exact = q_ann_cosine_topk(spark, sf_dir).select(
        "vec_id", "label", "cosine_sim"
    )
    pand = q_ann_cosine_pandas(spark, sf_dir).select(
        "vec_id", F.col("cosine_sim").alias("_pcos")
    )
    return (
        exact.join(pand, "vec_id", "left")
        .select(
            "vec_id",
            "label",
            "cosine_sim",
            (
                F.col("_pcos").isNotNull()
                & (
                    F.abs(F.col("_pcos") - F.col("cosine_sim"))
                    <= PANDAS_AGREE_TOL
                )
            ).alias("pandas_agrees"),
        )
    )


ORACLE["sim_pandas_exact_agreement"] = f"""
SELECT vec_id, label, cosine_sim, TRUE AS pandas_agrees
FROM ({ORACLE['sim_ann_cosine_topk']})
"""

# the pandas path emits the exact-fold re-ranked cosine (see its
# docstring), so its oracle IS the exact top-k — full hash gate
ORACLE["sim_ann_cosine_pandas"] = ORACLE["sim_ann_cosine_topk"]

ORACLE["sim_ann_prefilter_topk"] = """
WITH anchor AS (
  SELECT embedding::DOUBLE[] AS q, label AS ql
  FROM embeddings WHERE vec_id = 0
), scored AS (
  SELECT e.vec_id, e.label,
         round(
           list_reduce(list_transform(
               list_zip(e.embedding::DOUBLE[], a.q),
               p -> p[1] * p[2]), (acc, x) -> acc + x)
           / (sqrt(list_reduce(list_transform(e.embedding::DOUBLE[],
                                              x -> x * x), (acc, x) -> acc + x))
              * sqrt(list_reduce(list_transform(a.q, x -> x * x),
                                 (acc, x) -> acc + x))),
           6) AS cosine_sim
  FROM embeddings e CROSS JOIN anchor a
  WHERE e.vec_id <> 0 AND e.label = a.ql
)
SELECT vec_id, label, cosine_sim
FROM scored
ORDER BY cosine_sim DESC, vec_id ASC
LIMIT 10
"""

ORACLE["sim_recall_audit"] = f"""
WITH exact AS (SELECT vec_id FROM ({ORACLE['sim_ann_cosine_topk']})),
lsh_k AS (SELECT vec_id FROM ({ORACLE['sim_ann_lsh_topk']})),
mp_k AS (SELECT vec_id FROM ({ORACLE['sim_ann_lsh_multiprobe']})),
ivf_k AS (SELECT vec_id FROM ({ORACLE['sim_ann_ivf_topk']})),
ivfpq_k AS (SELECT vec_id FROM ({ORACLE['sim_ann_ivfpq_topk']})),
u AS (
  SELECT 'lsh' AS method, vec_id FROM lsh_k
  UNION ALL SELECT 'multiprobe', vec_id FROM mp_k
  UNION ALL SELECT 'ivf', vec_id FROM ivf_k
  UNION ALL SELECT 'ivfpq', vec_id FROM ivfpq_k
)
SELECT u.method,
       COUNT(*) AS n_returned,
       CAST(SUM(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_hits,
       CAST(SUM(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) / {float(TOP_K)} AS recall_at_k
FROM u LEFT JOIN exact e ON u.vec_id = e.vec_id
GROUP BY u.method
"""

def _km_train_sql() -> str:
    """Unrolled-CTE replay of q_kmeans_train's {KM_ITERS} Lloyd rounds —
    the oracle iterates by CTE chaining what Spark iterates by loop."""

    def lr(a: str, b: str) -> str:
        return (
            f"list_reduce(list_transform(list_zip({a}, {b}), "
            "p -> p[1] * p[2]), (acc, x) -> acc + x)"
        )

    parts = [
        f"""WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt({lr('embedding::DOUBLE[]', 'embedding::DOUBLE[]')}) AS nrm
  FROM embeddings
),
cents0 AS (
  SELECT vec_id AS cent_id, v AS cvec, nrm AS cnrm
  FROM base WHERE vec_id < {N_CELLS}
)"""
    ]
    for t in range(KM_ITERS):
        parts.append(
            f""",
scored{t} AS (
  SELECT b.vec_id, b.v, c.cent_id,
         {lr('b.v', 'c.cvec')} / (b.nrm * c.cnrm) AS cos_c
  FROM base b CROSS JOIN cents{t} c
),
assign{t} AS (
  SELECT vec_id, v, cent_id AS cell
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY cos_c DESC, cent_id ASC) AS rn
        FROM scored{t})
  WHERE rn = 1
),
dims{t} AS (
  SELECT cell, CAST(r.i AS INT) AS dim,
         CAST(round(v[CAST(r.i AS INT) + 1] * {Q_SCALE}, 0) AS BIGINT) AS qx
  FROM assign{t} CROSS JOIN range({EMB_DIM}) r(i)
),
pc{t} AS (
  SELECT cell, dim, SUM(qx) AS sq, COUNT(*) AS n
  FROM dims{t} GROUP BY cell, dim
),
cv{t} AS (
  SELECT cell AS cent_id,
         list(sq / (n * {float(Q_SCALE)}) ORDER BY dim) AS cvec
  FROM pc{t} GROUP BY cell
),
cents{t + 1} AS (
  SELECT cent_id, cvec, sqrt({lr('cvec', 'cvec')}) AS cnrm FROM cv{t}
)"""
        )
    T = KM_ITERS
    parts.append(
        f""",
scored{T} AS (
  SELECT b.vec_id, c.cent_id,
         {lr('b.v', 'c.cvec')} / (b.nrm * c.cnrm) AS cos_c
  FROM base b CROSS JOIN cents{T} c
),
final AS (
  SELECT cent_id AS cell, round(cos_c, 6) AS cos6
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY cos_c DESC, cent_id ASC) AS rn
        FROM scored{T})
  WHERE rn = 1
)
SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_members,
       round(CAST(SUM(CAST(cos6 AS DECIMAL(18,10))) AS DOUBLE) / COUNT(*), 6)
         AS avg_cos,
       MIN(cos6) AS min_cos
FROM final GROUP BY cell"""
    )
    return "".join(parts)


ORACLE["sim_kmeans_train"] = _km_train_sql()

ORACLE["sim_hard_negatives"] = f"""
WITH v AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS e,
         sqrt(list_reduce(list_transform(list_zip(embedding::DOUBLE[], embedding::DOUBLE[]), p -> p[1] * p[2]), (acc, x) -> acc + x)) AS nrm
  FROM embeddings
),
c AS (
  SELECT vec_id AS cent_id, e AS ce, nrm AS cnrm FROM v
  WHERE vec_id < (SELECT CAST(floor(sqrt(COUNT(*))) AS BIGINT)
                  FROM embeddings)
),
a AS (
  SELECT v.vec_id, v.label, v.e, v.nrm, c.cent_id,
         list_reduce(list_transform(list_zip(v.e, c.ce), p -> p[1] * p[2]), (acc, x) -> acc + x) / (v.nrm * c.cnrm) AS cos_c
  FROM v CROSS JOIN c
),
r AS (
  SELECT *, row_number() OVER (
    PARTITION BY vec_id ORDER BY cos_c DESC, cent_id ASC) AS rn
  FROM a
),
cells AS (
  SELECT vec_id, label, e, nrm, cent_id AS cell FROM r WHERE rn = 1
),
pairs AS (
  SELECT x.vec_id AS anchor_id, x.label AS anchor_label,
         y.vec_id AS neg_id, y.label AS neg_label,
         round(list_reduce(list_transform(list_zip(x.e, y.e), p -> p[1] * p[2]), (acc, x2) -> acc + x2) / (x.nrm * y.nrm), 6) AS cos_n
  FROM cells x JOIN cells y ON x.cell = y.cell AND x.label <> y.label
)
SELECT anchor_id, anchor_label, neg_id, neg_label,
       cos_n AS cosine_sim
FROM (SELECT *, row_number() OVER (
        PARTITION BY anchor_id ORDER BY cos_n DESC, neg_id ASC) AS rn
      FROM pairs)
WHERE rn = 1
"""

BQ_CAND = 50  # Hamming shortlist width
BQ_TOP_K = 10
RRF_K = 60  # the standard reciprocal-rank-fusion constant


def _bq_half(arr: str, lo: bool, spark_idx: bool) -> str:
    """SQL text for one 32-dim half of the sign-bit signature: the
    exact integer sum of per-dimension powers of two (order-free —
    integer addition is associative), 0-based array indexing for Spark,
    1-based for DuckDB."""
    off = 0 if lo else 32
    return " + ".join(
        f"(CASE WHEN {arr}[{i + (0 if spark_idx else 1)}] > 0 "
        f"THEN CAST({1 << (i - off)} AS BIGINT) "
        "ELSE CAST(0 AS BIGINT) END)"
        for i in range(off, off + 32)
    )


def q_bq_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantized ANN — the modern memory-bandwidth trick
    (Cohere/pgvector ``bit`` embeddings): each {EMB_DIM}-dim float
    vector collapses to its SIGN BITS, packed into two BIGINT halves
    (16 bytes, a 16× scan/memory reduction vs float32), candidates
    rank by HAMMING distance (two XOR+popcount integer ops — SIMD on
    any hardware, no float math in the scan), and only the
    {BQ_CAND}-row shortlist fetches full vectors for the exact cosine
    re-rank.  At 100 TB the signature column is the only thing the
    first-phase scan reads.

    Engine determinism: signatures are exact integer sums of powers of
    two; Hamming is exact; the shortlist cuts at (hamming ASC, vec_id
    ASC) and the re-rank at (6dp cosine DESC, vec_id ASC) — identical
    elections in both engines, no fp anywhere before the re-rank."""
    emb = load_table(spark, sf_dir, "embeddings")
    sig = emb.select(
        "vec_id",
        "label",
        F.expr(E_SQL).alias("e"),
    ).select(
        "vec_id",
        "label",
        "e",
        F.expr(_bq_half("e", True, True)).alias("b_lo"),
        F.expr(_bq_half("e", False, True)).alias("b_hi"),
    )
    anchor = sig.filter(F.col("vec_id") == ANCHOR_ID).select(
        F.col("e").alias("q"),
        F.col("b_lo").alias("q_lo"),
        F.col("b_hi").alias("q_hi"),
    )
    ham = F.expr("bit_count(b_lo ^ q_lo) + bit_count(b_hi ^ q_hi)")
    shortlist = (
        sig.filter(F.col("vec_id") != ANCHOR_ID)
        .crossJoin(F.broadcast(anchor))
        .select(
            "vec_id",
            "label",
            "e",
            "q",
            ham.cast("int").alias("hamming"),
        )
        .orderBy(F.asc("hamming"), F.asc("vec_id"))
        .limit(BQ_CAND)
    )
    cos = _dot("e", "q") / (_norm("e") * _norm("q"))
    return (
        shortlist.select(
            "vec_id",
            "label",
            "hamming",
            F.round(cos, 6).alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
        .limit(BQ_TOP_K)
    )


def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID retrieval — reciprocal-rank fusion of the lexical arm
    (``text_bm25_topk`` over the documents corpus) and the vector arm
    (``sim_ann_cosine_topk`` over the aligned embeddings corpus;
    doc_id == vec_id is the corpus mapping), the fusion every RAG stack
    runs when neither arm alone recalls enough:
    ``rrf = Σ_arms 1/(RRF_K + rank)``.

    Composes the two already-gated queries, so the fused result is
    consistent with each arm's own oracle by construction (the
    ``sim_recall_audit`` pattern); the fusion itself adds only
    top-k-sized rank windows and a k-row full-outer join — free at any
    corpus size.  Determinism: ranks are row_numbers over each arm's
    own deterministic ordering; the two reciprocal terms are divisions
    of exact small ints added in fixed written order; an arm that
    missed a doc contributes rank 0 (displayed) and 0.0 (score) so no
    nullable-int rendering ambiguity exists."""
    from pyspark.sql import Window

    from spark_spotify.analytics.textops import q_bm25_topk

    bm = q_bm25_topk(spark, sf_dir).select("doc_id", "score")
    w_b = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    bm_r = bm.select(
        "doc_id", F.row_number().over(w_b).alias("bm25_rank")
    )
    vec = q_ann_cosine_topk(spark, sf_dir).select(
        F.col("vec_id").alias("doc_id"), "cosine_sim"
    )
    w_v = Window.orderBy(F.desc("cosine_sim"), F.asc("doc_id"))
    vec_r = vec.select(
        "doc_id", F.row_number().over(w_v).alias("vec_rank")
    )
    z = F.lit(0)
    rrf = F.when(
        F.col("bm25_rank") > 0,
        F.lit(1.0) / (F.lit(RRF_K) + F.col("bm25_rank")),
    ).otherwise(F.lit(0.0)) + F.when(
        F.col("vec_rank") > 0,
        F.lit(1.0) / (F.lit(RRF_K) + F.col("vec_rank")),
    ).otherwise(F.lit(0.0))
    return (
        bm_r.join(vec_r, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.coalesce("bm25_rank", z).alias("bm25_rank"),
            F.coalesce("vec_rank", z).alias("vec_rank"),
        )
        .select(
            "doc_id",
            "bm25_rank",
            "vec_rank",
            F.round(rrf, 6).alias("rrf_score"),
        )
        .orderBy(F.desc("rrf_score"), F.asc("doc_id"))
        .limit(BQ_TOP_K)
    )


QUERIES = {
    "sim_kmeans_train": q_kmeans_train,
    "sim_hard_negatives": q_hard_negatives,
    "sim_ann_cosine_topk": q_ann_cosine_topk,
    "sim_ann_cosine_pandas": q_ann_cosine_pandas,
    "sim_ann_prefilter_topk": q_ann_prefilter_topk,
    "sim_ann_lsh_topk": q_ann_lsh_topk,
    "sim_ann_lsh_multiprobe": q_ann_lsh_multiprobe,
    "sim_ann_ivf_topk": q_ann_ivf_topk,
    "sim_ann_ivf_multiprobe": q_ann_ivf_multiprobe,
    "sim_matryoshka_audit": q_matryoshka_audit,
    "sim_ann_ivfpq_topk": q_ann_ivfpq_topk,
    "sim_ann_batch_topk": q_ann_batch_topk,
    "sim_kmeans_step": q_kmeans_step,
    "sim_label_cohesion": q_label_cohesion,
    "sim_quantize_int8": q_quantize_int8,
    "sim_pq_audit": q_pq_audit,
    "sim_recall_audit": q_recall_audit,
    "sim_pandas_exact_agreement": q_pandas_exact_agreement,
}

QUERIES["sim_bq_hamming"] = q_bq_hamming
QUERIES["sim_rrf_fusion"] = q_rrf_fusion

_BQ_NORM_E = (
    "sqrt(list_reduce(list_transform(list_zip(e, e), p -> p[1] * p[2]), "
    "(acc, x) -> acc + x))"
)
_BQ_NORM_Q = (
    "sqrt(list_reduce(list_transform(list_zip(q, q), p -> p[1] * p[2]), "
    "(acc, x) -> acc + x))"
)
_BQ_DOT = (
    "list_reduce(list_transform(list_zip(e, q), p -> p[1] * p[2]), "
    "(acc, x) -> acc + x)"
)

ORACLE["sim_bq_hamming"] = f"""
WITH v AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings
),
sig AS (
  SELECT vec_id, label, e,
         ({_bq_half('e', True, False)}) AS b_lo,
         ({_bq_half('e', False, False)}) AS b_hi
  FROM v
),
anchor AS (
  SELECT e AS q, b_lo AS q_lo, b_hi AS q_hi FROM sig
  WHERE vec_id = {ANCHOR_ID}
),
short AS (
  SELECT s.vec_id, s.label, s.e, a.q,
         CAST(bit_count(xor(s.b_lo, a.q_lo))
              + bit_count(xor(s.b_hi, a.q_hi)) AS INTEGER) AS hamming
  FROM sig s CROSS JOIN anchor a
  WHERE s.vec_id <> {ANCHOR_ID}
  ORDER BY hamming ASC, s.vec_id ASC
  LIMIT {BQ_CAND}
)
SELECT vec_id, label, hamming,
       round({_BQ_DOT} / ({_BQ_NORM_E} * {_BQ_NORM_Q}), 6) AS cosine_sim
FROM short
ORDER BY cosine_sim DESC, vec_id ASC
LIMIT {BQ_TOP_K}
"""

from spark_spotify.analytics import textops as _textops  # noqa: E402

ORACLE["sim_rrf_fusion"] = f"""
WITH bm AS (
  SELECT doc_id, score FROM ({_textops.ORACLE['text_bm25_topk']})
),
bm_r AS (
  SELECT doc_id, row_number() OVER (
    ORDER BY score DESC, doc_id ASC) AS bm25_rank
  FROM bm
),
vec AS (
  SELECT vec_id AS doc_id, cosine_sim
  FROM ({ORACLE['sim_ann_cosine_topk']})
),
vec_r AS (
  SELECT doc_id, row_number() OVER (
    ORDER BY cosine_sim DESC, doc_id ASC) AS vec_rank
  FROM vec
),
f AS (
  SELECT COALESCE(b.doc_id, v.doc_id) AS doc_id,
         COALESCE(b.bm25_rank, 0) AS bm25_rank,
         COALESCE(v.vec_rank, 0) AS vec_rank
  FROM bm_r b FULL OUTER JOIN vec_r v ON b.doc_id = v.doc_id
)
SELECT doc_id, bm25_rank, vec_rank,
       round((CASE WHEN bm25_rank > 0
                   THEN 1.0 / ({RRF_K} + bm25_rank) ELSE 0.0 END)
             + (CASE WHEN vec_rank > 0
                     THEN 1.0 / ({RRF_K} + vec_rank) ELSE 0.0 END),
             6) AS rrf_score
FROM f
ORDER BY rrf_score DESC, doc_id ASC
LIMIT {BQ_TOP_K}
"""
