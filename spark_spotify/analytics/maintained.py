"""Maintained index artifacts over the versioned warehouse.

Converts the engine's central 100 TB scaling claim — "ANN cell
assignments and dedup fingerprint/signature tables are MAINTAINED
warehouse artifacts, not per-query recomputes" — from SCALE.md prose
into hard gates.  Each gate:

1. BUILDS the index as a warehouse TABLE at v1 (base table = batch 1);
2. APPENDS batch 2 to the base table and maintains the index by
   consuming ONLY that commit's delta — the append-only change feed is
   the manifest part diff (``q_snapshot_diff``'s O(changed-parts)
   metadata arithmetic + a read of exactly the new parts), so
   maintenance cost is O(batch), never O(corpus);
3. PROVES the O(batch) claim by part/row accounting (the v1 index
   parts are byte-untouched, the one new part holds exactly
   batch-count rows — the same inode-style proof the MOR/DV gates
   use);
4. SERVES the query from the maintained index and asserts, in-engine,
   that the result is row-identical to the from-scratch recompute —
   and the DuckDB oracle IS the full recompute (shared verbatim with
   the recompute gate's oracle, so the two can never drift).

Reference parity note: donydony228/SpotifyDataPipeline recomputes
everything per request (app/api/*.py re-issue full SQL per call); the
maintained-artifact surface is beyond-reference engine capability in
the LLM-pipeline family (SURVEY.md §2 extension operators).

Why the quantizer is FROZEN at index build: an IVF index is only
incrementally maintainable if assignments are stable — re-deriving
centroids per batch would reassign the whole corpus (O(corpus) churn).
Freezing is exactly what FAISS/Milvus/Vespa do between retrains; the
committed ``ann_centroids`` table is the frozen artifact, and both the
maintenance path and the recompute path read it (never re-derive it),
so maintained == recomputed holds bit-for-bit.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from contextlib import ExitStack

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_spotify.analytics import neardup as _neardup
from spark_spotify.analytics import similarity as _similarity
from spark_spotify.analytics.similarity import (
    ANCHOR_ID,
    E_SQL,
    IVF_TOP_K,
    N_CELLS,
    PQ_CENTS,
    PQ_SUB,
    _dot,
    _norm,
    assign_cells,
    assign_pq_codes,
    centroid_rows,
    ivfadc_topk,
    pq_codebook_rows,
    scaled_k,
    topk_from_cells,
    vec_view,
)
from spark_spotify.functions import require
from spark_spotify.functions.checkpoint import stable_checkpoint
from spark_spotify.functions.concurrency import overlap
from spark_spotify.functions.scratch import scratch, session_scratch
from spark_spotify.operators.dedup import corpus_index, incremental_near_dups
from spark_spotify.operators.topk import top_k
from spark_spotify.sources.tables import fan_out, land_file, load_table
from spark_spotify.warehouse import (
    change_feed,
    commit_append,
    delete_rows,
    manifest_parts,
    part_inodes,
    part_rows,
    path_rows,
    read_table,
)


def _added_parts_read(
    spark: SparkSession, warehouse: str, table: str, v_from: int, v_to: int
) -> DataFrame:
    """The append-only change feed: read exactly the parts that commits
    (v_from, v_to] added — O(changed-parts) manifest arithmetic plus a
    scan of only the new bytes.  This is Delta/Iceberg incremental-read
    semantics for append-only tables; rewriting commits would need the
    row-level ``change_feed``/``row_lineage_feed`` instead."""
    before = set(manifest_parts(warehouse, table, v_from) or [])
    added = [
        p
        for p in (manifest_parts(warehouse, table, v_to) or [])
        if p not in before
    ]
    require(bool(added), f"{table}: no parts added in ({v_from}, {v_to}]")
    return spark.read.parquet(
        *[os.path.join(warehouse, table, p) for p in added]
    )


def _ann_late(k: int = N_CELLS) -> F.Column:
    """Batch-2 membership: every 4th vector past the centroid prefix
    arrives late.  The first ``k`` vectors (the frozen quantizer) are
    pinned to batch 1 so "centroids = first k corpus vectors" names
    the same set in both the maintained path and the recompute oracle.
    (A function, not a module constant: Column construction needs a
    live JVM, and this module imports before the session.)"""
    return (F.col("vec_id") >= k) & (F.col("vec_id") % 4 == 1)


def _require_one_new_part(
    w: str, table: str, v1_parts: list[str], expect: int
) -> list[str]:
    """The O(batch) maintenance proof, from manifests and parquet
    footers alone (no Spark job): the v1 parts stay the prefix of the
    head manifest, exactly one part was added, and it holds ``expect``
    rows.  Returns the head manifest."""
    head = manifest_parts(w, table) or []
    require(
        head[: len(v1_parts)] == v1_parts
        and len(head) == len(v1_parts) + 1,
        f"{table}: maintenance rewrote history: {v1_parts} -> {head}",
    )
    got = part_rows(w, table, head[len(v1_parts) :])
    require(
        got == expect,
        f"{table}: maintenance added {got} rows, expected {expect}",
    )
    return head


def _served_witness(
    served: DataFrame, recompute: Callable[[], DataFrame], what: str
) -> DataFrame:
    """The in-engine equality witness: the maintained serve and the
    from-scratch recompute are independent plans, materialized
    concurrently (§2.6).  Both are k-row results, so collected row sets
    compare directly instead of two exceptAll joins re-running the
    plans.  Returns the checkpointed serve."""
    out, rec_rows = overlap(
        lambda: stable_checkpoint(served),
        lambda: recompute().collect(),
    )
    require(
        sorted(map(tuple, out.collect())) == sorted(map(tuple, rec_rows)),
        f"{what} != from-scratch recompute",
    )
    return out


def _recompute_topk(corpus: DataFrame, cents: DataFrame) -> DataFrame:
    """Single-probe top-k over a from-scratch assignment of ``corpus``
    against the frozen centroids — what every maintained serve must
    equal."""
    return topk_from_cells(corpus.join(assign_cells(corpus, cents), "vec_id"))


def _factory(
    build: Callable[[SparkSession, str, str], dict],
    serve: Callable[[SparkSession, str, dict], DataFrame],
    drop: Callable[[SparkSession, str], None] | None = None,
) -> Callable:
    """A serve-only bench factory from a gate's own ``build`` and
    ``serve``: the build runs untimed in a scratch warehouse, and
    ``(serve, cleanup)`` come back for the caller to time and release.
    No proofs run here; the gates own correctness."""

    def make(spark: SparkSession, sf_dir: str):
        # callbacks run last-in first-out: tables drop before the dir goes
        cleanup = ExitStack()
        w = cleanup.enter_context(scratch("srv"))
        if drop is not None:
            cleanup.callback(drop, spark, w)
        try:
            state = build(spark, sf_dir, w)
        except BaseException:
            cleanup.close()
            raise
        return (lambda: serve(spark, w, state), cleanup.close)

    return make


def _ann_serve(spark: SparkSession, w: str, state: dict) -> DataFrame:
    """Single-probe top-k over the maintained cell index at ``w``."""
    live = vec_view(fan_out(read_table(spark, w, "emb")))
    return topk_from_cells(
        live.join(read_table(spark, w, "ann_index"), "vec_id")
    )


def _build_ann_append(
    spark: SparkSession, sf_dir: str, w: str, k: int = N_CELLS
) -> dict:
    """The append-maintained ANN end state under a frozen ``k``-cell
    quantizer: v1 = corpus minus the late batch, centroids = the first
    ``k`` vectors, index v1 = their assignments; then batch 2 lands and
    the index is maintained from ONLY the appended parts.  Returns the
    frozen centroids and the v1 index parts."""
    emb = load_table(spark, sf_dir, "embeddings")
    commit_append(emb.filter(~_ann_late(k)), w, "emb", 1)
    base1 = vec_view(fan_out(read_table(spark, w, "emb")))
    commit_append(centroid_rows(base1, k), w, "ann_centroids", 1)
    cents = read_table(spark, w, "ann_centroids")
    # the v1 index build and the base-table append touch disjoint
    # tables — overlapped (§2.6)
    overlap(
        lambda: commit_append(assign_cells(base1, cents), w, "ann_index", 1),
        lambda: commit_append(emb.filter(_ann_late(k)), w, "emb", 2),
    )
    idx_v1 = list(manifest_parts(w, "ann_index") or [])
    # index maintenance consumes ONLY the append's delta
    batch = _added_parts_read(spark, w, "emb", 1, 2)
    commit_append(
        assign_cells(vec_view(fan_out(batch)), cents), w, "ann_index", 2
    )
    return {"cents": cents, "idx_v1": idx_v1}


def _build_ann_scaled(spark: SparkSession, sf_dir: str, w: str) -> dict:
    return _build_ann_append(spark, sf_dir, w, scaled_k(sf_dir))


def _ann_maintained(spark: SparkSession, sf_dir: str, k: int) -> DataFrame:
    """The maintained-ANN gate at K=k: build, O(batch) accounting,
    served ∥ recompute witness."""
    with scratch("annm") as w:
        st = _build_ann_append(spark, sf_dir, w, k)
        # accounting from manifests + parquet footers alone (no Spark
        # job): K centroids, v1 index parts untouched, one new part of
        # exactly batch-count rows, full corpus covered once
        n_cents = part_rows(
            w, "ann_centroids", manifest_parts(w, "ann_centroids") or []
        )
        require(n_cents == k, f"quantizer holds {n_cents} of {k} centroids")
        head = _require_one_new_part(
            w, "ann_index", st["idx_v1"], part_rows(w, "emb", ["p2"])
        )
        n_corpus = part_rows(w, "emb", manifest_parts(w, "emb") or [])
        n_idx = part_rows(w, "ann_index", head)
        require(
            n_idx == n_corpus,
            f"index covers {n_idx} of {n_corpus} corpus rows",
        )
        live = vec_view(fan_out(read_table(spark, w, "emb")))
        return _served_witness(
            _ann_serve(spark, w, st),
            lambda: _recompute_topk(live, st["cents"]),
            f"K={k} maintained index serve",
        )


def q_ann_maintained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintained-ANN-index gate (VERDICT r7 #1): the IVF cell
    assignment lives as warehouse table ``ann_index`` and an append to
    the base table maintains it INCREMENTALLY —

    - v1: base table = corpus minus every 4th vector; centroids (first
      {N_CELLS} vectors) committed as ``ann_centroids``; ``ann_index``
      v1 = assignments of the v1 corpus.
    - append: batch 2 lands on the base table; maintenance reads ONLY
      the appended parts (manifest part diff), assigns ONLY those
      vectors against the frozen committed centroids, and appends ONE
      index part.
    - accounting proof: ``ann_index`` v1 parts survive byte-untouched
      as the v2 prefix, the single new part holds exactly batch-2-count
      rows, and the index covers each corpus row exactly once.
    - serve: single-probe top-k JOINs the live index (cell lookup →
      candidate fetch) — and must be row-identical to the from-scratch
      assignment of the full corpus (asserted in-engine; the DuckDB
      oracle is ``sim_ann_ivf_topk``'s full-recompute SQL, shared
      verbatim).

    At 100 TB: ann_index is partitioned by cell (probe = partition
    pruning), the batch assignment is a broadcast join over O(batch)
    rows, and the quantizer stays frozen between retrains — exactly the
    FAISS-style IVF maintenance loop, expressed as warehouse commits."""
    return _ann_maintained(spark, sf_dir, N_CELLS)


def q_ann_maintained_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-scaled cell count for the maintained family (VERDICT r8
    prescription #2): ``sim_ann_maintained`` freezes K={N_CELLS} cells
    — correct maintenance semantics, but a FIXED K makes per-cell
    candidate lists grow linearly with the corpus (the trade
    ``sim_ann_ivf_multiprobe`` measured at 3.8× per 10×).  This gate
    runs the same maintenance contract with K derived from corpus size
    — K = floor(sqrt(n)), the standard IVF balance
    ``sim_hard_negatives`` already uses, under which broadcast
    assignment (n·K dots) and probe cost (n/K candidates) are both
    n^1.5-bounded.  The K-prefix is pinned to batch 1 so "centroids =
    first K corpus vectors" names the same set in both engines.

    K derives from the FULL corpus count in closed form (one scalar
    aggregate) so the late-split, both engines, and the oracle share a
    single definition; at a retrain boundary (``sim_ann_retrain``) K
    re-derives from the grown corpus.  The 10× posture this buys:
    probe candidate volume is n/K = sqrt(n) — 3.2× per 10× instead of
    the fixed-K 10×.  Oracle: the ``sim_ann_ivf_topk`` recompute SQL
    with the cell prefix parameterized by the same derived K."""
    return _ann_maintained(spark, sf_dir, scaled_k(sf_dir))


INCR_MOD = 5


def _dedup_early() -> F.Column:
    """Index-side corpus split: the index universe is doc_id % 5 != 0
    (matching dedup_incremental's, so the oracle is shared verbatim);
    within it, %5 in (1,2) arrives at v1 and %5 in (3,4) arrives
    late."""
    return F.col("doc_id") % INCR_MOD <= 2


def _dedup_serve(spark: SparkSession, w: str, state: dict) -> DataFrame:
    """Dedup the incoming batch against the maintained index at ``w``."""
    return incremental_near_dups(
        state["batch"], index=read_table(spark, w, "dedup_index")
    )


def _build_dedup(spark: SparkSession, sf_dir: str, w: str) -> dict:
    """The append-maintained dedup index: v1 = the early half of the
    corpus, then the late half lands and the index hashes ONLY the
    appended parts.  Returns the incoming batch and the v1 index
    parts."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % INCR_MOD != 0)
    # the v1 docs commit is an exact copy of the early slice, so the v1
    # index build derives from the SOURCE relation (row-identical) —
    # disjoint tables, overlapped (§2.6).  The O(batch) maintenance
    # claim is untouched: the v2 delta index still consumes ONLY the
    # committed append's parts.
    early = corpus.filter(_dedup_early())
    overlap(
        lambda: commit_append(early, w, "docs", 1),
        lambda: commit_append(corpus_index(early), w, "dedup_index", 1),
    )
    idx_v1 = list(manifest_parts(w, "dedup_index") or [])
    commit_append(corpus.filter(~_dedup_early()), w, "docs", 2)
    batch = _added_parts_read(spark, w, "docs", 1, 2)
    commit_append(corpus_index(batch), w, "dedup_index", 2)
    return {
        "batch": docs.filter(F.col("doc_id") % INCR_MOD == 0),
        "idx_v1": idx_v1,
    }


def q_dedup_incremental_maintained(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Maintained-dedup-index gate (VERDICT r7 #2): the corpus
    fingerprint + MinHash signature index (``corpus_index``'s (doc_id,
    fp, shingles, sig) artifact) lives as warehouse table
    ``dedup_index`` and is maintained per ingestion batch —

    - v1: docs table = 2/4 of the corpus; ``dedup_index`` v1 = that
      half's fingerprints/signatures.
    - append: the other half lands; maintenance hashes ONLY the
      appended parts (manifest part diff — the per-doc fingerprint and
      signature depend on nothing but the doc itself, which is what
      makes the index append-maintainable at all) and appends ONE
      index part.
    - accounting proof: v1 parts byte-untouched, one new part with
      exactly batch-count rows, every corpus doc indexed once.
    - serve: the incoming batch (doc_id % 5 == 0) is deduped against
      the MAINTAINED index via ``incremental_near_dups(index=...)`` —
      a fingerprint lookup plus a band join against index-derived band
      rows, candidates batch-bounded.  The DuckDB oracle is
      ``dedup_incremental``'s full-recompute SQL, shared verbatim:
      maintained == recomputed is the entire claim.

    At 100 TB: dedup_index is bucketed by fp / band value, the batch
    check is a co-partitioned lookup, and per-batch cost is
    O(batch + candidates) — this gate pins the accounting half of that
    posture (only batch bytes are hashed per maintenance commit)."""
    with scratch("dedm") as w:
        st = _build_dedup(spark, sf_dir, w)
        head = _require_one_new_part(
            w, "dedup_index", st["idx_v1"], part_rows(w, "docs", ["p2"])
        )
        require(
            part_rows(w, "dedup_index", head)
            == part_rows(w, "docs", manifest_parts(w, "docs") or []),
            "maintained dedup index does not cover the corpus exactly",
        )
        return _dedup_serve(spark, w, st)


def _build_ann_dv(spark: SparkSession, sf_dir: str, w: str) -> dict:
    """The full corpus, its frozen centroids and cell index, then a MOR
    erasure on the base table propagated to the index through the
    row-level change feed, as the index's own MOR delete.  Returns the
    centroids, both tables' inodes from BEFORE the erasure, and the
    feed rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    # the emb commit is an exact copy of the source relation, so the
    # centroid+index build chain derives from the SOURCE view
    # (row-identical to the committed table) and overlaps with the
    # base-table commit — disjoint tables, no data dependency (§2.6)
    base1 = vec_view(fan_out(emb))

    def _build_index() -> DataFrame:
        commit_append(centroid_rows(base1), w, "ann_centroids", 1)
        cents = read_table(spark, w, "ann_centroids")
        commit_append(assign_cells(base1, cents), w, "ann_index", 1)
        return cents

    _, cents = overlap(lambda: commit_append(emb, w, "emb", 1), _build_index)
    inodes = {t: part_inodes(w, t) for t in ("emb", "ann_index")}
    # the erasure batch: every 7th vector above the centroid prefix
    erase = (F.col("vec_id") >= N_CELLS) & (F.col("vec_id") % 7 == 3)
    delete_rows(spark, w, "emb", erase, "er1", mode="mor")
    # row feed between the two base versions.  SLIM projection —
    # classifying deletes needs the key only, and a full-column diff
    # would drag the 64-double arrays through the full-outer join for
    # nothing (measured ~2x on this gate).  ONE delta-sized collect
    # feeds both the gate's kind check and the erased-key list.
    feed_rows = (
        change_feed(
            read_table(spark, w, "emb", version=1).select("vec_id", "label"),
            read_table(spark, w, "emb").select("vec_id", "label"),
            "vec_id",
        )
        .select("vec_id", "_change_type")
        .collect()
    )
    gone = [r["vec_id"] for r in feed_rows]
    delete_rows(
        spark, w, "ann_index", F.col("vec_id").isin(gone), "ixd", mode="mor"
    )
    return {"cents": cents, "inodes": inodes, "feed": feed_rows}


def _require_pure_delete_feed(st: dict, w: str, what: str) -> None:
    """A MOR erasure gate's proof: the feed holds only (and some)
    deletes, and no part of either table was rewritten."""
    kinds = {r["_change_type"] for r in st["feed"]}
    require(
        kinds == {"delete"}, f"{what} feed carries non-delete rows: {kinds}"
    )
    require(bool(st["feed"]), f"{what} batch unexpectedly empty")
    require(
        {t: part_inodes(w, t) for t in st["inodes"]} == st["inodes"],
        f"MOR {what} rewrote part bytes",
    )


def q_ann_maintained_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index maintenance under DELETE — the erasure half of the
    maintained-ANN contract (``sim_ann_maintained`` covers appends): a
    GDPR-style deletion on the base table must propagate to the index
    WITHOUT rewriting either table.

    - the full corpus lands as ``emb`` v1; frozen centroids + cell
      index built as in ``sim_ann_maintained``;
    - the erasure batch (every 7th vector above the centroid prefix)
      is deleted from the base table MERGE-ON-READ: a deletion-vector
      sidecar, zero part rewrites;
    - index maintenance consumes the row-level change feed between the
      two base versions (all ``delete`` rows, asserted), and applies
      the same erasure to the index AS ITS OWN MOR DELETE — sidecar
      bytes O(deleted rows), every index part byte-untouched
      (inode-proven for BOTH tables);
    - serve from the maintained index must equal the from-scratch
      recompute over the head corpus (asserted in-engine; the oracle
      is the recompute SQL over the corpus minus the erased set).

    At 100 TB this is the shape that makes takedowns affordable: base
    and index each write O(deleted) sidecar bytes, and the next
    OPTIMIZE materializes both away."""
    with scratch("annd") as w:
        st = _build_ann_dv(spark, sf_dir, w)
        _require_pure_delete_feed(st, w, "erasure")
        # serve from the maintained (DV-filtered) index vs recompute
        live = vec_view(fan_out(read_table(spark, w, "emb")))
        return _served_witness(
            _ann_serve(spark, w, st),
            lambda: _recompute_topk(live, st["cents"]),
            "post-delete maintained index serve",
        )


def _build_ann_prune(spark: SparkSession, sf_dir: str, w: str) -> dict:
    """The full corpus with its cell index committed ONE PART PER CELL
    (files keep the cell column, a duplicated partition key, so footer
    stats drive pruning).  Returns the corpus view and centroids."""
    import glob as _glob

    from spark_spotify.warehouse import commit

    emb = load_table(spark, sf_dir, "embeddings")
    commit_append(emb, w, "emb", 1)
    vecs = vec_view(fan_out(read_table(spark, w, "emb")))
    commit_append(centroid_rows(vecs), w, "ann_centroids", 1)
    cents = read_table(spark, w, "ann_centroids")
    tmp = os.path.join(w, "_ix_out")
    (
        assign_cells(vecs, cents)
        .withColumn("cell_pk", F.col("cell"))
        .repartition("cell_pk")
        .write.partitionBy("cell_pk")
        .parquet(tmp)
    )
    os.makedirs(os.path.join(w, "ann_index"))
    parts = []
    for d in sorted(_glob.glob(os.path.join(tmp, "cell_pk=*"))):
        pname = f"cell{int(d.rsplit('=', 1)[1])}"
        os.rename(d, os.path.join(w, "ann_index", pname))
        parts.append(pname)
    commit(w, "ann_index", parts=sorted(parts))
    return {"vecs": vecs, "cents": cents}


def _prune_serve(spark: SparkSession, w: str, state: dict) -> DataFrame:
    """Quantize the QUERY vector against the frozen centroids (the
    serving path computes the probe cell, it never scans for it), open
    only the index parts whose stats admit that cell, and re-rank the
    candidates exactly."""
    from spark_spotify.warehouse import read_table_where

    vecs = state["vecs"]
    anchor = vecs.filter(F.col("vec_id") == ANCHOR_ID)
    qcell = assign_cells(anchor, state["cents"]).collect()[0]["cell"]
    cand = read_table_where(
        spark, w, "ann_index", [("cell", "=", qcell)]
    ).select("vec_id", "cell")
    return topk_from_cells(vecs.join(cand, "vec_id"))


def q_ann_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell-partitioned index layout — converts the standing docstring
    claim "at 100 TB the cell id is the partition key and probing is
    partition pruning" (``sim_ann_ivf_topk``) into a manifest-gated
    proof: the cell index is committed ONE PART PER CELL, the query
    vector is quantized against the frozen centroids (a broadcast
    compute, never a corpus lookup), and the served plan opens exactly
    ONE index part — the anchor's cell, 1/{N_CELLS} of the index,
    which is precisely what FAISS's inverted lists buy.  Candidate
    embeddings are then fetched by a vec_id join against the base
    table and exactly re-ranked.  Result must be row-identical to the
    single-probe recompute (oracle shared verbatim with
    ``sim_ann_ivf_topk``)."""
    with scratch("annp") as w:
        st = _build_ann_prune(spark, sf_dir, w)
        served = _prune_serve(spark, w, st)
        # the files the served plan opens (driver-side listing, no job)
        ix = os.path.join(w, "ann_index") + "/"
        opened = {
            f.split(ix, 1)[1].split("/", 1)[0]
            for f in served.inputFiles()
            if ix in f
        }
        # materialize before the temp warehouse is torn down
        out = stable_checkpoint(served)
        cells = {f"cell{r['cell']}" for r in out.select("cell").collect()}
        require(
            len(opened) == 1 and cells <= opened,
            f"cell probe opened {sorted(opened)} of "
            f"{manifest_parts(w, 'ann_index')}, served cells {sorted(cells)}",
        )
        return out


def q_stream_ann_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING maintenance of the ANN cell index — the maintained-
    index contract driven by Structured Streaming instead of batch
    commits: embedding arrivals land as a checkpointed file stream
    (``maxFilesPerTrigger=1``), the frozen quantizer is committed
    BEFORE the stream starts (the retrain boundary), and each
    micro-batch is assigned against those centroids and appended to
    the index table under the replica-version idempotency guard
    (foreachBatch is at-least-once; index version batch_id+1 already
    committed ⇒ the batch already applied — the same txnVersion
    protocol as ``stream_cdf_follow``).  Run 1 indexes arrival 1;
    arrival 2 lands; run 2 RESTARTS from the checkpoint and assigns
    exactly the new vectors (asserted); a third restart with no new
    arrivals applies nothing (asserted).  After the drain the index
    covers the corpus exactly once (footer accounting) and the serve
    equals the from-scratch recompute — the oracle is
    ``sim_ann_ivf_topk``'s full-recompute SQL, shared verbatim.

    At 100 TB this is the live half of the FAISS-style loop: the
    ingestion stream maintains inverted lists incrementally per
    trigger, cost O(arrivals), while searches read the committed
    snapshot."""
    emb = load_table(spark, sf_dir, "embeddings")
    base = session_scratch("annstream")
    src = os.path.join(base, "arrivals")
    os.makedirs(src)

    def land(df: DataFrame, name: str) -> int:
        return land_file(df, base, src, name)

    land(emb.filter(~_ann_late()), "b1")
    # frozen quantizer from the first arrival, committed up front
    first = vec_view(spark.read.parquet(os.path.join(src, "b1.parquet")))
    commit_append(centroid_rows(first), base, "ann_centroids", 1)
    cents = read_table(spark, base, "ann_centroids")
    applied: dict = {}

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        from spark_spotify.warehouse import current_version

        if current_version(base, "ann_index") >= batch_id + 1:
            return
        commit_append(
            assign_cells(vec_view(batch_df), cents),
            base,
            "ann_index",
            batch_id + 1,
        )
        # batch cardinality from the JUST-COMMITTED index part's
        # footers: assign_cells emits exactly one row per batch vector,
        # so the batch plan executes once (in the commit) instead of
        # once more for a count job (§1.2).  The value is still derived
        # from what the sink actually indexed — the accounting asserts
        # below keep their evidential force.  (batch_df.inputFiles()
        # resolves empty inside foreachBatch, so the source-footer
        # shortcut is unavailable.)
        applied[batch_id] = part_rows(
            base, "ann_index", [f"p{batch_id + 1}"]
        )

    def run() -> None:
        q = (
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", os.path.join(base, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination()
        finally:
            q.stop()

    run()
    land(emb.filter(_ann_late()), "b2")
    run()
    n2 = part_rows(base, "ann_index", ["p2"])
    require(
        applied.get(1, 0) == n2 and n2 > 0,
        f"restart must index exactly arrival 2 ({applied} vs {n2})",
    )
    before = dict(applied)
    run()  # no new arrivals: the checkpointed stream applies nothing
    require(applied == before, "idle restart re-applied batches")
    idx_parts = manifest_parts(base, "ann_index") or []
    n_idx = part_rows(base, "ann_index", idx_parts)
    corpus = vec_view(fan_out(spark.read.parquet(src)))
    n_corpus = path_rows(os.path.join(base, "arrivals"))
    require(
        n_idx == n_corpus,
        f"index covers {n_idx} of {n_corpus} streamed vectors",
    )
    return _served_witness(
        topk_from_cells(
            corpus.join(read_table(spark, base, "ann_index"), "vec_id")
        ),
        lambda: _recompute_topk(corpus, cents),
        "stream-maintained index serve",
    )


_EPOCH_HI = 3 * N_CELLS  # epoch-2 quantizer = vec_ids [N_CELLS, 3*N_CELLS)


def _epoch_late2() -> F.Column:
    """The arrival indexed under the epoch-2 quantizer."""
    return (F.col("vec_id") >= _EPOCH_HI) & (F.col("vec_id") % 5 == 3)


def _epoch2_centroids(vecs: DataFrame, path: str) -> None:
    """Stage the 2x-wider epoch-2 quantizer at ``path`` (one file)."""
    vecs.filter(
        (F.col("vec_id") >= N_CELLS) & (F.col("vec_id") < _EPOCH_HI)
    ).select(
        F.col("vec_id").alias("cent_id"),
        F.col("emb").alias("cvec"),
        F.col("nrm").alias("cnrm"),
    ).coalesce(1).write.parquet(path)


def _epoch_serve(spark: SparkSession, w: str, state: dict) -> DataFrame:
    """Mixed-epoch probe over ``state["corpus"]`` and the index at
    ``w``: the anchor is quantized under BOTH epochs (two independent
    jobs, overlapped), epoch-1 rows are probed with its epoch-1 cell
    and epoch-2 rows with its epoch-2 cell, and the union is re-ranked
    exactly."""
    corpus = state["corpus"]
    anchor = corpus.filter(F.col("vec_id") == ANCHOR_ID)
    acell = dict(
        zip(
            (1, 2),
            overlap(
                *[
                    (
                        lambda ep=ep: assign_cells(
                            anchor,
                            read_table(spark, w, "ann_centroids", version=ep),
                        ).collect()[0]["cell"]
                    )
                    for ep in (1, 2)
                ]
            ),
        )
    )
    cand = read_table(spark, w, "ann_index").filter(
        (
            (F.col("epoch") == 1) & (F.col("cell") == acell[1])
            | (F.col("epoch") == 2) & (F.col("cell") == acell[2])
        )
        & (F.col("vec_id") != ANCHOR_ID)
    ).select("vec_id", "epoch")
    q = anchor.select(F.col("emb").alias("qe"), F.col("nrm").alias("qn"))
    cos = _dot("emb", "qe") / (F.col("nrm") * F.col("qn"))
    return (
        cand.join(corpus, "vec_id")
        .crossJoin(F.broadcast(q))
        .select("vec_id", "epoch", F.round(cos, 6).alias("cosine_sim"))
        .orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
        .limit(IVF_TOP_K)
    )


def _build_ann_epoch(spark: SparkSession, sf_dir: str, w: str) -> dict:
    """Batch replica of ``stream_ann_retrain_swap``'s mixed-epoch end
    state (sealed epoch-1 rows, the swapped epoch-2 quantizer, the
    epoch-2 arrival).  Kept apart from the gate: the gate's index is
    built by a checkpointed foreachBatch stream whose restarts and
    mid-stream swap ARE its proof, and a batch build cannot share
    them."""
    from spark_spotify.warehouse import swing_rebase

    emb = load_table(spark, sf_dir, "embeddings")
    commit_append(emb, w, "emb", 1)
    v = vec_view(fan_out(read_table(spark, w, "emb")))
    commit_append(centroid_rows(v), w, "ann_centroids", 1)
    c1 = read_table(spark, w, "ann_centroids", version=1)
    commit_append(
        assign_cells(v.filter(~_epoch_late2()), c1).withColumn(
            "epoch", F.lit(1).cast("long")
        ),
        w,
        "ann_index",
        1,
    )
    _epoch2_centroids(v, os.path.join(w, "ann_centroids", "p2"))
    swing_rebase(w, "ann_centroids", 1, ["p2"], {"p1"})
    commit_append(
        assign_cells(
            v.filter(_epoch_late2()), read_table(spark, w, "ann_centroids")
        ).withColumn("epoch", F.lit(2).cast("long")),
        w,
        "ann_index",
        2,
    )
    return {"corpus": v}


def q_stream_ann_retrain_swap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantizer swap landing MID-STREAM (VERDICT r8 #7, the streaming
    composition of ``sim_ann_retrain`` and ``stream_ann_maintain``):
    the checkpointed index maintainer must pick up a new quantizer
    EPOCH between micro-batches without double-assigning or dropping a
    batch.

    Protocol fixes the version-arithmetic trap the fixed gate dodges
    (the index version moves for NON-batch reasons once retrains
    exist): idempotency anchors on a dedicated ``txn_log`` table whose
    version advances ONLY per applied batch, and each micro-batch lands
    {{index part, log row}} through the durable-intent multi-table
    commit — at-least-once redelivery skips on the log, a crash between
    the two swings rolls forward.  The index rows carry an ``epoch``
    column = the centroids-table version that assigned them.

    Drill: arrival 1 indexes at epoch 1 → arrival 2 lands, restart
    indexes it at epoch 1 → the RETRAIN SWAP commits centroids v2
    (a 2x-wider quantizer) BETWEEN runs → arrival 3 lands, restart
    assigns it against the NEW quantizer at epoch 2 (asserted; nothing
    re-assigned, nothing dropped — footer accounting proves each corpus
    row indexed exactly once, epoch counts equal batch sizes) → an idle
    restart applies nothing.

    Serving a mixed-epoch index is the real incremental-migration shape
    (sealed segments on the old index generation, growing segments on
    the new — the Milvus/Vespa rollout path): the anchor quantizes
    under BOTH epochs and probes epoch-1 rows with its epoch-1 cell,
    epoch-2 rows with its epoch-2 cell; the union re-ranks exactly.
    Oracle: that two-quantizer recompute from ``embeddings`` alone."""
    from spark_spotify.warehouse import current_version, multi_commit

    emb = load_table(spark, sf_dir, "embeddings")
    late1 = (F.col("vec_id") >= _EPOCH_HI) & (F.col("vec_id") % 5 == 1)
    late2 = _epoch_late2()
    base = session_scratch("annswap")
    src = os.path.join(base, "arrivals")
    os.makedirs(src)

    def land(df: DataFrame, name: str) -> int:
        return land_file(df, base, src, name)

    land(emb.filter(~late1 & ~late2), "b1")
    first = vec_view(spark.read.parquet(os.path.join(src, "b1.parquet")))
    commit_append(centroid_rows(first), base, "ann_centroids", 1)
    applied: dict = {}

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # the dedicated log is the txnVersion: it moves ONLY here, so
        # batch_id arithmetic survives interleaved retrain commits
        if current_version(base, "txn_log") >= batch_id + 1:
            return
        ep = current_version(base, "ann_centroids")
        cents = read_table(spark, base, "ann_centroids")
        part = f"b{batch_id}"
        # the index-part write and the batch count are independent jobs
        # over the same micro-batch — overlapped (§2.6); the txn_log
        # row is two driver-known longs, written directly with pyarrow
        # instead of a Spark job on a 1-row literal relation
        _, applied[batch_id] = overlap(
            lambda: assign_cells(vec_view(batch_df), cents)
            .withColumn("epoch", F.lit(ep).cast("long"))
            .coalesce(1)
            .write.parquet(os.path.join(base, "ann_index", part)),
            batch_df.count,
        )
        import pyarrow as _pa
        import pyarrow.parquet as _pq

        os.makedirs(os.path.join(base, "txn_log", part), exist_ok=True)
        _pq.write_table(
            _pa.table(
                {
                    "batch_id": _pa.array([batch_id], _pa.int64()),
                    "epoch": _pa.array([ep], _pa.int64()),
                }
            ),
            os.path.join(base, "txn_log", part, "part-00000.parquet"),
        )
        multi_commit(
            base,
            {"ann_index": ([part], set()), "txn_log": ([part], set())},
            part,
        )

    def run() -> None:
        q = (
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", os.path.join(base, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination()
        finally:
            q.stop()

    run()
    land(emb.filter(late1), "b2")
    run()
    require(
        current_version(base, "ann_centroids") == 1
        and set(applied) == {0, 1},
        f"pre-swap drill broken: {applied}",
    )
    # ---- the SWAP lands between micro-batches: centroids v2 REPLACES
    # v1 (stage + rebase swing removing p1 — a swap, not an append);
    # the running index is untouched (sealed epoch-1 segments)
    from spark_spotify.warehouse import swing_rebase

    _epoch2_centroids(
        vec_view(fan_out(spark.read.parquet(src))),
        os.path.join(base, "ann_centroids", "p2"),
    )
    swing_rebase(base, "ann_centroids", 1, ["p2"], {"p1"})
    land(emb.filter(late2), "b3")
    run()
    n3 = part_rows(base, "ann_index", ["b2"])
    require(
        applied.get(2, 0) == n3 and n3 > 0,
        f"post-swap restart must index exactly arrival 3 "
        f"({applied} vs {n3})",
    )
    before = dict(applied)
    run()  # idle restart: checkpoint + log guard apply nothing
    require(applied == before, "idle restart re-applied batches")

    # accounting: every corpus row indexed exactly once; epochs split
    # exactly at the swap boundary.  The corpus count comes from the
    # landed arrival files' parquet footers (1:1 projection — no
    # filters, no DVs), so only the per-epoch histogram needs a job.
    idx = read_table(spark, base, "ann_index")
    corpus = vec_view(fan_out(spark.read.parquet(src)))
    n_corpus = path_rows(src)
    ep_rows = (
        idx.groupBy("epoch")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    ep_counts = {r["epoch"]: r["n"] for r in ep_rows}
    require(
        sum(ep_counts.values()) == n_corpus
        and ep_counts.get(2, 0) == n3,
        f"epoch accounting broken: {ep_counts} vs corpus {n_corpus}, "
        f"arrival3 {n3}",
    )

    # ---- mixed-epoch serve
    return stable_checkpoint(_epoch_serve(spark, base, {"corpus": corpus}))


def _ivfadc_serve(spark: SparkSession, w: str, state: dict) -> DataFrame:
    """IVFADC serve entirely from the maintained warehouse artifacts at
    ``w``: tables ``emb``, ``ann_index``, ``pq_codes``, ``pq_codebook``."""
    return ivfadc_topk(
        vec_view(fan_out(read_table(spark, w, "emb"))),
        *(
            read_table(spark, w, t)
            for t in ("ann_index", "pq_codes", "pq_codebook")
        ),
    )


def _build_ann_pq(spark: SparkSession, sf_dir: str, w: str) -> dict:
    """The cell index AND the PQ codes built at v1 against frozen
    committed quantizers, then both maintained from ONLY the appended
    parts of batch 2.  Returns both tables' v1 parts."""
    emb = load_table(spark, sf_dir, "embeddings")
    late = (F.col("vec_id") >= PQ_CENTS) & (F.col("vec_id") % 4 == 1)
    commit_append(emb.filter(~late), w, "emb", 1)
    base1 = vec_view(fan_out(read_table(spark, w, "emb")))
    commit_append(centroid_rows(base1), w, "ann_centroids", 1)
    commit_append(
        pq_codebook_rows(base1.filter(F.col("vec_id") < PQ_CENTS)),
        w,
        "pq_codebook",
        1,
    )
    cents = read_table(spark, w, "ann_centroids")
    cbook = read_table(spark, w, "pq_codebook")
    # v1 index, v1 codes, and the base-table append: three commits to
    # disjoint tables with no data dependency — overlapped (§2.6)
    overlap(
        lambda: commit_append(assign_cells(base1, cents), w, "ann_index", 1),
        lambda: commit_append(
            assign_pq_codes(base1, cbook), w, "pq_codes", 1
        ),
        lambda: commit_append(emb.filter(late), w, "emb", 2),
    )
    v1 = {
        t: list(manifest_parts(w, t) or [])
        for t in ("ann_index", "pq_codes")
    }
    # BOTH artifacts maintained from the append's part diff
    batch = vec_view(fan_out(_added_parts_read(spark, w, "emb", 1, 2)))
    overlap(
        lambda: commit_append(assign_cells(batch, cents), w, "ann_index", 2),
        lambda: commit_append(
            assign_pq_codes(batch, cbook), w, "pq_codes", 2
        ),
    )
    return {"v1": v1}


def q_ann_pq_maintained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintained PQ codes — closes the LAST per-call-recompute IOU in
    SCALE.md's ANN rows ("at 100 TB both [cell assignments and PQ
    codes] are maintained table columns"): the coarse cell index AND
    the 8-subspace PQ codes live as warehouse tables built at v1
    against FROZEN committed quantizers (``ann_centroids`` +
    ``pq_codebook``), and an append to the base table maintains BOTH by
    encoding ONLY the appended parts (manifest part diff) —
    footer-accounted: the cell index gains exactly batch rows, the code
    table exactly batch × {{PQ_SUB}} rows, v1 parts byte-untouched.

    Serving is IVFADC entirely from the maintained artifacts: the
    anchor's cell comes from the index, the 128-entry ADC table is the
    anchor's sub-vectors against the committed codebook, candidate
    scoring touches ONLY (vec_id, s, code) rows joined to the broadcast
    ADC (integer nano-unit sums — the memory-bandwidth shape that makes
    PQ the standard at 10^9 vectors), and full vectors are read for the
    {{IVFPQ_CAND}}-row shortlist alone.  The result must equal the
    from-scratch ``sim_ann_ivfpq_topk`` recompute — asserted in-engine
    against that very function, and cross-engine via its oracle SQL,
    shared verbatim."""
    from spark_spotify.analytics.similarity import q_ann_ivfpq_topk

    with scratch("pqm") as w:
        st = _build_ann_pq(spark, sf_dir, w)
        n_batch = part_rows(w, "emb", ["p2"])
        _require_one_new_part(w, "ann_index", st["v1"]["ann_index"], n_batch)
        _require_one_new_part(
            w, "pq_codes", st["v1"]["pq_codes"], n_batch * PQ_SUB
        )
        # IVFADC serve from the maintained artifacts only, witnessed
        # against the from-scratch IVFADC recompute
        return _served_witness(
            _ivfadc_serve(spark, w, st),
            lambda: q_ann_ivfpq_topk(spark, sf_dir),
            "maintained PQ serve",
        )


def _build_dedup_dv(spark: SparkSession, sf_dir: str, w: str) -> dict:
    """The corpus and its dedup index, then a MOR takedown of every
    tenth document propagated to the index through the slim change
    feed, as the index's own MOR delete.  Returns the incoming batch,
    both tables' inodes from BEFORE the takedown, and the feed rows."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % INCR_MOD != 0)
    # the docs commit is an exact copy of ``corpus``, so the index
    # build derives from the SOURCE relation (row-identical to the
    # committed table) — disjoint tables, no data dependency (§2.6)
    overlap(
        lambda: commit_append(corpus, w, "docs", 1),
        lambda: commit_append(corpus_index(corpus), w, "dedup_index", 1),
    )
    inodes = {t: part_inodes(w, t) for t in ("docs", "dedup_index")}
    delete_rows(spark, w, "docs", F.col("doc_id") % 10 == 1, "td1", mode="mor")
    # ONE delta-sized collect feeds both the gate's kind check and the
    # erased-key list
    feed_rows = (
        change_feed(
            read_table(spark, w, "docs", version=1).select("doc_id", "source"),
            read_table(spark, w, "docs").select("doc_id", "source"),
            "doc_id",
        )
        .select("doc_id", "_change_type")
        .collect()
    )
    gone = [r["doc_id"] for r in feed_rows]
    delete_rows(
        spark, w, "dedup_index", F.col("doc_id").isin(gone), "ixd", mode="mor"
    )
    return {
        "batch": docs.filter(F.col("doc_id") % INCR_MOD == 0),
        "inodes": inodes,
        "feed": feed_rows,
    }


def q_dedup_index_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-index TAKEDOWN maintenance — the erasure half of the
    maintained-dedup contract, symmetric with
    ``sim_ann_maintained_delete``: removing documents from the corpus
    (DMCA/GDPR takedown — every tenth document here) must propagate to
    the fingerprint/signature index WITHOUT rewriting either table.
    The docs table takes a MOR delete (deletion-vector sidecar); the
    slim (doc_id, source) change feed between the two versions carries
    pure deletes (asserted); the index takes the SAME erasure as its
    OWN MOR delete — every part of both tables byte-untouched,
    inode-proven.  The incoming batch is then deduped against the
    maintained index, and the verdicts must equal the recompute over
    the corpus minus the takedown — a doc whose only duplicate was
    taken down flips to ``keep``, which is precisely the behavior an
    un-maintained index gets wrong (it would still match the ghost).
    Oracle: ``dedup_incremental``'s SQL with the corpus side filtered
    to survivors — derived mechanically from the shared SQL."""
    with scratch("dedd") as w:
        st = _build_dedup_dv(spark, sf_dir, w)
        _require_pure_delete_feed(st, w, "takedown")
        return _dedup_serve(spark, w, st)


def _band_tables(w: str) -> tuple[str, str]:
    """Catalog names of the corpus- and batch-side bucketed band tables
    of the warehouse at ``w`` (unique per warehouse)."""
    sfx = os.path.basename(w)
    return f"bands_old_{sfx}", f"bands_new_{sfx}"


def _drop_band_tables(spark: SparkSession, w: str) -> None:
    for t in _band_tables(w):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def _band_over(bo: DataFrame, bn: DataFrame) -> DataFrame:
    """Over-full band buckets: two bucketed (shuffle-free) per-side
    counts full-outer-joined on the SAME bucketed key."""
    from spark_spotify.operators.dedup import MAX_BAND_BUCKET

    cnt_o = bo.groupBy("bv").agg(F.count(F.lit(1)).alias("_no"))
    cnt_n = bn.groupBy("bv").agg(F.count(F.lit(1)).alias("_nn"))
    z = F.lit(0).cast("long")
    return (
        cnt_o.join(cnt_n, "bv", "full_outer")
        .filter(
            (F.coalesce("_no", z) + F.coalesce("_nn", z)) > MAX_BAND_BUCKET
        )
        .select("bv")
    )


def _band_pairs(bo: DataFrame, bn: DataFrame, over: DataFrame) -> DataFrame:
    """(new_id, old_id) candidates: the band equi-join over the bucketed
    layout, over-full buckets excluded."""
    return (
        bn.join(F.broadcast(over), "bv", "left_anti")
        .withColumnRenamed("doc_id", "new_id")
        .join(
            bo.join(F.broadcast(over), "bv", "left_anti")
            .withColumnRenamed("doc_id", "old_id"),
            "bv",
        )
        .select("new_id", "old_id")
    )


def _build_dedup_band(spark: SparkSession, sf_dir: str, w: str) -> dict:
    """Corpus fingerprints and both sides' MinHash signatures as
    warehouse tables, and both sides' band rows as BUCKETED catalog
    tables keyed by band value (the corpus-side shuffle is paid here,
    once per corpus batch).  Returns the incoming batch."""
    from spark_spotify.operators.dedup import (
        band_rows,
        normalized_fingerprint,
        signatures,
    )
    from spark_spotify.sources.warehouse import write_bucketed

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % INCR_MOD != 0)
    batch = docs.filter(F.col("doc_id") % INCR_MOD == 0)

    def _bands(src: DataFrame, sig_table: str, name: str, path: str) -> None:
        commit_append(signatures(src), w, sig_table, 1)
        sig = read_table(spark, w, sig_table)
        write_bucketed(
            band_rows(sig).select(
                "doc_id",
                F.concat_ws("#", F.col("band"), F.col("band_val")).alias("bv"),
            ),
            name,
            os.path.join(w, path),
            ["bv"],
        )

    old, new = _band_tables(w)
    # three chains over disjoint tables — overlapped (§2.6)
    overlap(
        lambda: commit_append(
            corpus.select(
                "doc_id", normalized_fingerprint(F.col("text")).alias("fp")
            ),
            w,
            "fp_corpus",
            1,
        ),
        lambda: _bands(corpus, "sig_corpus", old, "bands_old"),
        lambda: _bands(batch, "sig_batch", new, "bands_new"),
    )
    return {"batch": batch}


def _dedup_band_serve(spark: SparkSession, w: str, state: dict) -> DataFrame:
    """Shuffle-free candidate lookup over the bucketed band tables, then
    verify and verdict with ``dedup_incremental``'s precedence: exact
    fingerprint match, else best Jaccard >= threshold, else keep."""
    from spark_spotify.operators.dedup import (
        JACCARD_THRESHOLD,
        normalized_fingerprint,
    )

    batch = state["batch"]
    bo, bn = (spark.table(t) for t in _band_tables(w))
    cand = _band_pairs(bo, bn, _band_over(bo, bn)).distinct()
    exact = (
        batch.select("doc_id", normalized_fingerprint(F.col("text")).alias("fp"))
        .join(
            read_table(spark, w, "fp_corpus").select(
                "fp", F.col("doc_id").alias("old_id")
            ),
            "fp",
        )
        .groupBy("doc_id")
        .agg(F.min("old_id").alias("exact_id"))
    )
    nc = F.size(F.array_intersect("sh_n", "sh_o"))
    jac = F.round(nc / (F.size("sh_n") + F.size("sh_o") - nc), 3)
    scored = (
        cand.join(
            read_table(spark, w, "sig_batch").select(
                F.col("doc_id").alias("new_id"),
                F.col("shingles").alias("sh_n"),
            ),
            "new_id",
        )
        .join(
            read_table(spark, w, "sig_corpus").select(
                F.col("doc_id").alias("old_id"),
                F.col("shingles").alias("sh_o"),
            ),
            "old_id",
        )
        .withColumn("jaccard", jac)
    )
    best = top_k(
        scored, ["new_id"], [F.desc("jaccard"), F.asc("old_id")], 1
    ).select(
        F.col("new_id").alias("doc_id"),
        F.col("old_id").alias("near_id"),
        "jaccard",
    )
    is_near = F.col("jaccard") >= JACCARD_THRESHOLD
    return (
        batch.select("doc_id")
        .join(exact, "doc_id", "left")
        .join(best, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("exact_id").isNotNull(), F.lit("drop_exact"))
            .when(is_near, F.lit("drop_near"))
            .otherwise(F.lit("keep"))
            .alias("verdict"),
            F.when(F.col("exact_id").isNotNull(), F.col("exact_id"))
            .when(is_near, F.col("near_id"))
            .alias("match_id"),
            F.when(F.col("exact_id").isNull() & is_near, F.col("jaccard"))
            .alias("match_jaccard"),
        )
    )


def q_dedup_band_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-partitioned band lookup — the final clause of the maintained-
    dedup posture ("the per-batch check is a co-partitioned lookup",
    VERDICT r7 #2): the corpus MinHash band rows live as a BUCKETED
    warehouse table keyed by band value, the incoming batch's band rows
    are bucketed the same way, and candidate generation joins the two
    with ZERO shuffle Exchange nodes — asserted on the executed plan
    (broadcasts excluded; the corpus-side shuffle is paid once at
    maintenance time, exactly op_bucketed_join's contract applied to
    the dedup index).  The over-full-bucket guard is two bucketed
    (shuffle-free) per-side counts full-outer-joined on the SAME
    bucketed key.  Verify and verdict are identical to
    ``dedup_incremental``; the oracle is shared verbatim — same
    candidates, same precedence, bit-identical output, different (and
    plan-proven) physical shape."""
    import re as _re

    with ExitStack() as stack:
        w = stack.enter_context(scratch("bandlkp"))
        stack.callback(_drop_band_tables, spark, w)
        st = _build_dedup_band(spark, sf_dir, w)
        # the plan proof: candidate generation over the bucketed layout
        # has no shuffle Exchange anywhere — the bucket-count guard, the
        # anti joins, and the band equi-join all reuse the write-time
        # bucketing (BroadcastExchange of the tiny offender set is fine)
        bo, bn = (spark.table(t) for t in _band_tables(w))
        plan = spark._sc._jvm.PythonSQLUtils.explainString(
            _band_pairs(bo, bn, _band_over(bo, bn))._jdf.queryExecution(),
            "formatted",
        )
        require(
            _re.search(r"\(\d+\) Exchange\b", plan) is None,
            "bucketed band lookup plans a shuffle Exchange",
        )
        return stable_checkpoint(_dedup_band_serve(spark, w, st))


def _build_ann_opt(spark: SparkSession, sf_dir: str, w: str) -> dict:
    """A cell index grown through three arrival APPENDS (each spanning
    every cell), then re-clustered by ZORDER OPTIMIZE.  Returns the
    arrival-layout index version and the part count OPTIMIZE
    rewrote."""
    from spark_spotify.warehouse import current_version, optimize_table

    emb = load_table(spark, sf_dir, "embeddings")
    # all three build chains derive from the SOURCE view (the committed
    # emb/centroid tables are exact copies of it), so the emb commit,
    # the centroid commit and the index-append chain touch disjoint
    # tables with no data dependency — overlapped (§2.6).  The full
    # corpus assignment is computed ONCE and persisted: the three
    # arrival-layout appends each used to re-run the n·K crossJoin
    # scoring just to write a third of it.
    vecs = vec_view(fan_out(emb))
    cents = centroid_rows(vecs)
    assign = assign_cells(vecs, cents).persist()

    def _index_chain() -> None:
        for k in range(3):
            commit_append(
                assign.filter(F.col("vec_id") % 3 == k), w, "ann_index", k + 1
            )

    overlap(
        lambda: commit_append(emb, w, "emb", 1),
        lambda: commit_append(cents, w, "ann_centroids", 1),
        _index_chain,
    )
    assign.unpersist()
    v_arrival = current_version(w, "ann_index")
    total = sum(
        os.path.getsize(os.path.join(root, f))
        for p in (manifest_parts(w, "ann_index") or [])
        for root, _d, files in os.walk(os.path.join(w, "ann_index", p))
        for f in files
        if f.endswith(".parquet")
    )
    rewritten = optimize_table(
        spark,
        w,
        "ann_index",
        max(total // N_CELLS, 1),  # ~one Z-range per cell
        tag="ix",
        zorder_by=("cell", "vec_id"),
    )
    return {"v_arrival": v_arrival, "rewritten": rewritten}


def q_ann_index_optimize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index LAYOUT MAINTENANCE — the round-8 pieces composed: a cell
    index that grew through three stream-style APPENDS (each append
    spans every cell, so per-part stats can prune nothing: the natural
    arrival layout) is re-clustered by ``optimize_table(zorder_by=
    ("cell", "vec_id"))`` into Z-ranges, after which the anchor-cell
    probe provably prunes parts again (``prune_parts``, manifest-only).
    This is the operational loop a 100 TB vector store actually runs —
    the ingest stream appends unclustered, OPTIMIZE periodically
    restores the partition-pruning property the serving path depends
    on — and the serve stays row-identical through the rewrite (oracle
    shared verbatim with ``sim_ann_ivf_topk``)."""
    from spark_spotify.warehouse import prune_parts

    with scratch("annopt") as w:
        st = _build_ann_opt(spark, sf_dir, w)
        vecs = vec_view(fan_out(read_table(spark, w, "emb")))
        qcell = assign_cells(
            vecs.filter(F.col("vec_id") == ANCHOR_ID),
            read_table(spark, w, "ann_centroids"),
        ).collect()[0]["cell"]
        probe = [("cell", "=", qcell)]
        pre, _ = prune_parts(w, "ann_index", probe, version=st["v_arrival"])
        require(len(pre) == 3, "arrival layout was already cell-prunable")
        require(
            st["rewritten"] == 3,
            f"index optimize rewrote {st['rewritten']} parts, expected 3",
        )
        kept, _ = prune_parts(w, "ann_index", probe)
        require(
            len(kept) < len(manifest_parts(w, "ann_index") or []),
            "cell probe prunes nothing post-OPTIMIZE",
        )
        return stable_checkpoint(_ann_serve(spark, w, st))


# --- quantizer retrain (VERDICT r8 prescription #1) --------------------------
#
# The maintained family freezes centroids BETWEEN retrains (see the
# module docstring) — this gate exercises the OTHER side of that
# FAISS/Milvus boundary: corpus drift degrades frozen-quantizer recall,
# a retrain re-derives the quantizer from the grown corpus at
# corpus-scaled K and atomically swaps every index artifact, and recall
# recovers while a version-pinned reader keeps serving the old index.
#
# Drift construction (pure arithmetic, replayed verbatim by the DuckDB
# oracle): RT_M tight "topic lines" appear in regions the frozen
# quantizer cannot separate — sub-cluster m sits ON the Voronoi
# bisector of frozen centroids (2m, 2m+1) (direction g_m = û_2m +
# û_2m+1, exactly equidistant by cosine), extends along h_m (a corpus
# direction Gram-Schmidt-orthogonalized against û_2m − û_2m+1, so
# position along the line never breaks the tie), and each member adds
# RT_TINY per-vector noise that DOES break it — members therefore split
# ~50/50 between the two cells and single-probe recall over the drifted
# workload collapses to ~0.5.  After retraining (seeds strided over the
# grown corpus, K = floor(sqrt(n))), each line owns its seed(s) and
# recall returns to ~1.

RT_M = 4  # drifted sub-clusters ("new topics")
RT_STEP = 0.002  # position step along a sub-cluster line
RT_TINY = 0.001  # per-member noise amplitude (the tie-breaker)
RT_OFF = 1_000_000  # drift ids: RT_OFF + m*RT_BLOCK + j (m-contiguous)
RT_BLOCK = 100_000
RT_K = 5  # recall@k
RT_QMAX = 25  # fixed per-sub-cluster query-panel width (audit cost O(corpus))


def _rt_view(df: DataFrame) -> DataFrame:
    """(vec_id, emb, nrm) over a committed double-array table."""
    return df.select("vec_id", "emb", _norm("emb").alias("nrm"))


def _rt_drift(spark: SparkSession, base: DataFrame) -> DataFrame:
    """The drifted batch, derived from the base corpus by closed-form
    arithmetic (every fp op mirrored by the oracle, same order):
    member t (source vec_id = 5t) of sub-cluster m = t % RT_M at
    position j = t div RT_M is ``(g_m + ((j+1)*RT_STEP)*h_m) +
    RT_TINY*û_t``.  All pair/line frames are single-digit rows —
    broadcast joins, arrays never shuffled."""
    # Headroom guards (ADVICE r9): drift ids RT_OFF + m*RT_BLOCK + j
    # collide with base ids once max(vec_id) >= RT_OFF, and sub-cluster
    # blocks overlap once j = t div RT_M reaches RT_BLOCK.  Fail loudly
    # instead of silently corrupting the drift corpus at a larger SF.
    mx = int(base.agg(F.max("vec_id")).first()[0])
    require(
        mx < RT_OFF,
        f"drift-id headroom exhausted: max base vec_id {mx} >= {RT_OFF}",
    )
    require(
        mx // (5 * RT_M) < RT_BLOCK,
        f"drift block overflow: j up to {mx // (5 * RT_M)} >= {RT_BLOCK}",
    )
    u = base.select(
        "vec_id", F.expr("transform(emb, x -> x / nrm)").alias("uv")
    )
    ms = spark.range(RT_M).select(F.col("id").alias("m"))
    pair = (
        ms.join(
            F.broadcast(
                u.select(F.col("vec_id").alias("aid"), F.col("uv").alias("ua"))
            ),
            F.col("aid") == 2 * F.col("m"),
        )
        .join(
            F.broadcast(
                u.select(F.col("vec_id").alias("bid"), F.col("uv").alias("ub"))
            ),
            F.col("bid") == 2 * F.col("m") + 1,
        )
        .join(
            F.broadcast(
                u.select(F.col("vec_id").alias("wid"), F.col("uv").alias("wv"))
            ),
            F.col("wid") == 2 * RT_M + F.col("m"),
        )
        .select(
            "m",
            F.zip_with("ua", "ub", lambda a, b: a + b).alias("g"),
            F.zip_with("ua", "ub", lambda a, b: a - b).alias("delta"),
            "wv",
        )
    )
    hline = (
        pair.withColumn(
            "proj", _dot("wv", "delta") / _dot("delta", "delta")
        )
        .select(
            "m",
            "g",
            F.zip_with(
                "wv", "delta", lambda a, b: a - F.col("proj") * b
            ).alias("h"),
        )
    )
    src = (
        base.filter(F.col("vec_id") % 5 == 0)
        .select(
            F.expr("vec_id div 5").alias("t"),
            F.expr("transform(emb, x -> x / nrm)").alias("ut"),
        )
        .select(
            (F.col("t") % RT_M).alias("m"),
            F.expr(f"t div {RT_M}").alias("j"),
            "ut",
        )
    )
    line_pos = (
        (F.col("j") + F.lit(1)) * F.lit(RT_STEP)
    )
    return (
        src.join(F.broadcast(hline), "m")
        .select(
            (
                F.lit(RT_OFF)
                + F.col("m") * F.lit(RT_BLOCK)
                + F.col("j")
            ).cast("long").alias("vec_id"),
            F.zip_with(
                F.zip_with("g", "h", lambda a, b: a + line_pos * b),
                F.col("ut"),
                lambda a, b: a + F.lit(RT_TINY) * b,
            ).alias("emb"),
        )
    )


def _rt_topk(
    queries: DataFrame, cand: DataFrame, k: int = RT_K
) -> DataFrame:
    """Per-query top-k (qid, cand) pairs: rank by 6dp-rounded cosine
    desc, candidate id asc — the house ordering every vector gate and
    oracle share.  The query side is broadcast (the drifted workload is
    a sample-sized evaluation set, the standard recall-audit shape), so
    the pairwise scan is partition-local and the candidate arrays never
    shuffle."""
    scored = cand.join(
        F.broadcast(
            queries.select(
                F.col("vec_id").alias("qid"),
                F.col("emb").alias("qe"),
                F.col("nrm").alias("qn"),
            )
        ),
        F.col("vec_id") != F.col("qid"),
    ).select(
        "qid",
        F.col("vec_id").alias("cand"),
        F.round(
            _dot("emb", "qe") / (F.col("nrm") * F.col("qn")), 6
        ).alias("cos"),
    )
    return top_k(scored, ["qid"], [F.desc("cos"), F.asc("cand")], k).select(
        "qid", "cand"
    )


def _rt_queries(corpus: DataFrame) -> DataFrame:
    """The drifted query panel: the first RT_QMAX positions of each
    drifted line.  FIXED size — recall audits sample queries (the FAISS
    eval shape), so audit cost is O(panel x corpus) = linear in the
    corpus, never quadratic."""
    return corpus.filter(
        (F.col("vec_id") >= RT_OFF)
        & (F.col("vec_id") < RT_OFF + RT_M * RT_BLOCK)
        & (F.col("vec_id") % RT_BLOCK < RT_QMAX)
    )


def _rt_panel(
    queries: DataFrame, corpus: DataFrame, cells: DataFrame
) -> DataFrame:
    """Single-probe top-RT_K (qid, cand) per panel query: each query
    ranks only the candidates in its own cell of ``cells`` (vec_id,
    cell).  Candidate arrays stay scan-side; the sample-sized query
    table broadcasts."""
    q = queries.join(cells, "vec_id").select(
        F.col("vec_id").alias("qid"),
        F.col("emb").alias("qe"),
        F.col("nrm").alias("qn"),
        F.col("cell").alias("qcell"),
    )
    scored = (
        corpus.join(cells, "vec_id")
        .join(
            F.broadcast(q),
            (F.col("cell") == F.col("qcell"))
            & (F.col("vec_id") != F.col("qid")),
        )
        .select(
            "qid",
            F.col("vec_id").alias("cand"),
            F.round(
                _dot("emb", "qe") / (F.col("nrm") * F.col("qn")), 6
            ).alias("cos"),
        )
    )
    return top_k(scored, ["qid"], [F.desc("cos"), F.asc("cand")], RT_K).select(
        "qid", "cand"
    )


def _rt_serve(
    spark: SparkSession, w: str, state: dict, version: int | None = None
) -> DataFrame:
    """The drifted panel served from the cell index at ``version``
    (default: the head, i.e. the retrained index)."""
    corpus = _rt_view(fan_out(read_table(spark, w, "emb")))
    return _rt_panel(
        _rt_queries(corpus),
        corpus,
        read_table(spark, w, "ann_index", version=version),
    )


_RT_STAGED = ("ann_centroids", "ann_index", "pq_codebook", "pq_codes")


def _build_ann_retrain(spark: SparkSession, sf_dir: str, w: str) -> dict:
    """The full retrain lifecycle up to the swap: base corpus, frozen
    {N_CELLS}-cell quantizer + cell index + PQ codebook/codes; the
    drifted batch appended and maintained against the frozen
    quantizers; then the retrain at K = floor(sqrt(n)) — all four
    artifacts staged, ONE durable intent, only the index swing applied
    ("crash"), and ``recover_transactions`` rolling the rest forward.
    Returns the pinned pre-retrain index version and its checksum
    (taken BEFORE the swap, riding the staging overlap group), the
    corpus size, the new K and cell count, and what recovery
    applied."""
    import json
    import math

    from pyspark.sql import Window

    from spark_spotify.warehouse import (
        TXN_DIR,
        current_version,
        recover_transactions,
        swing_rebase,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    commit_append(
        emb.select("vec_id", F.expr(E_SQL).alias("emb")), w, "emb", 1
    )
    base1 = _rt_view(fan_out(read_table(spark, w, "emb")))
    commit_append(centroid_rows(base1), w, "ann_centroids", 1)
    cents = read_table(spark, w, "ann_centroids")

    # two independent build chains — the cell index (against the
    # committed centroids) and the PQ pair (codebook, then codes
    # against it) touch disjoint tables, so their commit jobs OVERLAP
    # from driver threads (§2.6)
    def _build_pq() -> DataFrame:
        commit_append(
            pq_codebook_rows(base1.filter(F.col("vec_id") < PQ_CENTS)),
            w,
            "pq_codebook",
            1,
        )
        cb = read_table(spark, w, "pq_codebook")
        commit_append(assign_pq_codes(base1, cb), w, "pq_codes", 1)
        return cb

    _, cbook = overlap(
        lambda: commit_append(assign_cells(base1, cents), w, "ann_index", 1),
        _build_pq,
    )

    # drift lands; index + codes MAINTAINED against the frozen
    # quantizer from the part diff (the correct between-retrain path):
    # same batch delta, disjoint tables — overlapped
    commit_append(_rt_drift(spark, base1), w, "emb", 2)
    batch = _rt_view(fan_out(_added_parts_read(spark, w, "emb", 1, 2)))
    overlap(
        lambda: commit_append(assign_cells(batch, cents), w, "ann_index", 2),
        lambda: commit_append(
            assign_pq_codes(batch, cbook), w, "pq_codes", 2
        ),
    )
    v_pin = current_version(w, "ann_index")  # a mid-retrain reader's
    pinned = read_table(spark, w, "ann_index", version=v_pin)

    # ---- RETRAIN: derive, stage, intend, swap-with-crash, recover
    live = _rt_view(fan_out(read_table(spark, w, "emb")))
    # corpus size from parquet footers alone (emb is append-only here —
    # no DVs — so footer rows == live rows): no count job
    n = part_rows(w, "emb", manifest_parts(w, "emb") or [])
    k_new = math.isqrt(n)
    stride = (n + k_new - 1) // k_new
    ranked = live.withColumn(
        "rn", F.row_number().over(Window.orderBy(F.asc("vec_id")))
    )
    # every staged artifact derives from the seed table, and the four
    # staged writes run CONCURRENTLY below — persist the seeds so the
    # global-window rank derivation runs once (K·dim rows: KB-sized at
    # any corpus scale)
    seeds = (
        ranked.filter((F.col("rn") - 1) % stride == 0)
        .select(
            F.col("rn").alias("cent_id"),
            F.col("emb").alias("cvec"),
            F.col("nrm").alias("cnrm"),
        )
        .persist()
    )
    codebook = pq_codebook_rows(
        seeds.orderBy("cent_id")
        .limit(PQ_CENTS)
        .select(F.col("cent_id").alias("vec_id"), F.col("cvec").alias("emb"))
    )
    staged = dict(
        zip(
            _RT_STAGED,
            (
                seeds,
                assign_cells(live, seeds),
                codebook,
                assign_pq_codes(live, codebook),
            ),
        )
    )

    # stage all four artifacts CONCURRENTLY (disjoint directories); the
    # durable intent is cut only after every part is fully on disk —
    # the WAP ordering multi_commit requires.  The serve-continuity
    # PRE-checksum rides the same overlap group: it reads the IMMUTABLE
    # pinned index version, so its value is identical whether it runs
    # before, during, or after the staging writes — what matters is
    # that it lands before the swap below, which the overlap barrier
    # guarantees.
    def _stage(table: str, df: DataFrame):
        df.coalesce(1).write.parquet(os.path.join(w, table, "retrain1"))
        return table, {
            "base": current_version(w, table),
            "added": ["retrain1"],
            "removed": manifest_parts(w, table) or [],
        }

    *tx_pairs, chk_pre = overlap(
        *[(lambda t=t, d=d: _stage(t, d)) for t, d in staged.items()],
        lambda: pinned.agg(
            F.expr("bit_xor(xxhash64(vec_id, cell))").alias("h"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0],
    )
    tx = dict(tx_pairs)
    seeds.unpersist()
    os.makedirs(os.path.join(w, TXN_DIR), exist_ok=True)
    with open(os.path.join(w, TXN_DIR, "rt.json"), "w") as fh:
        json.dump(tx, fh)
    # apply ONLY the index swing — ONE commit holds the entire
    # reassignment — then "crash" before the sibling artifacts
    swing_rebase(
        w,
        "ann_index",
        tx["ann_index"]["base"],
        ["retrain1"],
        set(tx["ann_index"]["removed"]),
    )
    return {
        "v_pin": v_pin,
        "chk_pre": tuple(chk_pre),
        "n": n,
        "k_new": k_new,
        "n_cells_new": (n + stride - 1) // stride,
        "recovered": recover_transactions(w),
    }


def q_ann_retrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantizer RETRAIN gate — the missing half of the frozen-centroid
    boundary (VERDICT r8 #1):

    - v1: base corpus committed; frozen 8-cell quantizer + cell index +
      PQ codebook/codes built exactly as ``sim_ann_maintained`` /
      ``sim_ann_pq_maintained``;
    - drift: the arithmetic drifted batch (see module comment) appends;
      the index is MAINTAINED against the frozen quantizer (the correct
      between-retrain behavior) — and single-probe recall@{RT_K} over
      the drifted workload, measured against the exact brute-force
      top-{RT_K} (the ``sim_recall_audit`` method), collapses to ~0.5
      because every drifted neighborhood straddles a frozen Voronoi
      boundary (asserted <= 0.75 in-engine);
    - RETRAIN: new centroids are strided seeds over the grown corpus at
      corpus-scaled K = floor(sqrt(n)) (prescription #2's rule; at
      100 TB the stride is a hash-stratified sample — the row_number
      here keeps the oracle exact over a corpus whose id space is
      non-contiguous), the full reassignment plus retrained PQ
      codebook + codes are STAGED, a durable multi-table intent covers
      all four artifacts, and the swap is applied as ONE commit per
      table through the OCC protocol — with a simulated CRASH after
      only the index swing: ``recover_transactions`` must roll the
      centroids/codebook/codes forward, leaving retrain atomic
      (completed, never torn);
    - serve-continuity: a reader pinned at the pre-retrain index
      version reproduces its snapshot row-exactly AFTER the swap
      (checksum-asserted), and the frozen-phase recall below is in fact
      computed from that pinned read post-swap — time travel IS the
      mid-retrain serving path;
    - recall RECOVERS: retrained recall >= frozen + 0.2 (lands ~1.0 vs
      ~0.5; both values hash-gated by the oracle, which replays drift,
      both quantizers, and both serves from ``embeddings`` alone);
    - PQ retrains alongside: the staged codebook derives from the new
      seeds, codes cover the corpus exactly once (footer-accounted).

    Output: one row per phase (frozen | retrained) with n_cells,
    n_queries, n_hits, recall_at_k."""
    from spark_spotify.warehouse import current_version

    with scratch("annrt") as w:
        st = _build_ann_retrain(spark, sf_dir, w)
        v_pin = st["v_pin"]
        require(v_pin == 2, "unexpected index version pre-retrain")
        require(st["k_new"] > N_CELLS, "corpus too small to scale K up")
        require(
            st["recovered"] == ["rt"],
            f"retrain recovery applied {st['recovered']}",
        )
        for table in _RT_STAGED:
            require(
                manifest_parts(w, table) == ["retrain1"],
                f"{table}: retrain swap incomplete",
            )
        require(
            current_version(w, "ann_index") == v_pin + 1,
            "index reassignment took more than one commit",
        )
        # PQ retrained alongside: corpus covered exactly once
        require(
            part_rows(w, "pq_codes", ["retrain1"]) == st["n"] * PQ_SUB,
            "retrained PQ codes do not cover the corpus exactly",
        )
        require(
            part_rows(w, "pq_codebook", ["retrain1"])
            == PQ_CENTS * PQ_SUB,
            "retrained PQ codebook has wrong arity",
        )

        # ---- recall@k: the frozen phase is served from the PINNED read
        corpus = _rt_view(fan_out(read_table(spark, w, "emb")))
        queries = _rt_queries(corpus)
        # the serve-continuity checksum, the panel count, the exact
        # panel top-k and the two cell-restricted serves are FIVE
        # independent read-only jobs over committed state — ONE overlap
        # group (§2.6).  Each k·nq-row audit result is materialized via
        # stable_checkpoint; the audit joins below run over tiny leaves.
        chk_post, nq, exact5, srv_f, srv_r = overlap(
            lambda: read_table(spark, w, "ann_index", version=v_pin)
            .agg(
                F.expr("bit_xor(xxhash64(vec_id, cell))").alias("h"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()[0],
            queries.count,
            lambda: stable_checkpoint(_rt_topk(queries, corpus)),
            lambda: stable_checkpoint(_rt_serve(spark, w, st, version=v_pin)),
            lambda: stable_checkpoint(_rt_serve(spark, w, st)),
        )
        require(
            st["chk_pre"] == tuple(chk_post),
            "pinned pre-retrain index changed under the swap",
        )
        require(nq > 0, "drift batch empty")

        def phase_row(name: str, ncells: int, srv: DataFrame) -> DataFrame:
            return (
                exact5.join(srv, ["qid", "cand"])
                .agg(F.count(F.lit(1)).alias("n_hits"))
                .select(
                    F.lit(name).alias("phase"),
                    F.lit(ncells).cast("long").alias("n_cells"),
                    F.lit(nq).cast("long").alias("n_queries"),
                    F.col("n_hits").cast("long").alias("n_hits"),
                    F.round(
                        F.col("n_hits") / F.lit(float(nq * RT_K)), 6
                    ).alias("recall_at_k"),
                )
            )

        out = (
            phase_row("frozen", N_CELLS, srv_f)
            .unionByName(phase_row("retrained", st["n_cells_new"], srv_r))
            .orderBy("phase")
            .transform(stable_checkpoint)
        )
        rows = {r["phase"]: r for r in out.collect()}
        require(
            rows["frozen"]["recall_at_k"] <= 0.75,
            f"drift failed to degrade frozen recall: {rows['frozen']}",
        )
        require(
            rows["retrained"]["recall_at_k"]
            >= rows["frozen"]["recall_at_k"] + 0.2,
            f"retrain failed to recover recall: {rows}",
        )
        return out


SAMPLE_TH = "40"  # hex bucket threshold: 64/256 = 25% sample


def q_sample_maintained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintained TRAINING SAMPLE — the maintained-artifact contract
    applied to curation: a hash-thresholded uniform sample (the
    eval/holdout slice a training pipeline pins) lives as warehouse
    table ``sample_index`` and is maintained per ingestion batch.
    Membership is ``md5('usample:' || doc_id) < {SAMPLE_TH}`` — content-
    and partitioning-independent, so a document's verdict never changes
    as the corpus grows (``df.sample()`` can give neither property),
    which is exactly what makes the sample APPEND-MAINTAINABLE: each
    batch's members are decidable from the batch alone.

    - v1: two-thirds of the corpus lands; ``sample_index`` v1 = its
      members;
    - append: the last third lands; maintenance filters ONLY the
      appended parts (manifest part diff) and appends ONE index part —
      v1 parts byte-untouched, the new part holds exactly the batch's
      member count (footer-accounted), no non-member leaks
      (asserted);
    - serve: the maintained sample must equal the from-scratch
      recompute over the full corpus — the DuckDB oracle IS that
      recompute (the ``curate_stratified_sample`` hash discipline).

    At 100 TB this is how held-out slices actually stay consistent
    across a year of ingestion: per-batch cost O(batch), zero corpus
    rescans, membership stable forever."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source"
    )
    bucket = F.substring(
        F.md5(F.concat(F.lit("usample:"), F.col("doc_id").cast("string"))),
        1,
        2,
    )

    def members(df: DataFrame) -> DataFrame:
        return df.select(
            "doc_id", "lang", "source", bucket.alias("bucket")
        ).filter(F.col("bucket") < SAMPLE_TH)

    late = F.col("doc_id") % 3 == 0
    with scratch("smpl") as w:
        commit_append(docs.filter(~late), w, "docs", 1)
        commit_append(
            members(read_table(spark, w, "docs")), w, "sample_index", 1
        )
        v1_parts = list(manifest_parts(w, "sample_index") or [])

        commit_append(docs.filter(late), w, "docs", 2)
        batch = _added_parts_read(spark, w, "docs", 1, 2)
        commit_append(members(batch), w, "sample_index", 2)

        n_expected = members(batch).count()
        require(n_expected > 0, "late batch holds no sample members")
        _require_one_new_part(w, "sample_index", v1_parts, n_expected)
        out = read_table(spark, w, "sample_index")
        # leak check ∥ output materialization: both read the committed
        # sample snapshot read-only (§2.6)
        n_leak, out = overlap(
            out.filter(F.col("bucket") >= SAMPLE_TH).count,
            lambda: stable_checkpoint(out),
        )
        require(
            n_leak == 0,
            "non-member leaked into the maintained sample",
        )
        return out


DRIFT_COS_THRESHOLD = 0.15  # |mean assignment cos - build baseline|
DRIFT_TVD_THRESHOLD = 0.25  # occupancy total-variation distance


def _build_ann_monitor(spark: SparkSession, sf_dir: str, w: str) -> dict:
    """Base corpus, frozen {N_CELLS}-cell quantizer and cell index, then
    the drifted batch appended and maintained from the part diff.
    Returns the frozen centroids."""
    emb = load_table(spark, sf_dir, "embeddings")
    commit_append(
        emb.select("vec_id", F.expr(E_SQL).alias("emb")), w, "emb", 1
    )
    base1 = _rt_view(fan_out(read_table(spark, w, "emb")))
    commit_append(centroid_rows(base1), w, "ann_centroids", 1)
    cents = read_table(spark, w, "ann_centroids")
    # the v1 index build (against the committed centroids) and the
    # drift append (emb v2) touch disjoint tables — overlapped (§2.6);
    # the drift-batch maintenance below needs both
    overlap(
        lambda: commit_append(assign_cells(base1, cents), w, "ann_index", 1),
        lambda: commit_append(_rt_drift(spark, base1), w, "emb", 2),
    )
    batch2 = _rt_view(fan_out(_added_parts_read(spark, w, "emb", 1, 2)))
    commit_append(assign_cells(batch2, cents), w, "ann_index", 2)
    return {"cents": cents}


def _monitor_serve(spark: SparkSession, w: str, state: dict) -> DataFrame:
    """Per-batch drift metrics of the maintained index at ``w`` against
    the build batch: mean assignment cosine, occupancy TVD and the
    retrain verdict."""
    live = _rt_view(fan_out(read_table(spark, w, "emb")))
    scored = live.crossJoin(F.broadcast(state["cents"])).select(
        "vec_id",
        (
            _dot("emb", "cvec") / (F.col("nrm") * F.col("cnrm"))
        ).alias("cos_c"),
    )
    batch_col = F.when(
        F.col("vec_id") >= RT_OFF, F.lit("arrival")
    ).otherwise(F.lit("build"))
    per_vec = (
        scored.groupBy("vec_id")
        .agg(F.max("cos_c").alias("mc"))
        .select(
            batch_col.alias("batch"),
            # round-to-integer BEFORE the long cast: Spark's cast
            # truncates toward zero while DuckDB's rounds, and
            # round(x,6)*1e6 lands within 1 ulp of the integer
            F.round(
                F.round(F.col("mc"), 6) * F.lit(1_000_000), 0
            )
            .cast("long")
            .alias("mc_s6"),
        )
    )
    stats = per_vec.groupBy("batch").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum("mc_s6").alias("sum_s6"),
    )
    # occupancy from the MAINTAINED index alone
    occ = (
        read_table(spark, w, "ann_index")
        .select(batch_col.alias("batch"), "cell")
        .groupBy("batch", "cell")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    b_occ = occ.filter(F.col("batch") == "build").select(
        "cell", F.col("c").alias("c1")
    )
    a_occ = occ.filter(F.col("batch") == "arrival").select(
        "cell", F.col("c").alias("c2")
    )
    z = F.lit(0).cast("long")
    joined = b_occ.join(a_occ, "cell", "full_outer").select(
        F.coalesce("c1", z).alias("c1"),
        F.coalesce("c2", z).alias("c2"),
    )
    n1c = F.col("n1")
    n2c = F.col("n2")
    ns = stats.groupBy().pivot("batch", ["build", "arrival"]).sum(
        "n_vecs"
    ).select(
        F.col("build").alias("n1"), F.col("arrival").alias("n2")
    )
    tvd_num = (
        joined.crossJoin(F.broadcast(ns))
        .agg(
            F.sum(
                F.abs(
                    F.col("c2") * n1c - F.col("c1") * n2c
                )
            ).alias("num"),
            F.first("n1").alias("n1"),
            F.first("n2").alias("n2"),
        )
        .select(
            F.round(
                F.col("num")
                / (F.lit(2.0) * F.col("n1") * F.col("n2")),
                6,
            ).alias("tvd")
        )
    )
    means = stats.select(
        "batch",
        "n_vecs",
        F.round(
            F.col("sum_s6") / (F.col("n_vecs") * F.lit(1_000_000.0)),
            6,
        ).alias("mean_assign_cos"),
    )
    mb = means.filter(F.col("batch") == "build").select(
        F.col("mean_assign_cos").alias("_mb")
    )
    return (
        means.crossJoin(F.broadcast(mb))
        .crossJoin(F.broadcast(tvd_num))
        .select(
            "batch",
            "n_vecs",
            "mean_assign_cos",
            F.when(F.col("batch") == "build", F.lit(0.0))
            .otherwise(F.col("tvd"))
            .alias("occupancy_tvd"),
            (
                (F.col("batch") != "build")
                & (
                    (
                        F.abs(
                            F.col("mean_assign_cos") - F.col("_mb")
                        )
                        > DRIFT_COS_THRESHOLD
                    )
                    | (F.col("tvd") > DRIFT_TVD_THRESHOLD)
                )
            ).alias("should_retrain"),
        )
        .orderBy("batch")
    )


def q_ann_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrain TRIGGER — the monitoring half of the retrain loop
    (``sim_ann_retrain`` is the act; this decides WHEN): per ingestion
    batch, distribution-shift metrics of the maintained index against
    the build-time baseline, computed the way a production vector store
    watches its frozen quantizer (FAISS/Milvus deployments alarm on
    quantization-quality drift between retrains).

    Metrics, both engine-exact by construction:

    - ``mean_assign_cos`` — mean cosine to the assigned (nearest
      frozen) centroid.  Per-vector cosines round to 6dp, scale to
      exact longs, and SUM as integers; the single final division is
      deterministic — no order-dependent fp mean.  A batch landing in
      a region the quantizer never modeled moves this sharply (the
      drifted batch here sits ON centroid bisectors: ~0.7 vs the
      Gaussian build's ~0.25).
    - ``occupancy_tvd`` — total-variation distance between the batch's
      cell-occupancy distribution and the build batch's, computed from
      the INTEGER numerator sum(|c2*n1 - c1*n2|)/(2*n1*n2) so no fp
      summation order exists.  Catches skew-type drift (one cell
      absorbing a hot topic) that cosine-level metrics miss.
    - ``should_retrain`` — either metric past its threshold.  The
      drifted batch trips the cosine signal; by construction its
      occupancy stays near-uniform (each bisector sub-cluster splits
      evenly across its pair), which is exactly WHY a production
      monitor needs both signals — asserted in-engine.

    The monitor reads ONLY maintained artifacts plus O(batch) scans:
    assignment cosines are n·K broadcast dots on slim rows, occupancy
    is an index-only aggregation — no corpus self-join anywhere.
    Oracle: the full recompute (drift construction + assignment +
    both metrics) from ``embeddings`` alone."""
    with scratch("anndm") as w:
        st = _build_ann_monitor(spark, sf_dir, w)
        out = stable_checkpoint(_monitor_serve(spark, w, st))
        rows = {r["batch"]: r for r in out.collect()}
        require(
            rows["arrival"]["should_retrain"]
            and not rows["build"]["should_retrain"],
            f"drift monitor failed to trip on the drifted batch: {rows}",
        )
        require(
            rows["arrival"]["occupancy_tvd"] <= DRIFT_TVD_THRESHOLD,
            "bisector drift should NOT trip the occupancy signal — "
            "the two-signal design claim broke",
        )
        return out


# --- closed-loop auto-retrain (VERDICT r9 prescription #2) -------------------

AR_BEN1 = 2_000_000  # benign batch-1 ids (copies of base vectors)
AR_BEN2 = 3_000_000  # post-retrain benign batch ids
AR_BEN2_RES = (3, 5, 6)  # vec_id % 7 residues for the post-retrain batch


def _assign_with_cos(vecs: DataFrame, cents: DataFrame) -> DataFrame:
    """``assign_cells`` plus the exact scaled assignment cosine stored
    ON the index row (``mc_s6``), so the drift monitor later reads ONLY
    the maintained index — no re-scoring pass.  Carries ``batch_id``
    through when present (functionally dependent on vec_id, so adding
    it to the group key costs nothing)."""
    cos_c = _dot("emb", "cvec") / (F.col("nrm") * F.col("cnrm"))
    keys = [c for c in ("vec_id", "batch_id") if c in vecs.columns]
    return (
        vecs.crossJoin(
            F.broadcast(cents.select("cent_id", "cvec", "cnrm"))
        )
        .select(*keys, cos_c.alias("cos_c"), "cent_id")
        .groupBy(*keys)
        .agg(
            F.max_by(
                "cent_id", F.struct(F.col("cos_c"), -F.col("cent_id"))
            ).alias("cell"),
            F.round(F.round(F.max("cos_c"), 6) * F.lit(1_000_000), 0)
            .cast("long")
            .alias("mc_s6"),
        )
    )


def q_stream_ann_auto_retrain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CLOSED-LOOP auto-retrain — the composition the three r9 gates
    left open (VERDICT r9 #2): the streaming index maintainer itself
    evaluates the drift monitor's two signals per micro-batch, and when
    ``should_retrain`` trips, runs the atomic retrain+swap BETWEEN
    micro-batches under the dedicated-txn_log idempotency guard, then
    keeps maintaining against the new epoch — the full FAISS/Milvus
    operational loop in one pipeline (the quantizer-lifecycle analog of
    ``stream_auto_optimize``'s layout loop).

    Per micro-batch the sink: (1) ``recover_transactions`` — a crash
    between trigger and swap rolls FORWARD at the next batch boundary;
    (2) skips on the dedicated txn_log (its version moves only per
    applied batch, so batch arithmetic survives the interleaved retrain
    commit); (3) reads the LAST COMMITTED monitor verdict — if it
    tripped and the quantizer is still v1, the retrain runs NOW, before
    this batch touches the index: corpus-scaled K=⌊√n⌋ strided seeds,
    full reassignment staged, ONE durable intent over
    {{centroids, index}}, only the index swing applied, then the
    simulated crash is recovered (the intent rolls forward — retrain is
    atomic, never torn); (4) assigns the batch under the CURRENT
    quantizer, storing the exact assignment cosine (``mc_s6``) on each
    index row; (5) computes both drift signals — mean assignment
    cosine and occupancy TVD — against the training baseline READ FROM
    THE MAINTAINED INDEX ALONE (rows with ``batch_id <=
    trained_through``, the watermark the centroids table carries), and
    (6) lands {{emb, index, monitor verdict, log row}} as ONE
    multi-table commit.

    Timeline: b0 = build corpus (baseline, no trip) → b1 = benign
    arrival (copies of base vectors — both signals stay under
    threshold) → b2 = the arithmetic drifted batch (cosine signal
    trips; verdict committed) → b3 arrives: the trigger fires between
    batches, the swap lands (epoch 1→2), b3 indexes under the NEW
    quantizer and its verdict — measured against the RETRAINED
    baseline, which now includes the drifted topics — is quiet again.
    In-engine: single-probe recall@{RT_K} over the drifted panel,
    served from the version-pinned pre-retrain index vs the current
    one, must recover by >= 0.2; an idle restart applies nothing.
    Oracle: the full four-batch monitor timeline (drift construction,
    both quantizers, every mean/TVD/verdict) recomputed from
    ``embeddings`` alone."""
    import glob as _glob
    import json
    import math

    from pyspark.sql import Window

    from spark_spotify.warehouse import (
        TXN_DIR,
        current_version,
        multi_commit,
        recover_transactions,
        swing_rebase,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    base = session_scratch("annauto")
    src = os.path.join(base, "arrivals")
    os.makedirs(src)

    def land(df: DataFrame, name: str) -> int:
        return land_file(df, base, src, name)

    land(emb.select("vec_id", F.expr(E_SQL).alias("emb")), "b0")
    first = spark.read.parquet(os.path.join(src, "b0.parquet"))
    base1 = _rt_view(fan_out(first))

    # The frozen v1 quantizer commit (trained on batch 0 alone —
    # trained_through is the baseline watermark the monitor reads
    # back), the benign-batch build and the drift-batch build all
    # derive from the already-landed b0 file and write disjoint
    # destinations: three independent job chains, overlapped (§2.6).
    # Batch ORDER is semantic (the monitor timeline), and the file
    # source orders by modification time — so the concurrent builds
    # only STAGE; promotion into the source dir stays sequential with
    # explicitly increasing mtimes, making arrival order deterministic
    # regardless of which staging job finishes first.
    def _stage_batch(df: DataFrame, name: str) -> None:
        df.coalesce(1).write.parquet(os.path.join(base, f"stage_{name}"))

    overlap(
        lambda: commit_append(
            centroid_rows(base1).withColumn(
                "trained_through", F.lit(0).cast("long")
            ),
            base,
            "ann_centroids",
            1,
        ),
        lambda: _stage_batch(
            first.filter(F.col("vec_id") % 7 == 1).select(
                (F.col("vec_id") + F.lit(AR_BEN1)).alias("vec_id"),
                "emb",
            ),
            "b1",
        ),
        lambda: _stage_batch(_rt_drift(spark, base1), "b2"),
    )
    t0_land = os.stat(os.path.join(src, "b0.parquet")).st_mtime
    for i, name in enumerate(("b1", "b2"), start=1):
        stage = os.path.join(base, f"stage_{name}")
        part = _glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        dst = os.path.join(src, f"{name}.parquet")
        os.rename(part, dst)
        os.utime(dst, times=(t0_land + i, t0_land + i))

    events: list = []
    applied: dict = {}

    def _auto_retrain(sess: SparkSession, bid: int) -> None:
        live = fan_out(read_table(sess, base, "emb"))
        view = live.select(
            "vec_id", "emb", _norm("emb").alias("nrm"), "batch_id"
        )
        # corpus size from parquet footers alone (emb is append-only in
        # this drill — no DVs — so footer rows == live rows): a
        # driver-side metadata read instead of a full count job
        n = part_rows(base, "emb", manifest_parts(base, "emb") or [])
        k_new = math.isqrt(n)
        require(k_new > N_CELLS, "corpus too small to scale K up")
        stride = (n + k_new - 1) // k_new
        # both staged artifacts consume the seed table and the writes
        # run concurrently — persist so the global-window derivation
        # runs once (K·dim rows, KB-sized)
        seeds = (
            view.withColumn(
                "rn",
                F.row_number().over(Window.orderBy(F.asc("vec_id"))),
            )
            .filter((F.col("rn") - 1) % stride == 0)
            .select(
                F.col("rn").alias("cent_id"),
                F.col("emb").alias("cvec"),
                F.col("nrm").alias("cnrm"),
                F.lit(bid - 1).cast("long").alias("trained_through"),
            )
            .persist()
        )
        new_index = _assign_with_cos(view, seeds).withColumn(
            "epoch", F.lit(2).cast("long")
        )

        def _stage(table: str, df: DataFrame):
            df.coalesce(1).write.parquet(
                os.path.join(base, table, "retrain1")
            )
            return table, {
                "base": current_version(base, table),
                "added": ["retrain1"],
                "removed": manifest_parts(base, table) or [],
            }

        # disjoint staging directories — overlapped (§2.6); the intent
        # is durable only after both parts are fully written
        tx = dict(
            overlap(
                lambda: _stage("ann_centroids", seeds),
                lambda: _stage("ann_index", new_index),
            )
        )
        seeds.unpersist()
        os.makedirs(os.path.join(base, TXN_DIR), exist_ok=True)
        with open(
            os.path.join(base, TXN_DIR, "auto_rt.json"), "w"
        ) as fh:
            json.dump(tx, fh)
        # apply ONLY the index swing, then "crash" before the
        # centroids — the restart's recovery rolls the intent forward
        swing_rebase(
            base,
            "ann_index",
            tx["ann_index"]["base"],
            ["retrain1"],
            set(tx["ann_index"]["removed"]),
        )
        done = recover_transactions(base)
        require(done == ["auto_rt"], f"auto-retrain recovery: {done}")
        for table in ("ann_centroids", "ann_index"):
            require(
                manifest_parts(base, table) == ["retrain1"],
                f"{table}: auto-retrain swap incomplete",
            )
        require(
            current_version(base, "ann_centroids") == 2,
            "quantizer swap must be exactly one commit",
        )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        recover_transactions(base)
        if current_version(base, "txn_log") >= batch_id + 1:
            return
        # the TRIGGER: last committed monitor verdict, evaluated at
        # the batch boundary before this batch touches the index.
        # The verdict read (ann_monitor) and the quantizer-watermark
        # read (ann_centroids) touch disjoint tables — overlapped;
        # when the trigger actually fires (once per lifecycle) the
        # quantizer swaps and the watermark is simply re-read.
        mon = read_table(sess, base, "ann_monitor")

        def _quantizer_state() -> tuple:
            c = read_table(sess, base, "ann_centroids")
            return c, int(c.agg(F.max("trained_through")).first()[0])

        last, (cents, tt) = overlap(
            lambda: (
                mon.orderBy(F.desc("batch_id")).first()
                if mon is not None
                else None
            ),
            _quantizer_state,
        )
        if (
            last is not None
            and bool(last["should_retrain"])
            and current_version(base, "ann_centroids") == 1
        ):
            _auto_retrain(sess, batch_id)
            events.append((batch_id, "retrain"))
            cents, tt = _quantizer_state()
        ep = current_version(base, "ann_centroids")
        part = f"b{batch_id}"
        view = batch_df.select(
            "vec_id", "emb", _norm("emb").alias("nrm")
        ).withColumn("batch_id", F.lit(batch_id).cast("long"))
        # the index part and the emb part are disjoint destinations
        # derived from the same micro-batch: two overlapped writes
        # (§2.6) instead of two sequential sub-second jobs
        overlap(
            lambda: _assign_with_cos(view, cents)
            .withColumn("epoch", F.lit(ep).cast("long"))
            .coalesce(1)
            .write.parquet(os.path.join(base, "ann_index", part)),
            lambda: batch_df.select("vec_id", "emb")
            .withColumn("batch_id", F.lit(batch_id).cast("long"))
            .coalesce(1)
            .write.parquet(os.path.join(base, "emb", part)),
        )
        # drift signals from maintained artifacts alone: the staged
        # batch part vs the committed index's training-baseline rows.
        # ONE aggregation job (side, cell) -> (count, cosine sum)
        # covers what three sequential jobs computed before (each
        # side's n/sum plus the per-cell occupancy join): the ≤2·cells
        # collected rows finish the identical integer arithmetic
        # driver-side — exact longs either way, same values.
        cur = sess.read.parquet(os.path.join(base, "ann_index", part))
        idx = read_table(sess, base, "ann_index")
        sides = cur.select(F.lit(1).alias("side"), "cell", "mc_s6")
        if idx is not None:
            sides = sides.unionByName(
                idx.filter(F.col("batch_id") <= tt).select(
                    F.lit(0).alias("side"), "cell", "mc_s6"
                )
            )
        c1m: dict = {}
        c2m: dict = {}
        for r in (
            sides.groupBy("side", "cell")
            .agg(F.count(F.lit(1)).alias("c"), F.sum("mc_s6").alias("s"))
            .collect()
        ):
            (c2m if r["side"] == 1 else c1m)[r["cell"]] = (
                int(r["c"]),
                int(r["s"]),
            )
        if idx is None:
            c1m = c2m  # baseline IS the build batch at batch 0
        n2 = sum(c for c, _ in c2m.values())
        s2 = sum(s for _, s in c2m.values())
        n1 = sum(c for c, _ in c1m.values())
        s1 = sum(s for _, s in c1m.values())
        num = sum(
            abs(
                c2m.get(cell, (0, 0))[0] * n1
                - c1m.get(cell, (0, 0))[0] * n2
            )
            for cell in set(c1m) | set(c2m)
        )
        # every monitor value is a driver-held scalar by this point, so
        # the verdict row is written directly with pyarrow (like the
        # txn_log row below) instead of spending a Spark job on a 1-row
        # literal relation.  Rounding parity with F.round(double, 6):
        # Spark rounds BigDecimal(Double.toString(x)) HALF_UP; Python's
        # repr is the same shortest decimal for the same double (two
        # decimal expansions of ONE double cannot diverge at the 7th
        # decimal for O(1) magnitudes), so Decimal(repr(x)) HALF_UP
        # yields the identical double.
        from decimal import ROUND_HALF_UP, Decimal

        def _round6(x: float) -> float:
            return float(
                Decimal(repr(x)).quantize(
                    Decimal("0.000001"), ROUND_HALF_UP
                )
            )

        mean2 = _round6(s2 / (n2 * 1_000_000.0))
        mean1 = _round6(s1 / (n1 * 1_000_000.0))
        tvd = _round6(num / (2.0 * n1 * n2))
        should = (
            abs(mean2 - mean1) > DRIFT_COS_THRESHOLD
            or tvd > DRIFT_TVD_THRESHOLD
        )
        import pyarrow as _pa0
        import pyarrow.parquet as _pq0

        os.makedirs(os.path.join(base, "ann_monitor", part), exist_ok=True)
        _pq0.write_table(
            _pa0.table(
                {
                    "batch_id": _pa0.array([batch_id], _pa0.int64()),
                    "n_vecs": _pa0.array([n2], _pa0.int64()),
                    "mean_assign_cos": _pa0.array(
                        [mean2], _pa0.float64()
                    ),
                    "occupancy_tvd": _pa0.array([tvd], _pa0.float64()),
                    "should_retrain": _pa0.array([should], _pa0.bool_()),
                    "epoch": _pa0.array([ep], _pa0.int64()),
                }
            ),
            os.path.join(base, "ann_monitor", part, "part-00000.parquet"),
        )
        # the txn_log row is two driver-known longs: write the part
        # directly with pyarrow (same schema, same values) instead of
        # spending a Spark job on a 1-row literal relation (§4.2's
        # "don't ship what the driver already holds", applied to I/O)
        import pyarrow as _pa
        import pyarrow.parquet as _pq

        os.makedirs(os.path.join(base, "txn_log", part), exist_ok=True)
        _pq.write_table(
            _pa.table(
                {
                    "batch_id": _pa.array([batch_id], _pa.int64()),
                    "epoch": _pa.array([ep], _pa.int64()),
                }
            ),
            os.path.join(base, "txn_log", part, "part-00000.parquet"),
        )
        applied[batch_id] = n2
        multi_commit(
            base,
            {
                "emb": ([part], set()),
                "ann_index": ([part], set()),
                "ann_monitor": ([part], set()),
                "txn_log": ([part], set()),
            },
            part,
        )

    def run() -> None:
        q = (
            spark.readStream.schema(first.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", os.path.join(base, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination()
        finally:
            q.stop()

    run()  # b0 build, b1 benign, b2 drift — verdict trips at b2
    mon1 = {
        r["batch_id"]: r
        for r in read_table(spark, base, "ann_monitor").collect()
    }
    require(
        not mon1[0]["should_retrain"]
        and not mon1[1]["should_retrain"]
        and mon1[2]["should_retrain"],
        f"monitor timeline wrong pre-retrain: {mon1}",
    )
    require(
        current_version(base, "ann_centroids") == 1
        and events == [],
        "retrain must wait for the next batch boundary",
    )
    v_pin = current_version(base, "ann_index")  # frozen snapshot
    land(
        first.filter((F.col("vec_id") % 7).isin(*AR_BEN2_RES)).select(
            (F.col("vec_id") + F.lit(AR_BEN2)).alias("vec_id"), "emb"
        ),
        "b3",
    )
    run()  # trigger fires between batches: swap lands, b3 at epoch 2
    require(
        events == [(3, "retrain")]
        and current_version(base, "ann_centroids") == 2,
        f"auto-retrain did not fire exactly once: {events}",
    )
    before = dict(applied)
    run()  # idle restart applies nothing
    require(applied == before, "idle restart re-applied batches")

    # accounting: every corpus row indexed exactly once, all under the
    # retrained quantizer (full reassignment), batch sizes preserved.
    # Per-batch counts (one fused job: the epoch check rides the same
    # aggregation as a conditional count), the panel count and both
    # recall audits form ONE overlap group below (§2.6).
    idx = read_table(spark, base, "ann_index")
    emb_t = fan_out(read_table(spark, base, "emb"))
    corpus_all = emb_t.select(
        "vec_id", "emb", _norm("emb").alias("nrm")
    )
    corpus_pin = emb_t.filter(F.col("batch_id") <= 2).select(
        "vec_id", "emb", _norm("emb").alias("nrm")
    )
    queries = _rt_queries(corpus_pin)
    def _recall_hits(corpus: DataFrame, cells: DataFrame) -> int:
        return (
            _rt_topk(queries, corpus)
            .join(_rt_panel(queries, corpus, cells), ["qid", "cand"])
            .count()
        )

    # the accounting aggregation, the panel count and BOTH recall audits
    # (pinned snapshot vs retrained head) are four fully independent
    # read-only jobs over committed tables — ONE overlap group instead of
    # two sequential pairs (§2.6): the recall ratios only need nq as a
    # Python division AFTER the counts land, so nothing forces the
    # second serialization point the old pair structure paid
    acct_rows, nq, hits_f, hits_r = overlap(
        lambda: idx.groupBy("batch_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("epoch") != 2).cast("long")).alias("off_epoch"),
        )
        .collect(),
        queries.count,
        lambda: _recall_hits(
            corpus_pin,
            read_table(spark, base, "ann_index", version=v_pin).select(
                "vec_id", "cell"
            ),
        ),
        lambda: _recall_hits(corpus_all, idx.select("vec_id", "cell")),
    )
    per_b = {r["batch_id"]: r["n"] for r in acct_rows}
    require(
        per_b == applied
        and sum(r["off_epoch"] for r in acct_rows) == 0,
        f"post-swap accounting broken: {per_b} vs {applied}",
    )
    require(nq > 0, "drift panel empty")
    rec_f = hits_f / float(nq * RT_K)
    rec_r = hits_r / float(nq * RT_K)
    require(
        rec_f <= 0.75 and rec_r >= rec_f + 0.2,
        f"auto-retrain recall did not recover: {rec_f} -> {rec_r}",
    )

    return (
        read_table(spark, base, "ann_monitor")
        .select(
            "batch_id",
            "n_vecs",
            "mean_assign_cos",
            "occupancy_tvd",
            "should_retrain",
            "epoch",
        )
        .orderBy("batch_id")
        .transform(stable_checkpoint)
    )


QUERIES = {
    "sim_ann_maintained": q_ann_maintained,
    "sim_ann_maintained_scaled": q_ann_maintained_scaled,
    "sim_ann_retrain": q_ann_retrain,
    "sim_ann_drift_monitor": q_ann_drift_monitor,
    "stream_ann_retrain_swap": q_stream_ann_retrain_swap,
    "stream_ann_auto_retrain": q_stream_ann_auto_retrain,
    "curate_sample_maintained": q_sample_maintained,
    "sim_ann_maintained_delete": q_ann_maintained_delete,
    "sim_ann_partition_prune": q_ann_partition_prune,
    "sim_ann_index_optimize": q_ann_index_optimize,
    "stream_ann_maintain": q_stream_ann_maintain,
    "sim_ann_pq_maintained": q_ann_pq_maintained,
    "dedup_incremental_maintained": q_dedup_incremental_maintained,
    "dedup_band_lookup": q_dedup_band_lookup,
    "dedup_index_delete": q_dedup_index_delete,
}

# maintained == recomputed IS the gate: each oracle is the recompute
# path's SQL, shared verbatim with the recompute gate so the maintained
# gate and its baseline can never drift apart.  The delete gate's
# oracle is the same recompute over the corpus MINUS the erased set —
# derived mechanically from the shared SQL (single substitution point,
# guarded below) so an edit to the base oracle flows through.
_IVF_SQL = _similarity.ORACLE["sim_ann_ivf_topk"]
if _IVF_SQL.count("FROM embeddings") != 1:  # guard the substitution
    raise RuntimeError("sim_ann_ivf_topk oracle shape changed")
# derived-K variant: the same recompute with the cell prefix scaled to
# floor(sqrt(n)) — one substitution site, guarded
if _IVF_SQL.count("vec_id < 8") != 1:
    raise RuntimeError("sim_ann_ivf_topk cell-prefix shape changed")
_IVF_SCALED_SQL = _IVF_SQL.replace(
    "vec_id < 8",
    "vec_id < (SELECT CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT)"
    " FROM embeddings)",
)

ORACLE_SAMPLE = f"""
SELECT doc_id, lang, source,
       substr(md5('usample:' || CAST(doc_id AS VARCHAR)), 1, 2) AS bucket
FROM documents
WHERE substr(md5('usample:' || CAST(doc_id AS VARCHAR)), 1, 2)
      < '{SAMPLE_TH}'
"""

ORACLE = {
    "sim_ann_maintained": _IVF_SQL,
    "sim_ann_maintained_scaled": _IVF_SCALED_SQL,
    "curate_sample_maintained": ORACLE_SAMPLE,
    "sim_ann_partition_prune": _IVF_SQL,
    "stream_ann_maintain": _IVF_SQL,
    "sim_ann_index_optimize": _IVF_SQL,
    "sim_ann_pq_maintained": _similarity.ORACLE["sim_ann_ivfpq_topk"],
    "sim_ann_maintained_delete": _IVF_SQL.replace(
        "FROM embeddings",
        "FROM (SELECT * FROM embeddings "
        f"WHERE NOT (vec_id >= {N_CELLS} AND vec_id % 7 = 3))",
    ),
    "dedup_incremental_maintained": _neardup.ORACLE["dedup_incremental"],
    "dedup_band_lookup": _neardup.ORACLE["dedup_incremental"],
}

# the takedown gate's oracle: the shared recompute SQL with the corpus
# side filtered to survivors (two substitution sites — the shingle CTE
# and the exact-fingerprint side — guarded so an oracle edit can't
# silently desync the derivation)
_DEDUP_SQL = _neardup.ORACLE["dedup_incremental"]
if _DEDUP_SQL.count("doc_id % 5 <> 0") != 2:
    raise RuntimeError("dedup_incremental oracle shape changed")
ORACLE["dedup_index_delete"] = _DEDUP_SQL.replace(
    "doc_id % 5 <> 0", "doc_id % 5 <> 0 AND doc_id % 10 <> 1"
)


def _rtdot(a: str, b: str) -> str:
    """DuckDB left-fold dot product — the exact fp-op order of the
    Spark side's unrolled ``_dot`` chain (bit-identical across the
    whole vector-gate family)."""
    return (
        f"list_reduce(list_transform(list_zip({a}, {b}), "
        "p -> p[1] * p[2]), (acc, x) -> acc + x)"
    )


# stream_ann_retrain_swap oracle: the mixed-epoch serve recomputed from
# `embeddings` alone — epoch-1 rows (arrivals 1+2, everything but the
# post-swap batch) assigned under the 8-cell v1 quantizer, epoch-2 rows
# (arrival 3) under the 16-cell v2 quantizer, the anchor probing each
# epoch with its cell under THAT quantizer, exact re-rank of the union.
_SW_HI = 3 * N_CELLS
_SW_LATE2 = f"(vec_id >= {_SW_HI} AND vec_id % 5 = 3)"
ORACLE["stream_ann_retrain_swap"] = f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e,
         sqrt({_rtdot('embedding::DOUBLE[]', 'embedding::DOUBLE[]')}) AS nrm
  FROM embeddings
),
c1 AS (
  SELECT vec_id AS cent_id, e AS ce, nrm AS cn FROM v
  WHERE vec_id < {N_CELLS}
),
c2 AS (
  SELECT vec_id AS cent_id, e AS ce, nrm AS cn FROM v
  WHERE vec_id >= {N_CELLS} AND vec_id < {_SW_HI}
),
a1 AS (
  SELECT vec_id, cent_id AS cell FROM (
    SELECT x.vec_id, c.cent_id, row_number() OVER (
      PARTITION BY x.vec_id
      ORDER BY {_rtdot('x.e', 'c.ce')} / (x.nrm * c.cn) DESC,
               c.cent_id ASC) AS rn
    FROM (SELECT * FROM v WHERE NOT {_SW_LATE2}) x CROSS JOIN c1 c)
  WHERE rn = 1
),
a2 AS (
  SELECT vec_id, cent_id AS cell FROM (
    SELECT x.vec_id, c.cent_id, row_number() OVER (
      PARTITION BY x.vec_id
      ORDER BY {_rtdot('x.e', 'c.ce')} / (x.nrm * c.cn) DESC,
               c.cent_id ASC) AS rn
    FROM (SELECT * FROM v WHERE {_SW_LATE2}) x CROSS JOIN c2 c)
  WHERE rn = 1
),
anchorv AS (SELECT e AS q, nrm AS qn FROM v WHERE vec_id = {ANCHOR_ID}),
aq2 AS (
  SELECT cent_id AS cell FROM (
    SELECT c.cent_id, row_number() OVER (
      ORDER BY {_rtdot('a.q', 'c.ce')} / (a.qn * c.cn) DESC,
               c.cent_id ASC) AS rn
    FROM anchorv a CROSS JOIN c2 c) WHERE rn = 1
),
cand AS (
  SELECT vec_id, CAST(1 AS BIGINT) AS epoch FROM a1
  WHERE cell = (SELECT cell FROM a1 WHERE vec_id = {ANCHOR_ID})
    AND vec_id <> {ANCHOR_ID}
  UNION ALL
  SELECT vec_id, CAST(2 AS BIGINT) FROM a2
  WHERE cell = (SELECT cell FROM aq2)
)
SELECT c.vec_id, c.epoch,
       round({_rtdot('v.e', 'a.q')} / (v.nrm * a.qn), 6) AS cosine_sim
FROM cand c JOIN v ON v.vec_id = c.vec_id CROSS JOIN anchorv a
ORDER BY cosine_sim DESC, c.vec_id ASC
LIMIT {IVF_TOP_K}
"""


# sim_ann_retrain oracle: replays the ENTIRE drill from `embeddings`
# alone — drift construction (same fp ops, same order), frozen and
# retrained quantizers, both serves, and the recall aggregation.  Any
# divergence in the engine's drift arithmetic, assignment tie order,
# seed stride, or serve ranking breaks the hash.
# shared corpus-construction CTEs (drift arithmetic + base/drift
# union) used verbatim by the retrain and drift-monitor oracles so
# the two can never diverge on the drift definition
_RT_CTES = f"""v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e,
         sqrt({_rtdot('embedding::DOUBLE[]', 'embedding::DOUBLE[]')}) AS nrm
  FROM embeddings
),
u AS (SELECT vec_id, list_transform(e, x -> x / nrm) AS uv FROM v),
pair AS (
  SELECT ms.m,
         list_transform(list_zip(a.uv, b.uv), p -> p[1] + p[2]) AS g,
         list_transform(list_zip(a.uv, b.uv), p -> p[1] - p[2]) AS delta,
         wvu.uv AS wv
  FROM (SELECT UNNEST([0, 1, 2, 3]) AS m) ms
  JOIN u a ON a.vec_id = 2 * ms.m
  JOIN u b ON b.vec_id = 2 * ms.m + 1
  JOIN u wvu ON wvu.vec_id = {2 * RT_M} + ms.m
),
pairp AS (
  SELECT m, g, delta, wv,
         {_rtdot('wv', 'delta')} / {_rtdot('delta', 'delta')} AS proj
  FROM pair
),
hline AS (
  SELECT m, g,
         list_transform(list_zip(wv, delta), p -> p[1] - proj * p[2]) AS h
  FROM pairp
),
src AS (
  SELECT vec_id // 5 AS t, uv AS ut FROM u WHERE vec_id % 5 = 0
),
drift AS (
  SELECT {RT_OFF} + (t % {RT_M}) * {RT_BLOCK} + (t // {RT_M}) AS vec_id,
         list_transform(
           list_zip(
             list_transform(list_zip(hl.g, hl.h),
                p -> p[1] + (((t // {RT_M}) + 1) * {RT_STEP}) * p[2]),
             s.ut),
           p -> p[1] + {RT_TINY} * p[2]) AS e
  FROM src s JOIN hline hl ON hl.m = s.t % {RT_M}
),
corpus AS (
  SELECT vec_id, e, nrm FROM v
  UNION ALL
  SELECT vec_id, e, sqrt({_rtdot('e', 'e')}) AS nrm FROM drift
)"""

ORACLE["sim_ann_retrain"] = f"""
WITH {_RT_CTES},
c8 AS (
  SELECT vec_id AS cent_id, e AS ce, nrm AS cn FROM v
  WHERE vec_id < {N_CELLS}
),
cellsf AS (
  SELECT vec_id, cent_id AS cell FROM (
    SELECT c.vec_id, x.cent_id, row_number() OVER (
      PARTITION BY c.vec_id
      ORDER BY {_rtdot('c.e', 'x.ce')} / (c.nrm * x.cn) DESC,
               x.cent_id ASC) AS rn
    FROM corpus c CROSS JOIN c8 x) WHERE rn = 1
),
nk AS (
  SELECT n, k, (n + k - 1) // k AS stride,
         (n + ((n + k - 1) // k) - 1) // ((n + k - 1) // k) AS kcells
  FROM (SELECT COUNT(*) AS n,
               CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT) AS k
        FROM corpus)
),
ranked AS (
  SELECT vec_id, e, nrm, row_number() OVER (ORDER BY vec_id) AS rn
  FROM corpus
),
seeds AS (
  SELECT rn AS cent_id, e AS ce, nrm AS cn
  FROM ranked, nk WHERE (rn - 1) % stride = 0
),
cellsr AS (
  SELECT vec_id, cent_id AS cell FROM (
    SELECT c.vec_id, s.cent_id, row_number() OVER (
      PARTITION BY c.vec_id
      ORDER BY {_rtdot('c.e', 's.ce')} / (c.nrm * s.cn) DESC,
               s.cent_id ASC) AS rn
    FROM corpus c CROSS JOIN seeds s) WHERE rn = 1
),
qs AS (SELECT vec_id, e, nrm FROM corpus WHERE vec_id >= {RT_OFF}
       AND vec_id % {RT_BLOCK} < {RT_QMAX}),
exact5 AS (
  SELECT qid, cand FROM (
    SELECT q.vec_id AS qid, c.vec_id AS cand,
           row_number() OVER (PARTITION BY q.vec_id ORDER BY
             round({_rtdot('c.e', 'q.e')} / (c.nrm * q.nrm), 6) DESC,
             c.vec_id ASC) AS rn
    FROM qs q JOIN corpus c ON c.vec_id <> q.vec_id
  ) WHERE rn <= {RT_K}
),
servedf AS (
  SELECT qid, cand FROM (
    SELECT q.vec_id AS qid, c.vec_id AS cand,
           row_number() OVER (PARTITION BY q.vec_id ORDER BY
             round({_rtdot('c.e', 'q.e')} / (c.nrm * q.nrm), 6) DESC,
             c.vec_id ASC) AS rn
    FROM qs q
    JOIN cellsf cq ON cq.vec_id = q.vec_id
    JOIN cellsf cc ON cc.cell = cq.cell
    JOIN corpus c ON c.vec_id = cc.vec_id AND c.vec_id <> q.vec_id
  ) WHERE rn <= {RT_K}
),
servedr AS (
  SELECT qid, cand FROM (
    SELECT q.vec_id AS qid, c.vec_id AS cand,
           row_number() OVER (PARTITION BY q.vec_id ORDER BY
             round({_rtdot('c.e', 'q.e')} / (c.nrm * q.nrm), 6) DESC,
             c.vec_id ASC) AS rn
    FROM qs q
    JOIN cellsr cq ON cq.vec_id = q.vec_id
    JOIN cellsr cc ON cc.cell = cq.cell
    JOIN corpus c ON c.vec_id = cc.vec_id AND c.vec_id <> q.vec_id
  ) WHERE rn <= {RT_K}
),
hits AS (
  SELECT 'frozen' AS phase, CAST({N_CELLS} AS BIGINT) AS n_cells,
         (SELECT COUNT(*) FROM exact5 e
          JOIN servedf s ON e.qid = s.qid AND e.cand = s.cand) AS n_hits
  UNION ALL
  SELECT 'retrained', (SELECT kcells FROM nk),
         (SELECT COUNT(*) FROM exact5 e
          JOIN servedr s ON e.qid = s.qid AND e.cand = s.cand)
)
SELECT phase, n_cells,
       (SELECT COUNT(*) FROM qs) AS n_queries,
       n_hits,
       round(n_hits / ((SELECT COUNT(*) FROM qs) * {float(RT_K)}), 6)
         AS recall_at_k
FROM hits
ORDER BY phase
"""


# sim_ann_drift_monitor oracle: the same drift corpus (shared CTEs),
# frozen assignment, and both exact-integer metrics recomputed from
# `embeddings` alone.
ORACLE["sim_ann_drift_monitor"] = f"""
WITH {_RT_CTES},
c8 AS (
  SELECT vec_id AS cent_id, e AS ce, nrm AS cn FROM v
  WHERE vec_id < {N_CELLS}
),
scored AS (
  SELECT c.vec_id,
         CASE WHEN c.vec_id >= {RT_OFF} THEN 'arrival'
              ELSE 'build' END AS batch,
         x.cent_id,
         {_rtdot('c.e', 'x.ce')} / (c.nrm * x.cn) AS cos_c
  FROM corpus c CROSS JOIN c8 x
),
amax AS (
  SELECT vec_id, batch, MAX(cos_c) AS mc FROM scored
  GROUP BY vec_id, batch
),
cells AS (
  SELECT vec_id, batch, cent_id AS cell FROM (
    SELECT vec_id, batch, cent_id, row_number() OVER (
      PARTITION BY vec_id ORDER BY cos_c DESC, cent_id ASC) AS rn
    FROM scored) WHERE rn = 1
),
pv AS (
  SELECT batch,
         CAST(round(round(mc, 6) * 1000000, 0) AS BIGINT) AS mc_s6
  FROM amax
),
stats AS (
  SELECT batch, COUNT(*) AS n_vecs,
         CAST(SUM(mc_s6) AS BIGINT) AS sum_s6
  FROM pv GROUP BY batch
),
means AS (
  SELECT batch, n_vecs,
         round(sum_s6 / (n_vecs * 1000000.0), 6) AS mean_assign_cos
  FROM stats
),
occ AS (
  SELECT batch, cell, COUNT(*) AS c FROM cells GROUP BY batch, cell
),
occj AS (
  SELECT COALESCE(b.c, 0) AS c1, COALESCE(a.c, 0) AS c2
  FROM (SELECT cell, c FROM occ WHERE batch = 'build') b
  FULL OUTER JOIN (SELECT cell, c FROM occ WHERE batch = 'arrival') a
    USING (cell)
),
ns AS (
  SELECT (SELECT n_vecs FROM stats WHERE batch = 'build') AS n1,
         (SELECT n_vecs FROM stats WHERE batch = 'arrival') AS n2
),
tvd AS (
  SELECT round(CAST(SUM(ABS(c2 * n1 - c1 * n2)) AS BIGINT)
               / (2.0 * n1 * n2), 6) AS t
  FROM occj, ns GROUP BY n1, n2
)
SELECT m.batch, m.n_vecs, m.mean_assign_cos,
       CASE WHEN m.batch = 'build' THEN 0.0
            ELSE (SELECT t FROM tvd) END AS occupancy_tvd,
       CASE WHEN m.batch = 'build' THEN FALSE
            ELSE (ABS(m.mean_assign_cos
                      - (SELECT mean_assign_cos FROM means
                         WHERE batch = 'build'))
                  > {DRIFT_COS_THRESHOLD}
                  OR (SELECT t FROM tvd) > {DRIFT_TVD_THRESHOLD})
       END AS should_retrain
FROM means m
ORDER BY m.batch
"""


# stream_ann_auto_retrain oracle: the four-batch closed-loop monitor
# timeline recomputed from `embeddings` alone — shared drift CTEs,
# frozen (epoch-1) assignments for batches 0..2, the corpus-scaled
# retrained quantizer over batches 0..2, epoch-2 assignments for the
# baseline and the post-retrain batch, and every mean/TVD/verdict with
# the engine's exact integer arithmetic and rounding.
ORACLE["stream_ann_auto_retrain"] = f"""
WITH {_RT_CTES},
ben1 AS (SELECT {AR_BEN1} + vec_id AS vec_id, e, nrm FROM v
         WHERE vec_id % 7 = 1),
ben2 AS (SELECT {AR_BEN2} + vec_id AS vec_id, e, nrm FROM v
         WHERE vec_id % 7 IN {AR_BEN2_RES}),
batches AS (
  SELECT CAST(0 AS BIGINT) AS b, vec_id, e, nrm FROM v
  UNION ALL SELECT 1, vec_id, e, nrm FROM ben1
  UNION ALL SELECT 2, vec_id, e, sqrt({_rtdot('e', 'e')}) FROM drift
  UNION ALL SELECT 3, vec_id, e, nrm FROM ben2
),
c8 AS (SELECT vec_id AS cent_id, e AS ce, nrm AS cn FROM v
       WHERE vec_id < {N_CELLS}),
a1 AS (
  SELECT b, vec_id, cent_id AS cell,
         CAST(round(round(mc, 6) * 1000000, 0) AS BIGINT) AS s6
  FROM (
    SELECT x.b, x.vec_id, c.cent_id,
           MAX({_rtdot('x.e', 'c.ce')} / (x.nrm * c.cn))
             OVER (PARTITION BY x.b, x.vec_id) AS mc,
           row_number() OVER (PARTITION BY x.b, x.vec_id
             ORDER BY {_rtdot('x.e', 'c.ce')} / (x.nrm * c.cn) DESC,
                      c.cent_id ASC) AS rn
    FROM (SELECT * FROM batches WHERE b <= 2) x CROSS JOIN c8 c)
  WHERE rn = 1
),
rc AS (SELECT vec_id, e, nrm FROM batches WHERE b <= 2),
nk AS (SELECT (n + k - 1) // k AS stride
       FROM (SELECT COUNT(*) AS n,
                    CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT) AS k
             FROM rc)),
seeds AS (
  SELECT rn AS cent_id, e AS ce, nrm AS cn FROM (
    SELECT vec_id, e, nrm,
           row_number() OVER (ORDER BY vec_id) AS rn FROM rc), nk
  WHERE (rn - 1) % stride = 0
),
a2 AS (
  SELECT b, vec_id, cent_id AS cell,
         CAST(round(round(mc, 6) * 1000000, 0) AS BIGINT) AS s6
  FROM (
    SELECT x.b, x.vec_id, s.cent_id,
           MAX({_rtdot('x.e', 's.ce')} / (x.nrm * s.cn))
             OVER (PARTITION BY x.b, x.vec_id) AS mc,
           row_number() OVER (PARTITION BY x.b, x.vec_id
             ORDER BY {_rtdot('x.e', 's.ce')} / (x.nrm * s.cn) DESC,
                      s.cent_id ASC) AS rn
    FROM batches x CROSS JOIN seeds s)
  WHERE rn = 1
),
s1 AS (SELECT b, COUNT(*) AS n, CAST(SUM(s6) AS BIGINT) AS s
       FROM a1 GROUP BY b),
m1 AS (SELECT b, n, round(s / (n * 1000000.0), 6) AS mean FROM s1),
m3 AS (SELECT COUNT(*) AS n,
              round(CAST(SUM(s6) AS BIGINT) / (COUNT(*) * 1000000.0), 6)
                AS mean
       FROM a2 WHERE b = 3),
mb2 AS (SELECT COUNT(*) AS n,
               round(CAST(SUM(s6) AS BIGINT) / (COUNT(*) * 1000000.0), 6)
                 AS mean
        FROM a2 WHERE b <= 2),
tv AS (
  SELECT 1 AS b, COALESCE(o2.c, 0) AS c2, COALESCE(o1.c, 0) AS c1
  FROM (SELECT cell, COUNT(*) AS c FROM a1 WHERE b = 1 GROUP BY cell) o2
  FULL OUTER JOIN (SELECT cell, COUNT(*) AS c FROM a1 WHERE b = 0
                   GROUP BY cell) o1 USING (cell)
  UNION ALL
  SELECT 2, COALESCE(o2.c, 0), COALESCE(o1.c, 0)
  FROM (SELECT cell, COUNT(*) AS c FROM a1 WHERE b = 2 GROUP BY cell) o2
  FULL OUTER JOIN (SELECT cell, COUNT(*) AS c FROM a1 WHERE b = 0
                   GROUP BY cell) o1 USING (cell)
  UNION ALL
  SELECT 3, COALESCE(o2.c, 0), COALESCE(o1.c, 0)
  FROM (SELECT cell, COUNT(*) AS c FROM a2 WHERE b = 3 GROUP BY cell) o2
  FULL OUTER JOIN (SELECT cell, COUNT(*) AS c FROM a2 WHERE b <= 2
                   GROUP BY cell) o1 USING (cell)
),
tvd AS (
  SELECT b,
         round(CAST(SUM(ABS(
             c2 * (CASE WHEN b = 3 THEN (SELECT n FROM mb2)
                        ELSE (SELECT n FROM s1 WHERE s1.b = 0) END)
           - c1 * (CASE WHEN b = 3 THEN (SELECT n FROM m3)
                        ELSE (SELECT n FROM s1 WHERE s1.b = tv.b) END)
           )) AS BIGINT)
           / (2.0
              * (CASE WHEN b = 3 THEN (SELECT n FROM mb2)
                      ELSE (SELECT n FROM s1 WHERE s1.b = 0) END)
              * (CASE WHEN b = 3 THEN (SELECT n FROM m3)
                      ELSE (SELECT n FROM s1 WHERE s1.b = tv.b) END)),
           6) AS t
  FROM tv GROUP BY b
)
SELECT CAST(0 AS BIGINT) AS batch_id,
       (SELECT n FROM m1 WHERE b = 0) AS n_vecs,
       (SELECT mean FROM m1 WHERE b = 0) AS mean_assign_cos,
       0.0 AS occupancy_tvd,
       FALSE AS should_retrain,
       CAST(1 AS BIGINT) AS epoch
UNION ALL
SELECT 1, (SELECT n FROM m1 WHERE b = 1),
       (SELECT mean FROM m1 WHERE b = 1),
       (SELECT t FROM tvd WHERE b = 1),
       ABS((SELECT mean FROM m1 WHERE b = 1)
           - (SELECT mean FROM m1 WHERE b = 0)) > {DRIFT_COS_THRESHOLD}
       OR (SELECT t FROM tvd WHERE b = 1) > {DRIFT_TVD_THRESHOLD},
       1
UNION ALL
SELECT 2, (SELECT n FROM m1 WHERE b = 2),
       (SELECT mean FROM m1 WHERE b = 2),
       (SELECT t FROM tvd WHERE b = 2),
       ABS((SELECT mean FROM m1 WHERE b = 2)
           - (SELECT mean FROM m1 WHERE b = 0)) > {DRIFT_COS_THRESHOLD}
       OR (SELECT t FROM tvd WHERE b = 2) > {DRIFT_TVD_THRESHOLD},
       1
UNION ALL
SELECT 3, (SELECT n FROM m3),
       (SELECT mean FROM m3),
       (SELECT t FROM tvd WHERE b = 3),
       ABS((SELECT mean FROM m3)
           - (SELECT mean FROM mb2)) > {DRIFT_COS_THRESHOLD}
       OR (SELECT t FROM tvd WHERE b = 3) > {DRIFT_TVD_THRESHOLD},
       2
ORDER BY batch_id
"""


# --- serve-only bench factories (VERDICT r8 prescription #6) -----------------
#
# Each maintained gate's registry timing is a CONSTRUCTION DRILL — a
# multi-commit warehouse build with accounting proofs — which SCALE.md
# argues must not be read as serving cost.  The factories make that
# split data by REUSING the gates' own pieces: every gate above is a
# ``build(spark, sf_dir, w) -> state``, a ``serve(spark, w, state)``
# and its proof; a factory runs the same build untimed and hands back
# the same serve, so the timed path IS the gated path.  Factories run
# no proofs (the gates own correctness); identical serving shapes share
# a factory via SERVE_ALIASES.  ``ann_epoch`` alone keeps a batch
# replica of its gate's build (see ``_build_ann_epoch``).


SERVE_ALIASES = {
    # gate name -> factory key (identical serving shapes share a build)
    "sim_ann_maintained": "ann",
    "stream_ann_maintain": "ann",
    "sim_ann_index_optimize": "ann_opt",
    "sim_ann_maintained_delete": "ann_dv",
    "sim_ann_pq_maintained": "ann_pq",
    "sim_ann_partition_prune": "ann_prune",
    "dedup_incremental_maintained": "dedup",
    "dedup_index_delete": "dedup_dv",
    "dedup_band_lookup": "dedup_band",
    "sim_ann_maintained_scaled": "ann_scaled",
    "sim_ann_retrain": "ann_retrain",
    "sim_ann_drift_monitor": "ann_monitor",
    "stream_ann_retrain_swap": "ann_epoch",
    # post-auto-retrain serving is the retrained single-probe shape
    "stream_ann_auto_retrain": "ann_retrain",
}


def serve_factories() -> dict:
    """Factory per distinct maintained-serving shape: each returns
    ``(serve, cleanup)`` where ``serve()`` builds the serving DataFrame
    over an already-constructed (untimed) warehouse.  bench.py times
    ``serve`` best-of-2 and records the result per gate name via
    SERVE_ALIASES."""
    return {
        "ann": _factory(_build_ann_append, _ann_serve),
        "ann_dv": _factory(_build_ann_dv, _ann_serve),
        "ann_pq": _factory(_build_ann_pq, _ivfadc_serve),
        "ann_prune": _factory(_build_ann_prune, _prune_serve),
        "ann_opt": _factory(_build_ann_opt, _ann_serve),
        "dedup": _factory(_build_dedup, _dedup_serve),
        "dedup_dv": _factory(_build_dedup_dv, _dedup_serve),
        "dedup_band": _factory(
            _build_dedup_band, _dedup_band_serve, drop=_drop_band_tables
        ),
        "ann_scaled": _factory(_build_ann_scaled, _ann_serve),
        "ann_retrain": _factory(_build_ann_retrain, _rt_serve),
        "ann_monitor": _factory(_build_ann_monitor, _monitor_serve),
        "ann_epoch": _factory(_build_ann_epoch, _epoch_serve),
    }
