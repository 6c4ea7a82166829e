"""Near-duplicate detection: MinHash + LSH banding, n-gram Jaccard.

The canonical 100 TB dedup pipeline (BASELINE.json extension family):

1. shingle: w-token rolling shingles per document, exploded to one row per
   (doc, shingle);
2. minhash: the K signature components are K parallel
   ``MIN(md5(seed || '|' || shingle))`` aggregates in one groupBy(doc_id) —
   the MIN of an md5-as-string order is a valid uniform hash min and
   (critically) computes identically in any engine with md5, which makes
   the whole pipeline oracle-checkable.  Duplicate shingles can't change a
   MIN, so no distinct pass is needed.  Catalyst's partial aggregation
   collapses the exploded shingles to one K-component row per doc map-side,
   so the shuffle carries signatures, not shingles;
3. LSH banding: adjacent signature pairs form band values; documents sharing
   any band value become candidate pairs via one join keyed by band value
   (uniform md5 keys, no skew);
4. verify: estimated Jaccard = matching signature components / K (zip_with
   on the two signature arrays), exact Jaccard via array_intersect of the
   distinct shingle sets (collected in the same aggregation) — both
   per-pair array ops, no re-join to corpus rows beyond fetching the two
   arrays.

Deliberately explode+groupBy for the signature stage rather than per-row
array folds: Spark's higher-order lambda functions are codegen-incompatible
(interpreted, ~10× slower here at K=12), while exploded MIN aggregates stay
in WholeStageCodegen; the shuffle it introduces is signature-sized.

Scale: stage 1-2 is scan + partial agg; stage 3 is one shuffle keyed by
band hash; stage 4 touches only candidate pairs (output-sized, not
corpus-sized).  No O(N²) stage exists anywhere.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from spark_spotify.sources.tables import fan_out
from spark_spotify.functions.checkpoint import stable_checkpoint
from spark_spotify.functions.text import tokens_col
from spark_spotify.operators.topk import top_k

N_HASHES = 12
SHINGLE_W = 3
N_BANDS = N_HASHES // 2
JACCARD_THRESHOLD = 0.5


def normalized_fingerprint(text: Column) -> Column:
    """The engine-wide exact-dedup key: md5 of the lowercased, trimmed
    text.  One definition shared by corpus exact-dedup
    (``text_dedup_exact``), canonical-copy election
    (``curate_keep_canonical``), and the incremental pipeline's
    ``drop_exact`` verdict — so their notions of "the same document" can
    never diverge."""
    return F.md5(F.lower(F.trim(text)))


def shingle_array(text: Column, w: int = SHINGLE_W) -> Column:
    """w-token rolling shingles of a document as array<string> (may contain
    duplicates; empty if the doc has fewer than w tokens)."""
    toks = tokens_col(text)
    n = F.size(toks)
    idx = F.when(n >= w, F.sequence(F.lit(0), n - w)).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, w), " "))


NGRAM_N = 5
NGRAM_JACCARD_THRESHOLD = 0.4


def _char_gram_rows(docs: DataFrame, n: int = NGRAM_N) -> DataFrame:
    """(doc_id, g) rows: rolling character n-grams of the lowercased text,
    duplicates kept.  Explodes a 1-based start-index sequence and slices with
    ``substring`` so the whole row stays inside WholeStageCodegen — the
    array-of-strings route (``char_gram_array`` + explode) allocates every
    gram twice and runs interpreted (~3× slower at sf0.1)."""
    return (
        docs.select("doc_id", F.lower(F.trim(F.col("text"))).alias("nt"))
        .filter(F.length("nt") >= n)
        .select(
            "doc_id",
            "nt",
            F.explode(
                F.sequence(F.lit(1), F.length("nt") - (n - 1))
            ).alias("i"),
        )
        .select("doc_id", F.expr(f"substring(nt, i, {n})").alias("g"))
    )


def char_gram_array(text: Column, n: int = NGRAM_N) -> Column:
    """Rolling character n-grams of the lowercased document as
    array<string> (empty if the doc is shorter than n chars)."""
    norm = F.lower(F.trim(text))
    ln = F.length(norm)
    idx = F.when(ln >= n, F.sequence(F.lit(0), ln - n)).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(idx, lambda i: F.substr(norm, i + 1, F.lit(n)))


def signatures(
    docs: DataFrame, k: int = N_HASHES, feature: Column | None = None
) -> DataFrame:
    """doc_id, shingles (distinct feature set), sig (K-component MinHash as
    array<string>, md5-order min) — one explode + one partial-aggregated
    groupBy; docs with no features drop out.  ``feature`` defaults to
    w-token shingles; pass ``char_gram_array(...)`` for character-n-gram
    MinHash."""
    if feature is None:
        feature = shingle_array(F.col("text"))
    sh = fan_out(docs).select("doc_id", F.explode(feature).alias("shingle"))
    agg = sh.groupBy("doc_id").agg(
        *[
            F.min(
                F.md5(F.concat(F.lit(f"{seed}|"), F.col("shingle")))
            ).alias(f"mh{seed}")
            for seed in range(k)
        ],
        F.collect_set("shingle").alias("shingles"),
    )
    return agg.select(
        "doc_id",
        "shingles",
        F.array(*[f"mh{seed}" for seed in range(k)]).alias("sig"),
    )


def band_rows(sigs: DataFrame, n_bands: int = N_BANDS) -> DataFrame:
    """(doc_id, band, band_val) LSH band rows, rows-per-band = 2: band value
    = the (order-insensitive) least||greatest of the two signature
    components.  The MinHash band relation of both band joins —
    ``band_self_join`` for corpus dedup, ``band_cross_join`` for
    incremental dedup."""
    return sigs.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_bands - 1)),
                lambda b: F.concat_ws(
                    "|",
                    F.least(F.col("sig")[b * 2], F.col("sig")[b * 2 + 1]),
                    F.greatest(F.col("sig")[b * 2], F.col("sig")[b * 2 + 1]),
                ),
            )
        ).alias("band", "band_val"),
    )


BAND_KEYS = ["band", "band_val"]
MAX_BAND_BUCKET = 256


def over_full_buckets(sides: list[DataFrame], keys: list[str]) -> DataFrame:
    """The bucket cap: the ``keys`` values whose band bucket holds more
    than MAX_BAND_BUCKET rows over all of ``sides`` — the bounded-
    worst-case guard every production LSH dedup ships.  Both band joins
    drop these buckets before pair generation.

    A band value shared by b documents yields O(b²) candidate pairs; a
    corpus-universal feature (boilerplate headers, injected suffixes — the
    scaled-testdata probe measured 2 s → 437 s at 10× from exactly this)
    can put an entire corpus in ONE bucket and turn candidate generation
    quadratic.  Such buckets carry no signal: a pair whose only shared
    bands are shared by thousands of other documents is indistinguishable
    from the crowd, so dropping the bucket bounds the join at a small,
    explicit recall cost.  A batch-vs-corpus bucket is judged over both
    sides together: a band value saturating the corpus is just as
    non-discriminative for an incoming batch.

    Shape: over-full buckets are RARE by construction (that's what makes
    them non-discriminative), so each side gets a map-side-combined
    bucket count, the per-side counts are full-outer-joined on ``keys``
    and filtered to offenders, and the joins broadcast the result back as
    an anti-join — the band relation itself is never sort-shuffled.  Over
    tables bucketed by ``keys`` the counts and their join reuse the
    write-time bucketing, so the guard plans no shuffle.  (A window count
    over (band, band_val) was measured 2-3× slower at sf0.1: it
    full-sorts the band rows to count them, and both sides of the
    downstream self-join re-execute it.)"""
    counts = [
        s.groupBy(*keys).agg(F.count(F.lit(1)).alias(f"_n{i}"))
        for i, s in enumerate(sides)
    ]
    z = F.lit(0).cast("long")
    total = reduce(
        operator.add, [F.coalesce(f"_n{i}", z) for i in range(len(sides))]
    )
    return (
        reduce(lambda x, y: x.join(y, keys, "full_outer"), counts)
        .filter(total > MAX_BAND_BUCKET)
        .select(*keys)
    )


def band_self_join(bands: DataFrame) -> DataFrame:
    """Distinct LSH candidate pairs within one relation: from
    (doc_id, band, band_val[, carried columns]) rows, every
    (doc_a, doc_b[, c_a, c_b per carried column c]) with doc_a < doc_b
    whose documents share a band value, over-full buckets dropped first
    (``over_full_buckets``)."""
    carried = [c for c in bands.columns if c not in ("doc_id", *BAND_KEYS)]
    # tiny/empty; materialize once — both aliases below would otherwise
    # run the count per side
    over = stable_checkpoint(over_full_buckets([bands], BAND_KEYS))
    kept = bands.join(F.broadcast(over), BAND_KEYS, "left_anti")
    a, b = kept.alias("a"), kept.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            *[
                F.col(f"{s}.{c}").alias(f"{c}_{s}")
                for c in carried
                for s in "ab"
            ],
        )
        .distinct()
    )


def band_cross_join(
    new: DataFrame, old: DataFrame, keys: list[str]
) -> DataFrame:
    """(new_id, old_id) LSH candidates between an incoming batch's
    (doc_id, *keys) band rows and a corpus's, joined on ``keys``, with
    buckets over-full across both sides dropped from each.  A pair that
    shares several bands appears once per band: a distinct would plan a
    shuffle, and the bucketed lookup (``dedup_band_lookup``) proves its
    candidate plan has none — ``near_dup_verdicts`` dedups the pairs."""
    # tiny/empty; materialized on first use, once for both anti-joins.
    # Lazy, so building the join runs no job: at sf0.1 on a 4-CPU host
    # (medians of 6)
    # dedup_incremental took 2.89 s against 3.36 s uncheckpointed and
    # 3.22 s with an eager checkpoint, dedup_band_lookup 5.27 s against
    # 5.99 s and 5.59 s
    over = F.broadcast(
        stable_checkpoint(over_full_buckets([new, old], keys), eager=False)
    )
    return (
        new.join(over, keys, "left_anti")
        .withColumnRenamed("doc_id", "new_id")
        .join(
            old.join(over, keys, "left_anti").withColumnRenamed(
                "doc_id", "old_id"
            ),
            keys,
        )
        .select("new_id", "old_id")
    )


def candidate_pairs(sigs: DataFrame, n_bands: int = N_BANDS) -> DataFrame:
    """MinHash LSH candidates: ``band_rows`` through ``band_self_join``."""
    return band_self_join(band_rows(sigs, n_bands))


def jaccard(a: str, b: str) -> Column:
    """Exact Jaccard of two set-valued array columns, rounded to 3
    places — the one verify every MinHash-family detector reports."""
    n_common = F.size(F.array_intersect(a, b))
    return F.round(n_common / (F.size(a) + F.size(b) - n_common), 3)


def minhash_near_dups(docs: DataFrame) -> DataFrame:
    """Full pipeline: signatures -> LSH candidates -> estimated + exact
    Jaccard, filtered at the threshold.

    ``sigs`` feeds the banding join and both verify joins; materialize it
    ONCE via ``stable_checkpoint`` so the shingle/hash computation runs
    once (at warehouse scale this intermediate would be materialized to
    Parquet and maintained incrementally).  A columnar ``persist`` was
    measured ~19% slower at sf0.1 (minima 2.38 s vs 1.92 s, alternating
    same-session pairs): compressing the shingle ARRAYS into cache
    batches costs more than the checkpoint's raw block write, and the
    relation is only read back in full.
    """
    sigs = stable_checkpoint(signatures(docs))
    pairs = candidate_pairs(sigs)
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sig").alias("sig_a"),
        F.col("shingles").alias("sh_a"),
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sig").alias("sig_b"),
        F.col("shingles").alias("sh_b"),
    )
    est = F.round(
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                lambda m: m,
            )
        )
        / F.size("sig_a"),
        3,
    )
    out = (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            est.alias("est_jaccard"),
            jaccard("sh_a", "sh_b").alias("jaccard"),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .transform(stable_checkpoint)
    )
    # the verified pair set is output-sized; materializing it means the
    # signature blocks have no consumers left (checkpointed blocks are
    # reclaimed once the DataFrame is GC'd — session.py cleanCheckpoints)
    return out


def corpus_index(corpus: DataFrame) -> DataFrame:
    """The maintained corpus-side dedup artifact: one row per document
    with its exact-dedup fingerprint plus (nullable, for docs too short to
    shingle) MinHash signature and shingle set.  At 100 TB this is a
    bucketed warehouse table updated per ingestion batch — build it once,
    dedup every incoming batch against it (``incremental_near_dups``'s
    ``index=`` parameter) instead of re-hashing the corpus per batch."""
    fp = normalized_fingerprint(F.col("text"))
    base = corpus.select("doc_id", fp.alias("fp"))
    return base.join(signatures(corpus), "doc_id", "left")


def incremental_near_dups(
    new_docs: DataFrame,
    corpus: DataFrame | None = None,
    index: DataFrame | None = None,
) -> DataFrame:
    """Per-batch incremental dedup: one verdict row per NEW document
    against an EXISTING corpus — the shape a production ingestion pipeline
    actually runs (the full-corpus self-join happens once; every later
    batch is deduped against the index).

    Verdict precedence: ``drop_exact`` (normalized-text fingerprint already
    in the corpus, match_id = lowest matching doc), then ``drop_near``
    (best exact-Jaccard LSH match >= JACCARD_THRESHOLD, match_id/-jaccard
    = the argmax match, ties to the lowest doc_id), else ``keep``.

    Scale: at 100 TB the corpus fingerprints, signatures, and band rows
    are MAINTAINED artifacts (bucketed tables keyed by fp /
    (band, band_val)), not recomputed — pass that artifact as ``index``
    (built by ``corpus_index``, stored however the deployment stores
    tables) and only the batch side is hashed.  Per-batch cost is then
    batch-sized: the fingerprint join and band join are lookups into
    bucketed indexes (co-partitioned, no corpus shuffle), candidates are
    batch-bounded, and the verify touches only candidate shingle sets.
    ``corpus`` (raw documents) remains accepted for one-shot use — the
    index is then derived and dropped in-call.  Docs too short to shingle
    simply keep (no basis to near-dup them); the exact check still covers
    them."""
    if index is None:
        if corpus is None:
            raise ValueError("pass either corpus or index")
        index = corpus_index(corpus).persist()
        own_index = True
    else:
        own_index = False
    sig_new = signatures(new_docs).persist()
    sig_old = index.filter(F.col("sig").isNotNull()).select(
        "doc_id", "shingles", "sig"
    )
    cand = band_cross_join(band_rows(sig_new), band_rows(sig_old), BAND_KEYS)
    out = stable_checkpoint(
        near_dup_verdicts(new_docs, index, cand, sig_new, sig_old)
    )
    sig_new.unpersist()
    if own_index:
        index.unpersist()
    return out


def near_dup_verdicts(
    batch: DataFrame,
    corpus_fp: DataFrame,
    cand: DataFrame,
    sh_new: DataFrame,
    sh_old: DataFrame,
) -> DataFrame:
    """The batch-vs-corpus verdict: one (doc_id, verdict, match_id,
    match_jaccard) row per ``batch`` (doc_id, text) document, given the
    corpus's (doc_id, fp) fingerprints, the (new_id, old_id) candidates
    of ``band_cross_join`` and both sides' (doc_id, shingles) sets.
    Precedence: ``drop_exact`` > ``drop_near`` > ``keep`` — see
    ``incremental_near_dups``."""
    fp = normalized_fingerprint(F.col("text"))
    exact = (
        batch.select("doc_id", fp.alias("fp"))
        .join(corpus_fp.select("fp", F.col("doc_id").alias("old_id")), "fp")
        .groupBy("doc_id")
        .agg(F.min("old_id").alias("exact_id"))
    )
    scored = (
        cand.distinct()
        .join(
            sh_new.select(
                F.col("doc_id").alias("new_id"),
                F.col("shingles").alias("sh_n"),
            ),
            "new_id",
        )
        .join(
            sh_old.select(
                F.col("doc_id").alias("old_id"),
                F.col("shingles").alias("sh_o"),
            ),
            "old_id",
        )
        .withColumn("jaccard", jaccard("sh_n", "sh_o"))
    )
    best = top_k(
        scored, ["new_id"], [F.desc("jaccard"), F.asc("old_id")], 1
    ).select(
        F.col("new_id").alias("doc_id"),
        F.col("old_id").alias("near_id"),
        "jaccard",
    )
    is_exact = F.col("exact_id").isNotNull()
    is_near = F.col("jaccard") >= JACCARD_THRESHOLD
    return (
        batch.select("doc_id")
        .join(exact, "doc_id", "left")
        .join(best, "doc_id", "left")
        .select(
            "doc_id",
            F.when(is_exact, F.lit("drop_exact"))
            .when(is_near, F.lit("drop_near"))
            .otherwise(F.lit("keep"))
            .alias("verdict"),
            F.when(is_exact, F.col("exact_id"))
            .when(is_near, F.col("near_id"))
            .alias("match_id"),
            F.when(~is_exact & is_near, F.col("jaccard")).alias(
                "match_jaccard"
            ),
        )
    )


NGRAM_ROWS_PER_BAND = 4  # band match P = j^4: char-gram baselines run high
NGRAM_BANDS = N_HASHES // NGRAM_ROWS_PER_BAND


def ngram_jaccard_near_dups(docs: DataFrame) -> DataFrame:
    """Character-n-gram Jaccard near-dup: MinHash-LSH candidates over char
    5-gram sets — robust to tokenization damage (whitespace loss,
    concatenation) that breaks token shingles.

    Char grams need a stricter band shape than token shingles: random
    documents already share many common 5-grams (' the ', 'tion '), so
    2-row bands admit corpus-quadratic candidates (measured 1.4M pairs on
    5k docs).  4-row bands (match P = j^4) keep candidates output-sized.

    Gram rows are exploded WITH duplicates — a duplicate gram can't change a
    MIN, and per-row ``array_distinct`` is quadratic in doc length (measured
    3.3 s of a 4.5 s explode at sf0.1).  Dedup to distinct (doc, gram) rows
    happens only for candidate docs, re-exploded after a semi-join against
    the (tiny) candidate set — the full-corpus gram relation is never
    shuffled OR cached: the corpus-wide explode pipelines straight into the
    partially-aggregated signature groupBy, which is both faster locally
    than caching ~1.5M gram rows and the only option at 100 TB (the exploded
    relation is ~300× the corpus).  Grams come from an exploded int sequence
    + ``substring`` (whole-stage-codegen'd) rather than a higher-order
    ``transform`` building per-row string arrays (interpreted, ~3× slower —
    see ``char_gram_array``, kept for array-shaped consumers).
    Signature hashing is the same ``md5(seed || '|' || gram)`` family the
    DuckDB oracle computes, so candidate GENERATION is bit-identical across
    engines — LSH recall is probabilistic in the hash family, and a
    faster-but-different hash (xxhash64 was measured ~15% quicker here)
    means each engine misses a DIFFERENT ~(1-j^4)^3 tail of true pairs:
    at sf0.1 that surfaced as a 0.948-Jaccard pair present in one engine's
    output only.  Exact-verify guards precision, never recall — recall
    parity has to come from the signatures themselves."""
    # sig is materialized once (stable_checkpoint) because the band
    # self-join consumes it twice (both aliases) — without it the whole
    # gram->min aggregation runs once per side.  A columnar persist here
    # was measured ~15% slower end-to-end at sf0.1 (minima 3.12 s vs
    # 2.64 s over alternating same-session pairs): the cache build pays
    # per-batch compression for a doc-sized relation read back exactly
    # once per consumer, the checkpoint's raw block write does not.
    # (Measured dead end, kept for the record: deriving the K
    # components from ONE base hash — seeded long re-hash or multiply-mod
    # permutations — is slower end-to-end here, because the re-hashed band
    # values collide differently and inflate the candidate set, and ANSI
    # mode rejects the deliberate multiply wrap outright.)
    sig = stable_checkpoint(
        _char_gram_rows(fan_out(docs)).groupBy("doc_id").agg(
            *[
                F.min(
                    F.md5(F.concat(F.lit(f"{seed}|"), F.col("g")))
                ).alias(f"mh{seed}")
                for seed in range(N_HASHES)
            ]
        )
    )
    r = NGRAM_ROWS_PER_BAND
    bands = sig.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(*[f"mh{b * r + i}" for i in range(r)])
                    for b in range(NGRAM_BANDS)
                ]
            )
        ).alias("band", "band_val"),
    )
    # the candidate-pair set is consumed three times downstream (candidate
    # doc list, intersection join, final assembly); checkpointing the
    # output-sized result runs the band self-join once — signatures have
    # no further role past it (the verify is exact-Jaccard only).
    # stable_checkpoint upgrades this to a reliable checkpoint
    # automatically when the session has a checkpoint dir (preemptible-
    # executor deployments), since the block still has pending consumers.
    pairs = stable_checkpoint(band_self_join(bands))
    cand_docs = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .union(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    # Exact verify over per-doc DISTINCT-GRAM ARRAYS instead of an exploded
    # (doc, gram) relation: the old exploded verify shuffled
    # candidates × grams rows (12M at sf0.1 — measured as the dominant
    # stage); arrays shuffle one row per candidate doc and the pair join is
    # candidate-sized.  The arrays are built ROW-SIDE
    # (char_gram_array + array_distinct, no shuffle at all) only for
    # candidate docs — at 100 TB candidates << corpus, so this second scan
    # is pruned by the semi-join and the full-corpus gram relation is still
    # never shuffled OR cached.  (array_distinct here runs on ~300-gram
    # arrays of candidate docs only; measured 0.42 s vs 0.9 s for
    # explode + collect_set at sf0.1.)  Checkpointed once because both join
    # sides consume it; broadcast because candidate gram arrays are
    # pair-bounded and small relative to any shuffle of the pairs.
    ga = (
        fan_out(docs).join(F.broadcast(cand_docs), "doc_id", "left_semi")
        .select(
            "doc_id",
            F.array_distinct(char_gram_array(F.col("text"))).alias("grams"),
        )
        .transform(stable_checkpoint)
    )
    return (
        pairs.join(
            F.broadcast(
                ga.select(
                    F.col("doc_id").alias("doc_a"), F.col("grams").alias("ga")
                )
            ),
            "doc_a",
        )
        .join(
            F.broadcast(
                ga.select(
                    F.col("doc_id").alias("doc_b"), F.col("grams").alias("gb")
                )
            ),
            "doc_b",
        )
        .select("doc_a", "doc_b", jaccard("ga", "gb").alias("ngram_jaccard"))
        .filter(F.col("ngram_jaccard") >= NGRAM_JACCARD_THRESHOLD)
    )
