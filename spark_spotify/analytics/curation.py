"""Training-data curation operators: deterministic splits, stratified
sampling, corpus n-gram statistics.

The dataset-assembly side of a training-data pipeline (companion to
``textops``/``neardup``): assign every document to train/val/test with a
content-independent hash so the split is reproducible across engines and
cluster layouts, downsample over-represented strata (languages) with the same
hash family, and surface the per-language top bigrams that vocabulary /
contamination analyses start from.

Scale: all three are shuffle-minimal. Split/sample are pure scan work (a
per-row md5 + string compare — no shuffle at all, any parallelism gives the
identical assignment, which is the whole point of hash-based splits vs
``rand()``). The n-gram top-k explodes to (lang, bigram) and relies on
map-side partial aggregation to collapse the heavy hitters before the
shuffle; the final per-lang top-5 is a window over the already-aggregated
counts (O(distinct bigrams), not O(tokens)).

Reference anchor: the reference has no curation layer (its "sampling" is the
Spotify API's 50-row cap, curl_spotify_tracker.py:417); these extend the
documents-table family mandated by BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spark_spotify.analytics import textops as _textops
from spark_spotify.operators.dedup import normalized_fingerprint
from spark_spotify.operators.topk import top_k
from spark_spotify.sources.tables import fan_out, load_table

# Split fractions are expressed as hex prefixes of md5: the first two hex
# chars are uniform over 00..ff (256 buckets); lexicographic compare on the
# hex string is identical in Spark and DuckDB, so no hex->int parsing is
# needed anywhere.
TRAIN_HI = "cc"  # 204/256 = 79.7% train
VAL_HI = "e6"  # 230/256 -> 10.2% val, 10.2% test

# Per-language keep thresholds for the stratified sample: downsample the
# over-represented language, keep the tail languages whole.
STRATA_HI = {"en": "55", "zh": "ff", "de": "ff", "es": "ff", "fr": "ff"}
DEFAULT_HI = "80"

NGRAM_TOP_K = 5

# Decontamination: documents whose doc_id is divisible by EVAL_MOD stand in
# for the held-out benchmark set; a training document is contaminated if it
# shares any DECON_N-token shingle with an eval document.
# 4-token shingles against every-31st doc: widths chosen so the synthetic
# corpus (tiny vocabulary) yields overlap at every test SF — a real pipeline
# would run 8-13-gram shingles against the actual benchmark suite.
EVAL_MOD = 31
DECON_N = 4

# Chunking: overlapping CHUNK_TOKENS-token windows every CHUNK_STRIDE tokens
# (the pre-tokenization slicing step of an LLM training pipeline); packing:
# greedy sequential fill of PACK_BUDGET-token bins.
CHUNK_TOKENS = 32
CHUNK_STRIDE = 24
PACK_BUDGET = 256


def _bucket(seed: str, key: F.Column) -> F.Column:
    """Uniform 256-way bucket id: first 2 hex chars of md5(seed || key)."""
    return F.substring(F.md5(F.concat(F.lit(seed), key.cast("string"))), 1, 2)


# Domain-mix rebalancing: target share of the corpus each source may occupy
# after rebalancing.  With 20 synthetic sources a 4% target trims the
# over-represented ones and keeps the tail whole.
MIX_TARGET_SHARE = 0.04


def _bucket_int(seed: str, key: F.Column) -> F.Column:
    """Uniform 0..255 integer bucket from the first 2 md5 hex chars
    (``conv`` base-16 parse; the DuckDB oracle reproduces the same value
    with hex-alphabet ``strpos`` arithmetic — same result, per-engine
    idiom)."""
    h = F.md5(F.concat(F.lit(seed), key.cast("string")))
    return F.conv(F.substring(h, 1, 2), 16, 10).cast("int")


def q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by hash bucket (80/10/10).

    Keyed on doc_id only — re-running on a grown corpus never moves an
    existing document between splits, the property that keeps eval sets
    uncontaminated across dataset versions."""
    d = load_table(spark, sf_dir, "documents")
    b = _bucket("split:", F.col("doc_id"))
    split = (
        F.when(b < TRAIN_HI, "train").when(b < VAL_HI, "val").otherwise("test")
    )
    return d.select(
        "doc_id",
        "lang",
        "source",
        b.alias("bucket"),
        split.alias("split"),
    )


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language downsampling: keep a doc iff its hash
    bucket clears the language's threshold (en keeps 85/256 ~ 33%, the rest
    keep everything). Hash-based, so the sample is stable under reruns and
    independent of partitioning — unlike ``df.sample()``."""
    d = load_table(spark, sf_dir, "documents")
    b = _bucket("sample:", F.col("doc_id"))
    hi = F.lit(DEFAULT_HI)
    for lang, thresh in STRATA_HI.items():
        hi = F.when(F.col("lang") == lang, thresh).otherwise(hi)
    return (
        d.select("doc_id", "lang", "source", "n_chars", b.alias("bucket"))
        .filter(F.col("bucket") < hi)
    )


def q_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mix rebalancing: cap every source at MIX_TARGET_SHARE of the
    corpus by hash-thresholded downsampling — the "don't let one crawl
    dominate the training mix" step.  Per-source acceptance rate =
    min(1, target_docs / source_docs), applied as an integer threshold on a
    256-way content-independent hash bucket, so the decision is
    deterministic per document and stable as the corpus grows.

    Scale: the per-source count is a ~#sources-row aggregate broadcast back
    onto the scan; the keep decision itself is scan-side hash arithmetic —
    no corpus-sized shuffle anywhere."""
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_src"))
    total = counts.agg(F.sum("n_src").alias("n_total"))
    rates = counts.crossJoin(F.broadcast(total)).select(
        "source",
        "n_src",
        F.least(
            F.lit(1.0),
            F.lit(MIX_TARGET_SHARE) * F.col("n_total") / F.col("n_src"),
        ).alias("acceptance_rate"),
    )
    b = _bucket_int("mix:", F.col("doc_id"))
    return (
        d.join(F.broadcast(rates), "source")
        .select(
            "doc_id",
            "source",
            b.alias("bucket"),
            F.round("acceptance_rate", 6).alias("acceptance_rate"),
            (b < F.floor(F.col("acceptance_rate") * 256).cast("int")).alias(
                "kept"
            ),
        )
    )


# Epoch mixing: per-source repeat weight targeted at EPOCH_TARGET_SHARE of
# the final mix — under-represented sources repeat (w > 1), over-represented
# ones subsample (w < 1), fractional parts resolved per-document by hash.
EPOCH_TARGET_SHARE = 0.06


def q_mix_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing with per-source repeat factors (the DoReMi/Pile-style
    "epochs per domain" step): each source gets weight
    w = target_share x total / n_src; every document materializes
    floor(w) copies plus one more iff its 256-way hash bucket clears the
    fractional remainder — so the realized mix hits the target share in
    expectation with deterministic, rerun-stable per-document decisions.
    Output is one row per (doc, copy) — the physical expansion a training
    shard writer consumes.

    Scale: weights are a #sources-row broadcast; the expansion is a
    map-side explode of sequence(1, n_epochs) — output scales with the
    mix factor, never shuffles, and composes with the pack/chunk stages
    downstream."""
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_src"))
    total = counts.agg(F.sum("n_src").alias("n_total"))
    w = F.lit(EPOCH_TARGET_SHARE) * F.col("n_total") / F.col("n_src")
    weights = counts.crossJoin(F.broadcast(total)).select(
        "source",
        F.floor(w).cast("int").alias("base_epochs"),
        F.floor((w - F.floor(w)) * 256).cast("int").alias("frac_thresh"),
    )
    b = _bucket_int("epoch:", F.col("doc_id"))
    n_epochs = (
        F.col("base_epochs")
        + (b < F.col("frac_thresh")).cast("int")
    )
    return (
        d.join(F.broadcast(weights), "source")
        .select(
            "doc_id", "source", n_epochs.alias("n_epochs")
        )
        .filter(F.col("n_epochs") >= 1)
        .select(
            "doc_id",
            "source",
            "n_epochs",
            F.explode(
                F.sequence(
                    F.lit(1).cast("bigint"), F.col("n_epochs").cast("bigint")
                )
            ).alias("copy_idx"),
        )
    )


def q_release_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed corpus-release decision — what a curation run actually
    ships: per document, quality gate first (drop reason recorded), then
    exact-dedup keeper election, else ship with its train/val/test split.
    Composes ``text_quality_gate``, ``text_dedup_exact``, and
    ``curate_split_assign`` — the manifest is the artifact downstream
    training jobs read.

    Scale: three corpus scans joined on doc_id; the quality and split
    inputs are scan-only, the dedup input shuffles on the (uniform md5)
    fingerprint, and the doc_id joins co-partition after the first
    shuffle.  No stage exceeds the dedup query's own cost."""
    from spark_spotify.analytics import textops

    q = textops.q_quality_gate(spark, sf_dir).select("doc_id", "fail_reason")
    dup = textops.q_dedup_exact(spark, sf_dir).select("doc_id", "is_keeper")
    sp = q_split_assign(spark, sf_dir).select("doc_id", "split")
    reason = (
        F.when(
            F.col("fail_reason") != "pass",
            F.concat(F.lit("quality:"), F.col("fail_reason")),
        )
        .when(~F.col("is_keeper"), F.lit("duplicate"))
        .otherwise(F.lit("ship"))
    )
    return (
        q.join(dup, "doc_id")
        .join(sp, "doc_id")
        .withColumn("reason", reason)
        .select(
            "doc_id",
            "reason",
            (F.col("reason") == "ship").alias("keep"),
            F.when(F.col("reason") == "ship", F.col("split")).alias("split"),
        )
    )


def q_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 word bigrams per language (count desc, bigram asc tiebreak).

    Bigrams are built per-row with array expressions (no self-join), exploded
    once, and partially aggregated map-side; the window runs over per-lang
    distinct-bigram counts only."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), " ")
    bigrams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat(
                F.element_at(toks, i), F.lit(" "), F.element_at(toks, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    counts = (
        fan_out(d).select("lang", F.explode(bigrams).alias("bigram"))
        .groupBy("lang", "bigram")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    return top_k(
        counts,
        ["lang"],
        [F.desc("n_occurrences"), F.asc("bigram")],
        NGRAM_TOP_K,
    ).select("lang", "rank", "bigram", "n_occurrences")


def q_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection: within each exact-duplicate group
    (md5 of normalized text), elect the canonical copy by quality
    (longest n_chars, doc_id tiebreak) and point every duplicate at it —
    the rewrite step a training pipeline runs after dedup detection.
    Covers the first_value window family.

    Both windows share one partitioning (fingerprint), so the plan is a
    single hash-shuffle + one sort; at 100 TB the fingerprint is uniform
    (md5) so the shuffle has zero skew."""
    d = load_table(spark, sf_dir, "documents")
    fp = normalized_fingerprint(F.col("text"))
    wp = Window.partitionBy("fingerprint")
    wo = wp.orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        d.select("doc_id", "n_chars", fp.alias("fingerprint"))
        .withColumn("canonical_doc_id", F.first("doc_id").over(wo))
        .withColumn("group_size", F.count(F.lit(1)).over(wp).cast("bigint"))
        .select(
            "doc_id",
            "fingerprint",
            "group_size",
            "canonical_doc_id",
            (F.col("doc_id") == F.col("canonical_doc_id")).alias(
                "is_canonical"
            ),
        )
    )


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination scan: flag training documents that share a
    ``DECON_N``-token shingle with the eval set, with hit counts — the
    overlap audit every training pipeline runs before a dataset ships.

    Scale: the eval side is benchmark-sized (tiny vs a 100 TB corpus), so
    its distinct shingle set is broadcast and the corpus side is pure scan +
    map-side explode — no corpus-sized shuffle; the only shuffle is the
    groupBy over the (rare) contaminated hits."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), " ")
    sh = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (DECON_N - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, DECON_N)),
    )
    base = fan_out(d).filter(F.size(toks) >= DECON_N).select(
        "doc_id", F.explode(F.array_distinct(sh)).alias("shingle")
    )
    ev = base.filter(F.col("doc_id") % EVAL_MOD == 0).select(
        F.col("doc_id").alias("eval_doc_id"), "shingle"
    )
    tr = base.filter(F.col("doc_id") % EVAL_MOD != 0)
    return (
        tr.join(F.broadcast(ev), "shingle")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("shingle").alias("n_hit_shingles"),
            F.countDistinct("eval_doc_id").alias("n_eval_docs"),
        )
    )


def q_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slice every document into overlapping fixed-width token windows
    (CHUNK_TOKENS wide, every CHUNK_STRIDE tokens; the final window may be
    short) — one output row per chunk with its position and content hash.

    All per-row array expressions (sequence -> explode -> slice): pure
    scan-side fan-out with zero shuffle, so it parallelizes perfectly at any
    corpus size; the chunk row count is data-proportional (~n_tokens /
    stride per doc)."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), " ")
    n_windows = (
        F.ceil(
            F.greatest(F.size(toks) - CHUNK_TOKENS, F.lit(0))
            / F.lit(float(CHUNK_STRIDE))
        ).cast("int")
        + 1
    )
    start = F.col("k") * CHUNK_STRIDE + 1
    return (
        d.select(
            "doc_id",
            toks.alias("t"),
            F.size(toks).alias("n"),
            F.explode(F.sequence(F.lit(0), n_windows - 1)).alias("k"),
        )
        .select(
            "doc_id",
            F.col("k").alias("chunk_idx"),
            start.alias("start_tok"),
            F.least(F.lit(CHUNK_TOKENS), F.col("n") - start + 1).alias(
                "n_tok"
            ),
            F.md5(
                F.concat_ws(" ", F.slice(F.col("t"), start, CHUNK_TOKENS))
            ).alias("chunk_hash"),
        )
    )


def q_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequential sequence-packing: walk each language's documents in
    doc_id order and assign each to the training bin its running token count
    starts in (bin = floor(tokens_before / PACK_BUDGET)) — deterministic
    regardless of partitioning, unlike first-fit heuristics that depend on
    arrival order.

    Scale: one running-sum window per language partition.  A single stratum
    bigger than one executor's sort budget would need range-partitioned
    prefix sums (two-pass: per-partition totals, then offset broadcast) —
    recorded in SCALE.md; per-lang ordering is already far finer than a
    global ORDER BY."""
    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.trim(F.col("text")), " "))
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tok").over(w)
    return (
        d.select("doc_id", "lang", n_tok.alias("n_tok"))
        .withColumn(
            "bin_id",
            F.floor((cum - F.col("n_tok")) / F.lit(float(PACK_BUDGET))),
        )
        .withColumn("cum_tokens", cum)
    )


def _strata_case_sql() -> str:
    arms = " ".join(
        f"WHEN lang = '{lang}' THEN '{hi}'"
        for lang, hi in STRATA_HI.items()
    )
    return f"CASE {arms} ELSE '{DEFAULT_HI}' END"


# --- deterministic global shuffle ------------------------------------------

SHUFFLE_SEED = "shuffle:42:"
N_SHARDS = 8  # 256 hash buckets / 32 per shard — exact integer split


def q_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global corpus shuffle — the "shuffle once, write
    sharded" step every pretraining run needs so examples arrive
    decorrelated from crawl order.  Each doc gets an md5 shuffle key;
    shard = top-3 bits of the 256-way hash bucket (exact, engine-portable);
    position within the shard is the rank of the key.  Content-keyed, so
    re-running on the same corpus reproduces the identical order — unlike
    ``orderBy(rand())`` — and adding documents never reorders existing ones
    within a shard beyond their insertion points.

    Scale: shard assignment is scan-side arithmetic; the per-shard rank is
    a window partitioned by shard — with shards sized to executor memory
    (thousands of shards at 100 TB, not 8) each rank sorts one shard
    locally, which is exactly the distribution the sharded write wants; no
    global single-reducer sort ever happens."""
    d = load_table(spark, sf_dir, "documents")
    key = F.md5(
        F.concat(F.lit(SHUFFLE_SEED), F.col("doc_id").cast("string"))
    )
    shard = (_bucket_int(SHUFFLE_SEED, F.col("doc_id")) / (256 / N_SHARDS)).cast(
        "int"
    )
    w = Window.partitionBy("shard").orderBy("shuffle_key", "doc_id")
    return (
        d.select(
            "doc_id",
            "source",
            key.alias("shuffle_key"),
            shard.alias("shard"),
        )
        .withColumn("pos", F.row_number().over(w))
        .select("doc_id", "source", "shard", "pos", "shuffle_key")
    )


K_ANON = 5
K_ANON_LEN_BUCKET = 200  # chars per length bucket


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over quasi-identifiers — the privacy gate a
    training-data release runs NEXT TO content PII scanning
    (``text_pii_scan`` finds identifiers in the text; this finds
    re-identification risk in the METADATA): any quasi-identifier
    combination shared by fewer than {K_ANON} documents can single a
    contributor out, so those strata are flagged for suppression or
    generalization before release.  QI here = (source, lang,
    length-bucket) — the release-manifest attributes an adversary can
    observe.  Scale shape: ONE map-side-combinable groupBy over scan-
    derived columns; output is stratum-cardinality-sized."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(
            "source",
            "lang",
            F.floor(
                F.length(F.trim(F.col("text"))) / K_ANON_LEN_BUCKET
            )
            .cast("int")
            .alias("len_bucket"),
        )
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select(
            "source",
            "lang",
            "len_bucket",
            "n_docs",
            (F.col("n_docs") >= K_ANON).alias("k_anonymous"),
        )
    )


def q_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset card — the per-(source, lang) release statistics every
    training-data drop ships alongside the shards: document and token
    counts, mean document length, corpus share, and the exact-duplicate
    count (non-canonical docs under the engine-wide normalized
    fingerprint — the same ``normalized_fingerprint`` every dedup stage
    keys on, so the card's dup number agrees with what
    ``curate_keep_canonical`` would drop).

    Scale shape: one scan computes tokens + fingerprint per row; the
    duplicate flag is a fingerprint-partitioned min-window (the
    election ``mm_payload_dedup``/``curate_keep_canonical`` already
    run); the rollup is a map-side-combinable two-key groupBy, and the
    corpus-share denominator is a window over the GROUPED rows
    (stratum-cardinality-sized, never the corpus)."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    base = d.select(
        "doc_id",
        "source",
        "lang",
        F.size(F.split(F.trim(F.col("text")), " ")).alias("n_toks"),
        normalized_fingerprint(F.col("text")).alias("fp"),
    )
    wfp = Window.partitionBy("fp")
    flagged = base.withColumn(
        "is_dup", F.col("doc_id") != F.min("doc_id").over(wfp)
    )
    g = flagged.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_toks").alias("n_tokens"),
        F.sum(F.col("is_dup").cast("long")).alias("n_exact_dups"),
    )
    return g.select(
        "source",
        "lang",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens") / F.col("n_docs"), 2).alias("avg_tokens"),
        F.round(
            F.col("n_docs")
            / F.sum("n_docs").over(Window.partitionBy()),
            4,
        ).alias("doc_share"),
        "n_exact_dups",
    )


ORACLE = {
    "curate_k_anonymity": f"""
SELECT source, lang,
       CAST(floor(length(trim(text)) / {K_ANON_LEN_BUCKET}) AS INT)
         AS len_bucket,
       COUNT(*) AS n_docs,
       COUNT(*) >= {K_ANON} AS k_anonymous
FROM documents
GROUP BY source, lang,
         CAST(floor(length(trim(text)) / {K_ANON_LEN_BUCKET}) AS INT)
""",
    "curate_dataset_card": """
WITH b AS (
  SELECT doc_id, source, lang,
         len(string_split(trim(text), ' ')) AS n_toks,
         md5(lower(trim(text))) AS fp
  FROM documents
),
f AS (
  SELECT *, doc_id <> MIN(doc_id) OVER (PARTITION BY fp) AS is_dup FROM b
),
g AS (
  SELECT source, lang,
         COUNT(*) AS n_docs,
         CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
         CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
           AS n_exact_dups
  FROM f GROUP BY source, lang
)
SELECT source, lang, n_docs, n_tokens,
       round(n_tokens / n_docs, 2) AS avg_tokens,
       round(n_docs / SUM(n_docs) OVER (), 4) AS doc_share,
       n_exact_dups
FROM g
""",
    "curate_global_shuffle": f"""
WITH k AS (
  SELECT doc_id, source,
         md5('{SHUFFLE_SEED}' || CAST(doc_id AS VARCHAR)) AS shuffle_key,
         CAST((strpos('0123456789abcdef',
                 substr(md5('{SHUFFLE_SEED}' || CAST(doc_id AS VARCHAR)), 1, 1))
               - 1) // 2 AS INT) AS shard
  FROM documents
)
SELECT doc_id, source, shard,
       CAST(row_number() OVER (
         PARTITION BY shard ORDER BY shuffle_key, doc_id) AS BIGINT) AS pos,
       shuffle_key
FROM k
""",
    "curate_split_assign": f"""
SELECT doc_id, lang, source,
       substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) AS bucket,
       CASE WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2)
                 < '{TRAIN_HI}' THEN 'train'
            WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2)
                 < '{VAL_HI}' THEN 'val'
            ELSE 'test' END AS split
FROM documents
""",
    "curate_stratified_sample": f"""
SELECT doc_id, lang, source, n_chars,
       substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 2) AS bucket
FROM documents
WHERE substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 2)
      < ({_strata_case_sql()})
""",
    "curate_release_manifest": f"""
WITH q AS ({{QG}}),
d AS ({{DE}}),
s AS (
  SELECT doc_id,
         CASE WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2)
                   < '{TRAIN_HI}' THEN 'train'
              WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2)
                   < '{VAL_HI}' THEN 'val'
              ELSE 'test' END AS split
  FROM documents
),
r AS (
  SELECT q.doc_id,
         CASE WHEN q.fail_reason <> 'pass' THEN 'quality:' || q.fail_reason
              WHEN NOT d.is_keeper THEN 'duplicate'
              ELSE 'ship' END AS reason,
         s.split AS split0
  FROM q
  JOIN d ON d.doc_id = q.doc_id
  JOIN s ON s.doc_id = q.doc_id
)
SELECT doc_id, reason, reason = 'ship' AS keep,
       CASE WHEN reason = 'ship' THEN split0 END AS split
FROM r
""",
    "curate_mix_epochs": f"""
WITH counts AS (
  SELECT source, COUNT(*) AS n_src FROM documents GROUP BY source
),
weights AS (
  SELECT source,
         CAST(floor({EPOCH_TARGET_SHARE} * (SELECT SUM(n_src) FROM counts)
                    / n_src) AS INT) AS base_epochs,
         CAST(floor(({EPOCH_TARGET_SHARE} * (SELECT SUM(n_src) FROM counts)
                     / n_src
                     - floor({EPOCH_TARGET_SHARE}
                             * (SELECT SUM(n_src) FROM counts) / n_src))
                    * 256) AS INT) AS frac_thresh
  FROM counts
),
b AS (
  SELECT doc_id, source,
         CAST((strpos('0123456789abcdef',
                 substr(md5('epoch:' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1)
              * 16
              + strpos('0123456789abcdef',
                  substr(md5('epoch:' || CAST(doc_id AS VARCHAR)), 2, 1)) - 1
              AS INT) AS bucket
  FROM documents
),
e AS (
  SELECT b.doc_id, b.source,
         w.base_epochs
           + CASE WHEN b.bucket < w.frac_thresh THEN 1 ELSE 0 END AS n_epochs
  FROM b JOIN weights w ON b.source = w.source
)
SELECT doc_id, source, n_epochs,
       CAST(unnest(generate_series(1, n_epochs)) AS BIGINT) AS copy_idx
FROM e WHERE n_epochs >= 1
""",
    "curate_domain_mix": f"""
WITH counts AS (
  SELECT source, COUNT(*) AS n_src FROM documents GROUP BY source
),
rates AS (
  SELECT source, n_src,
         least(1.0, {MIX_TARGET_SHARE} * (SELECT SUM(n_src) FROM counts)
                    / n_src) AS acceptance_rate
  FROM counts
),
b AS (
  SELECT doc_id, source,
         CAST((strpos('0123456789abcdef',
                 substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1)
              * 16
              + strpos('0123456789abcdef',
                  substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 2, 1)) - 1
              AS INT) AS bucket
  FROM documents
)
SELECT b.doc_id, b.source, b.bucket,
       round(r.acceptance_rate, 6) AS acceptance_rate,
       b.bucket < CAST(floor(r.acceptance_rate * 256) AS INT) AS kept
FROM b JOIN rates r ON b.source = r.source
""",
    "curate_keep_canonical": """
SELECT doc_id,
       md5(lower(trim(text))) AS fingerprint,
       COUNT(*) OVER (PARTITION BY md5(lower(trim(text)))) AS group_size,
       FIRST_VALUE(doc_id) OVER (PARTITION BY md5(lower(trim(text)))
                                 ORDER BY n_chars DESC, doc_id ASC)
           AS canonical_doc_id,
       doc_id = FIRST_VALUE(doc_id) OVER (
           PARTITION BY md5(lower(trim(text)))
           ORDER BY n_chars DESC, doc_id ASC) AS is_canonical
FROM documents
""",
    "curate_ngram_topk": f"""
WITH t AS (
  SELECT lang, string_split(lower(trim(text)), ' ') AS toks
  FROM documents
), b AS (
  SELECT lang,
         unnest(list_transform(range(1, len(toks)),
                               i -> toks[i] || ' ' || toks[i + 1])) AS bigram
  FROM t WHERE len(toks) >= 2
), c AS (
  SELECT lang, bigram, COUNT(*) AS n_occurrences
  FROM b GROUP BY lang, bigram
)
SELECT lang, CAST(rank AS INT) AS rank, bigram, n_occurrences
FROM (
  SELECT lang, bigram, n_occurrences,
         row_number() OVER (PARTITION BY lang
                            ORDER BY n_occurrences DESC, bigram ASC) AS rank
  FROM c
)
WHERE rank <= {NGRAM_TOP_K}
""",
    "curate_decontaminate": f"""
WITH t AS (
  SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents
),
sh AS (
  SELECT DISTINCT doc_id,
         array_to_string(t[i:i + {DECON_N - 1}], ' ') AS shingle
  FROM (
    SELECT doc_id, t, unnest(range(1, len(t) - {DECON_N - 2})) AS i
    FROM t WHERE len(t) >= {DECON_N}
  )
),
ev AS (
  SELECT doc_id AS eval_doc_id, shingle FROM sh WHERE doc_id % {EVAL_MOD} = 0
),
tr AS (
  SELECT doc_id, shingle FROM sh WHERE doc_id % {EVAL_MOD} <> 0
)
SELECT tr.doc_id,
       COUNT(DISTINCT tr.shingle) AS n_hit_shingles,
       COUNT(DISTINCT ev.eval_doc_id) AS n_eval_docs
FROM tr JOIN ev ON tr.shingle = ev.shingle
GROUP BY tr.doc_id
""",
    "curate_chunk_windows": f"""
WITH t AS (
  SELECT doc_id, string_split(trim(text), ' ') AS t,
         len(string_split(trim(text), ' ')) AS n
  FROM documents
),
w AS (
  SELECT doc_id, t, n,
         unnest(range(0, CAST(ceil(greatest(n - {CHUNK_TOKENS}, 0)
                                   / {float(CHUNK_STRIDE)}) AS INT) + 1)) AS k
  FROM t
)
SELECT doc_id,
       CAST(k AS INT) AS chunk_idx,
       CAST(k * {CHUNK_STRIDE} + 1 AS INT) AS start_tok,
       CAST(least({CHUNK_TOKENS}, n - (k * {CHUNK_STRIDE} + 1) + 1) AS INT)
         AS n_tok,
       md5(array_to_string(
             t[CAST(k * {CHUNK_STRIDE} + 1 AS INT)
               : CAST(k * {CHUNK_STRIDE} + {CHUNK_TOKENS} AS INT)], ' '))
         AS chunk_hash
FROM w
""",
    "curate_pack_bins": f"""
SELECT doc_id, lang,
       CAST(len(string_split(trim(text), ' ')) AS INT) AS n_tok,
       CAST(floor((SUM(len(string_split(trim(text), ' ')))
                     OVER (PARTITION BY lang ORDER BY doc_id
                           ROWS UNBOUNDED PRECEDING)
                   - len(string_split(trim(text), ' ')))
                  / {float(PACK_BUDGET)}) AS BIGINT) AS bin_id,
       CAST(SUM(len(string_split(trim(text), ' ')))
         OVER (PARTITION BY lang ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
         AS BIGINT) AS cum_tokens
FROM documents
""",
}

QUERIES = {
    "curate_split_assign": q_split_assign,
    "curate_stratified_sample": q_stratified_sample,
    "curate_ngram_topk": q_ngram_topk,
    "curate_keep_canonical": q_keep_canonical,
    "curate_decontaminate": q_decontaminate,
    "curate_chunk_windows": q_chunk_windows,
    "curate_pack_bins": q_pack_bins,
    "curate_domain_mix": q_domain_mix,
    "curate_release_manifest": q_release_manifest,
    "curate_mix_epochs": q_mix_epochs,
    "curate_global_shuffle": q_global_shuffle,
    "curate_dataset_card": q_dataset_card,
    "curate_k_anonymity": q_k_anonymity,
}

# the manifest oracle composes the quality-gate and exact-dedup oracles
# verbatim as CTEs — one source of truth for each stage's SQL
ORACLE["curate_release_manifest"] = ORACLE["curate_release_manifest"].format(
    QG=_textops.ORACLE["text_quality_gate"],
    DE=_textops.ORACLE["text_dedup_exact"],
)
