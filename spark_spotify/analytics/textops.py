"""Text analysis + deduplication over the documents table.

The training-data-pipeline operator family (BASELINE.json north star): token
counting, stopword/quality profiling, language profiling, exact dedup via
content fingerprinting.  All native column expressions (split/filter/
aggregate higher-order functions) — no Python UDFs, so the whole stage stays
in WholeStageCodegen and scales linearly with document count.

Scale: exact dedup is a hash-groupBy on a 128-bit fingerprint — the canonical
100 TB pattern (shuffle on md5(text), uniform key distribution, no skew).
MinHash/SimHash near-dup variants build on the same tokenization and land in
round 2+.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spark_spotify.operators.dedup import normalized_fingerprint
from spark_spotify.operators.topk import top_k
from spark_spotify.sources.tables import fan_out, load_table

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it"]

BPE_TOP_MERGES = 20  # merges surfaced per BPE induction step


def tokens_col(text: F.Column) -> F.Column:
    return F.split(F.trim(text), " ")


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token count, stopword ratio, mean token length, quality
    bucket (reference quality-scoring shape, daily_etl_pipeline.py:259-270,
    applied to text)."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    toks = tokens_col(F.col("text"))
    n_tokens = F.size(toks)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    total_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t)),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    quality = (
        F.when(n_tokens < 5, "too_short")
        .when(n_stop / n_tokens > 0.5, "low_content")
        .otherwise("ok")
    )
    return d.select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        n_tokens.cast("int").alias("n_tokens"),
        n_stop.cast("int").alias("n_stopwords"),
        F.round(n_stop / n_tokens, 3).alias("stopword_ratio"),
        F.round(total_len / n_tokens, 3).alias("avg_token_len"),
        quality.alias("quality_bucket"),
    )


# PII patterns: same regex dialect subset runs under Java regex (Spark) and
# RE2 (DuckDB) — character classes and bounded quantifiers only, no
# backrefs/lookaround (RE2 has neither).
RE_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
RE_URL = "https?://[^ ]+"
RE_PHONE = "[+]?[0-9][0-9()\\- ]{7,}[0-9]"


def q_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII / contamination scan — the redaction-or-drop gate every
    training-data pipeline runs before release: per-doc counts of email,
    URL, and phone-shaped spans plus an aggregate flag.  Pure scan work
    (regexp_extract_all, zero shuffles); patterns restricted to the
    Java-regex ∩ RE2 dialect so the oracle runs them verbatim."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    n_email = F.size(
        F.regexp_extract_all(F.col("text"), F.lit(RE_EMAIL), F.lit(0))
    )
    n_url = F.size(
        F.regexp_extract_all(F.col("text"), F.lit(RE_URL), F.lit(0))
    )
    n_phone = F.size(
        F.regexp_extract_all(F.col("text"), F.lit(RE_PHONE), F.lit(0))
    )
    # each regex runs once per row: the counts land behind a one-element
    # explode (a Generate node projection collapse cannot inline through),
    # so has_pii reuses them instead of re-scanning text with every
    # pattern a second time
    step = d.select(
        "doc_id",
        "source",
        F.explode(
            F.array(
                F.struct(
                    n_email.cast("int").alias("e"),
                    n_url.cast("int").alias("u"),
                    n_phone.cast("int").alias("p"),
                )
            )
        ).alias("c"),
    )
    return step.select(
        "doc_id",
        "source",
        F.col("c.e").alias("n_emails"),
        F.col("c.u").alias("n_urls"),
        F.col("c.p").alias("n_phones"),
        ((F.col("c.e") + F.col("c.u") + F.col("c.p")) > 0).alias("has_pii"),
    )


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII REDACTION — the other half of :func:`q_pii_scan`'s
    redact-or-drop gate: emails, URLs, then phone-shaped spans are
    replaced with typed placeholders in ONE fixed chain (order matters
    when span classes overlap — an email inside a URL is consumed by
    whichever pattern runs first — so both engines run the identical
    chain and the output is deterministic by construction).  Span
    counts are taken on the ORIGINAL text, the audit record a curation
    run keeps next to the redacted corpus.  Pure scan work: three
    regexp_replace passes and three regexp_extract_all counts per row,
    zero shuffles at any scale; patterns are the same Java∩RE2 dialect
    the scan uses, run verbatim by the oracle."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), RE_EMAIL, "[EMAIL]"),
            RE_URL,
            "[URL]",
        ),
        RE_PHONE,
        "[PHONE]",
    )
    n = lambda pat: F.size(  # noqa: E731
        F.regexp_extract_all(F.col("text"), F.lit(pat), F.lit(0))
    ).cast("int")
    return d.select(
        "doc_id",
        red.alias("clean_text"),
        n(RE_EMAIL).alias("n_emails"),
        n(RE_URL).alias("n_urls"),
        n(RE_PHONE).alias("n_phones"),
    )


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition profile (the Gopher-rules quality signal): per-doc
    distinct-token ratio and the most frequent token's share.  The argmax
    token rides a (doc_id)-partitioned window over the per-(doc, token)
    counts — explode + two doc-keyed shuffles, both map-side combinable;
    ``fan_out`` widens the single-row-group input first."""
    d = load_table(spark, sf_dir, "documents")
    tok = fan_out(d).select(
        "doc_id", F.explode(tokens_col(F.col("text"))).alias("tok")
    )
    counts = tok.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("n"), F.asc("tok"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .groupBy("doc_id")
        .agg(
            F.sum("n").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_distinct_tokens"),
            F.max(F.when(F.col("rank") == 1, F.col("tok"))).alias(
                "top_token"
            ),
            F.max(F.when(F.col("rank") == 1, F.col("n"))).alias(
                "top_token_n"
            ),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_distinct_tokens",
            F.round(F.col("n_distinct_tokens") / F.col("n_tokens"), 3).alias(
                "distinct_ratio"
            ),
            "top_token",
            F.round(F.col("top_token_n") / F.col("n_tokens"), 3).alias(
                "top_token_frac"
            ),
        )
    )


def q_lang_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus profile by language: doc counts, char/token totals, source
    spread (language-ID aggregate surface; the lang column is ground truth,
    the heuristic classifier lands with the n-gram module)."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens_col(F.col("text"))
    return (
        d.select("lang", "source", "n_chars", F.size(toks).alias("n_tokens"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.round(F.sum("n_chars") / F.count(F.lit(1)), 2).alias("avg_chars"),
            F.sum("n_tokens").alias("total_tokens"),
            F.countDistinct("source").alias("n_sources"),
        )
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact near-duplicate grouping by normalized-content fingerprint
    (hash-groupBy dedup): md5(lower(trim(text))), group size via window,
    keeper = lowest doc_id in group."""
    d = load_table(spark, sf_dir, "documents")
    fp = normalized_fingerprint(F.col("text"))
    w = Window.partitionBy("fingerprint")
    wo = w.orderBy("doc_id")
    return (
        d.select("doc_id", fp.alias("fingerprint"))
        .withColumn("group_size", F.count(F.lit(1)).over(w).cast("bigint"))
        .withColumn("dup_rank", F.row_number().over(wo))
        .select(
            "doc_id",
            "fingerprint",
            "group_size",
            "dup_rank",
            (F.col("dup_rank") == 1).alias("is_keeper"),
        )
    )


SEG_TOKENS = 20  # segment width for sub-document dedup


def q_dedup_paragraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document (segment-level) exact dedup with reassembly — C4's
    "deduplicate at the span level, not the document level" pass: whole-
    doc dedup misses boilerplate repeated INSIDE otherwise-distinct
    pages.  Each document is split into consecutive {SEG_TOKENS}-token
    segments (this corpus is single-line, so fixed token windows stand
    in for paragraph breaks); a segment survives only at its FIRST
    corpus occurrence in (doc_id, position) order; surviving segments
    reassemble into the cleaned document.  Dataflow: ONE explode
    (corpus tokens / {SEG_TOKENS} rows) carrying only (doc_id, seg_idx,
    64-bit fingerprint) — the shuffle payload is ~24 bytes per segment,
    NEVER the segment text; one hash shuffle for global keep-first
    (mostly singleton groups — no skew), one slim shuffle folding the
    surviving indices per doc, and the TEXT moves exactly once, in the
    final doc_id join where the kept segments are re-sliced from the
    source row.  (At 100 TB the fingerprint should be 128-bit —
    xxhash64 here matches the corpus scale; the keep-first decision is
    on the fingerprint, text equality holds absent collisions.)
    Fully-duplicated documents vanish (their every segment lost
    keep-first), exactly like C4.

    Oracle: the same split/keep-first/reassemble stated in SQL."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split(F.trim(F.col("text")), " ")
    nseg = F.ceil(F.size(toks) / SEG_TOKENS).cast("int")

    def _seg_text(i):
        return F.array_join(
            F.slice(toks, i * SEG_TOKENS + 1, SEG_TOKENS), " "
        )

    seg = fan_out(d).select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), nseg - 1),
                lambda i: F.xxhash64(_seg_text(i)),
            )
        ).alias("seg_idx", "h"),
    )
    kept_idx = (
        top_k(seg, ["h"], [F.asc("doc_id"), F.asc("seg_idx")], 1)
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list("seg_idx")).alias("keep"))
    )
    out = d.join(kept_idx, "doc_id")  # inner: fully-dup docs vanish
    return out.select(
        "doc_id",
        F.array_join(
            F.transform(F.col("keep"), _seg_text), " "
        ).alias("clean_text"),
        F.size("keep").cast("long").alias("n_kept"),
        (nseg.cast("long") - F.size("keep")).alias("n_dropped"),
    )


SUB_RUN = 30  # substring-dedup duplicated-run threshold (Lee et al.)
SUB_B = 8  # winnowing band: every band of SUB_B windows selects >= 1
SUB_W = SUB_RUN - SUB_B + 1  # window width (23): W + B - 1 == SUB_RUN


def q_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring dedup at ARBITRARY boundaries (Lee et al.,
    "Deduplicating Training Data Makes Language Models Better") with
    WINNOWED fingerprints (Schleimer et al., the MOSS selection) — the
    generalization :func:`q_dedup_paragraph`'s fixed 20-token grid
    cannot express: each sliding band of {SUB_B} window starts selects
    the start whose TOKEN hash is minimal (leftmost tie-break, replayed
    bit-identically by the SQL oracle), and only the selected
    {SUB_W}-token windows are fingerprinted and emitted; a selected
    window whose exact token run appeared earlier in the corpus
    (global keep-first on (doc_id, win_start)) marks its span;
    a document's excised region is the UNION of its duplicate windows'
    spans (span-merge).

    Guarantee: any duplicated run of >= SUB_W + SUB_B - 1 = {SUB_RUN}
    tokens contains a full band of windows lying inside the run, whose
    selection depends only on the (identical) run content — so both
    copies select the same relative window, the later one matches, and
    the run is excised.  Interior selections recur at most {SUB_B}
    apart, so the excision covers the run contiguously; up to
    {SUB_B - 1} boundary tokens per side may survive (the winnowing
    trade: exact-boundary stride-1 emission costs ~{SUB_B}x the
    shuffle).  Windows straddling the run boundary carry unique
    context and never match, so surrounding text survives.

    Scale shape: the selection value is the md5 prefix of the single
    token at each window START (a band lies inside a duplicated run,
    so per-token values winnow as consistently as per-window ones, at
    ~1/{SUB_W} the hash input); the full window is hashed only for the
    ~2/(SUB_B+1) SELECTED starts, and each emitted row carries
    (doc_id, win_start, 64-bit hex fingerprint) ONLY — ~6 bytes per
    corpus token through the keep-first shuffle (stride-1 was ~24),
    never text; the span union folds to a per-doc index list; the text
    moves ONCE, in the final doc_id join, where a per-row lambda
    excises covered positions.  Fully-duplicated documents survive as
    empty ``clean_text`` rows (the audit record a curation run
    wants)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split(F.trim(F.col("text")), " ")
    n = F.size(toks)
    empty = F.array().cast("array<int>")
    # md5 (not xxhash64) so the ORACLE can replay the argmin selection:
    # both engines produce the same lowercase-hex and compare it
    # identically (fixed-width ASCII lexicographic).  Only the first m
    # = n - W + 1 positions are valid window starts.
    th_expr = F.when(
        n >= SUB_W,
        F.transform(
            F.slice(F.split(F.trim(F.col("text")), " "), 1, n - SUB_W + 1),
            lambda t: F.substring(F.md5(t), 1, 15),
        ),
    ).otherwise(F.array().cast("array<string>"))
    staged = fan_out(d).select("doc_id", toks.alias("tk"), th_expr.alias("th"))
    th = F.col("th")
    m = F.size(th)
    band = lambda j: F.slice(th, j, SUB_B)  # noqa: E731
    sels = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(m - SUB_B + 1, F.lit(1))),
            lambda j: j
            - 1
            + F.array_position(band(j), F.array_min(band(j))),
        )
    )
    wins = (
        staged.filter(m > 0)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    sels,
                    lambda s: F.struct(
                        s.cast("int").alias("ws"),
                        # the collision-grade fingerprint is computed
                        # for SELECTED windows only; the oracle groups
                        # by window TEXT, so it needs only Spark-side
                        # self-consistency
                        F.substring(
                            F.md5(
                                F.array_join(
                                    F.slice(F.col("tk"), s.cast("int"), SUB_W),
                                    " ",
                                )
                            ),
                            1,
                            16,
                        ).alias("h"),
                    ),
                )
            ).alias("w"),
        )
        .select("doc_id", "w.ws", "w.h")
    )
    wk = Window.partitionBy("h").orderBy("doc_id", "ws")
    spans = (
        wins.withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") > 1)
        .groupBy("doc_id")
        .agg(
            F.array_distinct(
                F.flatten(
                    F.transform(
                        F.array_sort(F.collect_list("ws")),
                        lambda s: F.sequence(s, s + SUB_W - 1),
                    )
                )
            ).alias("cov")
        )
    )
    out = d.join(spans, "doc_id", "left")
    cov = F.coalesce(F.col("cov"), empty)
    cleaned = F.filter(
        toks, lambda x, i: ~F.array_contains(cov, i + F.lit(1))
    )
    return out.select(
        "doc_id",
        F.array_join(cleaned, " ").alias("clean_text"),
        n.cast("long").alias("n_tokens"),
        F.size(cov).cast("long").alias("n_excised"),
    )


FP_K = 8  # char k-gram width
FP_W = 4  # winnowing window (hashes per window)
def q_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite document-quality gate (C4/Gopher-style): length, mean word
    length, stopword density, and distinct-token ratio each gate
    independently; a doc is kept only if every rule passes, and the first
    failing rule is reported as the drop reason — the audit trail a corpus
    curation run ships alongside the filtered output.

    All signals are per-row column expressions over one tokenization (pure
    scan work, zero shuffles at any scale); thresholds are the published
    Gopher-rule shapes adapted to the synthetic corpus."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    toks = tokens_col(F.col("text"))
    n_tokens = F.size(toks)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    n_distinct = F.size(F.array_distinct(toks))
    total_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t)),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    mean_len = total_len / n_tokens
    stop_ratio = n_stop / n_tokens
    distinct_ratio = n_distinct / n_tokens
    reason = (
        F.when(n_tokens < 8, "too_short")
        .when(n_tokens > 5000, "too_long")
        .when((mean_len < 2) | (mean_len > 12), "word_length")
        .when(stop_ratio > 0.6, "stopword_heavy")
        .when(distinct_ratio < 0.3, "repetitive")
        .otherwise("pass")
    )
    return d.select(
        "doc_id",
        "lang",
        "source",
        n_tokens.cast("int").alias("n_tokens"),
        F.round(distinct_ratio, 3).alias("distinct_ratio"),
        F.round(mean_len, 3).alias("mean_tok_len"),
        F.round(stop_ratio, 3).alias("stopword_ratio"),
        reason.alias("fail_reason"),
        (reason == "pass").alias("keep"),
    )


VOCAB_MIN_COUNT = 5


def q_vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-ranked vocabulary build: corpus token counts, rare tokens
    cut at VOCAB_MIN_COUNT, ids assigned by (count desc, token asc) rank —
    the tokenizer-vocab construction step of a training pipeline, with a
    deterministic tie-break so the id assignment is reproducible anywhere.

    Scale: explode + map-side-combined count collapses the token stream to
    the distinct vocabulary before the shuffle; the ranking window runs
    over distinct tokens only.  (A global rank is a single-partition window
    by definition — at 100 TB the vocabulary is still ~millions of rows,
    i.e. window-sized, not corpus-sized.)"""
    d = load_table(spark, sf_dir, "documents")
    counts = (
        fan_out(d)
        .select(F.explode(tokens_col(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .filter(F.col("n_occurrences") >= VOCAB_MIN_COUNT)
    )
    w = Window.orderBy(F.desc("n_occurrences"), F.asc("token"))
    return counts.select(
        (F.row_number().over(w) - 1).alias("token_id"),
        "token",
        "n_occurrences",
    )


# Unigram log-probability scoring: ln quantized to integer micro-nats so the
# cross-token sum is exact integer math (associative, partition-independent)
# — the same trick as sim_label_cohesion's centroids.  Both engines compute
# ln() identically (IEEE libm double) on identical count ratios.
LOGP_SCALE = 1_000_000


def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram negative log-likelihood (CCNet-style LM quality
    score): corpus unigram probabilities, then each doc scored by the mean
    -ln p(token) of its tokens — low = natural text, high = gibberish
    relative to the corpus.  The two-pass shape (corpus stats broadcast back
    onto the token stream) is the canonical LM-scoring dataflow.

    Exactness: each token's -ln p is quantized to integer micro-nats
    BEFORE the per-doc sum, so aggregation order cannot change the result
    (float sums over a shuffle are not associative; integer sums are)."""
    d = load_table(spark, sf_dir, "documents")
    toks = fan_out(d).select(
        "doc_id", F.explode(tokens_col(F.col("text"))).alias("token")
    )
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n_tok"))
    total = counts.agg(F.sum("n_tok").alias("n_total"))
    probs = counts.crossJoin(F.broadcast(total)).select(
        "token",
        F.round(
            -F.log(F.col("n_tok") / F.col("n_total")) * LOGP_SCALE, 0
        ).cast("bigint").alias("neg_logp_micro"),
    )
    return (
        toks.join(F.broadcast(probs), "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("neg_logp_micro").alias("sum_micro"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.round(
                F.col("sum_micro") / (F.col("n_tokens") * F.lit(float(LOGP_SCALE))),
                6,
            ).alias("mean_neg_logp"),
        )
    )


def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bigram conditional negative log-likelihood — the
    order-sensitive LM quality score one notch above
    ``text_unigram_logprob``: each document is scored by the mean
    -ln p(w_i | w_{i-1}) of its bigrams under the corpus MLE bigram model
    (p = c(ab) / c(a·), where c(a·) counts bigram occurrences opening
    with a).  Catches shuffled/bag-of-words gibberish that a unigram
    model scores as natural.

    Dataflow: bigrams come from zipping each token array against its own
    1-shift (slice + arrays_zip — array ops, no positional self-join);
    pair counts are map-side combinable; context counts derive from the
    pair relation.  The probability table is bigram-vocabulary-sized —
    joined, not broadcast, since bigram vocabularies outgrow broadcast at
    corpus scale.  Exactness: per-bigram -ln p quantized to integer
    micro-nats before the per-doc sum (order-proof, engine-portable)."""
    d = load_table(spark, sf_dir, "documents")
    t = tokens_col(F.col("text"))
    base = (
        fan_out(d)
        .select("doc_id", t.alias("t"))
        .filter(F.size("t") >= 2)
    )
    bg = base.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.slice(F.col("t"), 1, F.size("t") - 1).alias("w1"),
                F.slice(F.col("t"), 2, F.size("t") - 1).alias("w2"),
            )
        ).alias("z"),
    ).select("doc_id", F.col("z.w1").alias("w1"), F.col("z.w2").alias("w2"))
    # the bigram stream feeds the pair counts AND the final scoring join —
    # persist so the token explosion runs once (measured 8.4 s -> 1.9 s at
    # sf0.1, where the single-file corpus makes each re-explosion serial);
    # the doc-sized output is checkpointed below so the cache releases
    # before returning (cache-lifecycle discipline, SCALE.md)
    bg = bg.persist()
    pc = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_ab"))
    ctx = pc.groupBy("w1").agg(F.sum("n_ab").alias("n_a"))
    probs = pc.join(ctx, "w1").select(
        "w1",
        "w2",
        F.round(-F.log(F.col("n_ab") / F.col("n_a")) * LOGP_SCALE, 0)
        .cast("bigint")
        .alias("neg_logp_micro"),
    )
    from spark_spotify.functions.checkpoint import stable_checkpoint

    out = (
        bg.join(probs, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("neg_logp_micro").alias("sum_micro"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            F.round(
                F.col("sum_micro")
                / (F.col("n_bigrams") * F.lit(float(LOGP_SCALE))),
                6,
            ).alias("mean_neg_logp"),
        )
        .transform(stable_checkpoint)
    )
    bg.unpersist()
    return out


PMI_MIN_PAIR = 5  # support floor: rare pairs have unboundedly noisy PMI
PMI_TOPK = 50


def q_collocation_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus collocation mining — pointwise mutual information over
    adjacent token pairs (Church & Hanks 1990), the phrase-detection pass
    a training pipeline runs before vocabulary induction (word2vec's
    phrase joining): ``PMI(a,b) = ln(p(ab) / (p(a) p(b)))`` with a
    support floor of {PMI_MIN_PAIR} (a 1-count pair's PMI is unboundedly
    noisy), top-{PMI_TOPK} pairs by PMI.

    Dataflow: one token explosion -> unigram counts; one shifted-zip
    bigram explosion -> pair counts (both map-side combinable); the two
    corpus totals ride a broadcast scalar; the SUPPORT-FILTERED pair
    relation joins unigram counts once per side — vocabulary-keyed
    shuffle joins, not broadcasts, because unigram vocabularies outgrow
    broadcast at corpus scale.  Top-k is TakeOrderedAndProject (never a
    full sort).  Exactness: PMI is ONE ln of ONE double ratio with both
    engines' operand order pinned, quantized to integer micro-nats
    before ranking; boundary ties break lexicographically so the top-k
    cut is total-ordered and engine-portable."""
    from spark_spotify.functions.checkpoint import stable_checkpoint

    d = load_table(spark, sf_dir, "documents")
    t = tokens_col(F.col("text"))
    uc = (
        fan_out(d)
        .select(F.explode(t).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c_w"))
    )
    base = fan_out(d).select(t.alias("t")).filter(F.size("t") >= 2)
    pc = (
        base.select(
            F.explode(
                F.arrays_zip(
                    F.slice(F.col("t"), 1, F.size("t") - 1).alias("w1"),
                    F.slice(F.col("t"), 2, F.size("t") - 1).alias("w2"),
                )
            ).alias("z")
        )
        .select(F.col("z.w1").alias("w1"), F.col("z.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    pc = pc.persist()  # feeds the n_bg total AND the scored join
    totals = uc.agg(F.sum("c_w").alias("n_u")).crossJoin(
        pc.agg(F.sum("n_ab").alias("n_bg"))
    )
    a = uc.select(F.col("w").alias("w1"), F.col("c_w").alias("c_a"))
    b = uc.select(F.col("w").alias("w2"), F.col("c_w").alias("c_b"))
    scored = (
        pc.filter(F.col("n_ab") >= PMI_MIN_PAIR)
        .join(a, "w1")
        .join(b, "w2")
        .crossJoin(F.broadcast(totals))
        .select(
            "w1",
            "w2",
            "n_ab",
            F.round(
                F.log(
                    (
                        F.col("n_ab").cast("double")
                        * F.col("n_u")
                        * F.col("n_u")
                    )
                    / (
                        F.col("n_bg").cast("double")
                        * F.col("c_a")
                        * F.col("c_b")
                    )
                )
                * LOGP_SCALE,
                0,
            )
            .cast("bigint")
            .alias("pmi_micro"),
        )
    )
    out = (
        scored.orderBy(
            F.desc("pmi_micro"), F.asc("w1"), F.asc("w2")
        )
        .limit(PMI_TOPK)
        .select(
            "w1",
            "w2",
            "n_ab",
            F.round(F.col("pmi_micro") / F.lit(float(LOGP_SCALE)), 6).alias(
                "pmi"
            ),
        )
        .transform(stable_checkpoint)
    )
    pc.unpersist()
    return out


def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character Shannon entropy (bits/char) + distinct-char
    count — the compression-proxy quality signal that separates natural
    text from base64 blobs, repeated padding, and binary spill.

    Dataflow: one char explode → (doc, char) counts (map-side combinable)
    → per-doc sum of -p·log2 p terms.  Each term is quantized to integer
    micro-bits before the sum (same exactness trick as
    ``text_unigram_logprob``), so the result is aggregation-order-proof and
    engine-portable."""
    d = load_table(spark, sf_dir, "documents")
    chars = (
        fan_out(d)
        .select("doc_id", F.trim(F.col("text")).alias("nt"))
        .filter(F.length("nt") > 0)
        .select(
            "doc_id",
            "nt",
            F.explode(F.sequence(F.lit(1), F.length("nt"))).alias("i"),
        )
        .select("doc_id", F.expr("substring(nt, i, 1)").alias("ch"))
    )
    counts = chars.groupBy("doc_id", "ch").agg(
        F.count(F.lit(1)).alias("c")
    )
    w = Window.partitionBy("doc_id")
    p = F.col("c") / F.col("n_tot")
    term = F.round(-p * F.log2(p) * LOGP_SCALE, 0).cast("bigint")
    return (
        counts.withColumn("n_tot", F.sum("c").over(w))
        .select("doc_id", term.alias("t"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_distinct_chars"),
            F.round(F.sum("t") / F.lit(float(LOGP_SCALE)), 6).alias(
                "char_entropy_bits"
            ),
        )
    )


TFIDF_TOP_K = 5


def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k TF-IDF terms per document — the classic keyword-extraction /
    doc-representation operator (reference has nothing like it; this is
    BASELINE.json text-analysis surface).

    Dataflow: one token explode → (doc, token) tf counts (map-side
    combinable) → per-token document frequencies derived FROM the tf
    relation (already doc-distinct, so df needs no countDistinct) → idf
    broadcast back onto tf → per-doc top-k window over the doc's distinct
    tokens only.  No corpus-sized shuffle beyond the tf groupBy; at 100 TB
    the idf table is vocabulary-sized and stays broadcastable.

    Exactness: idf is quantized to integer micro-nats and multiplied by the
    integer tf, so ranking compares exact integers — aggregation order and
    float summation can never reorder the top-k.  Ties break on token."""
    d = load_table(spark, sf_dir, "documents")
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    tf = (
        fan_out(d)
        .select("doc_id", F.explode(tokens_col(F.col("text"))).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("n_tf"))
    )
    idf = (
        tf.groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "token",
            F.round(
                F.log(
                    F.col("n_docs").cast("double")
                    / F.col("df").cast("double")
                )
                * LOGP_SCALE,
                0,
            )
            .cast("bigint")
            .alias("idf_micro"),
        )
    )
    scored = tf.join(F.broadcast(idf), "token").select(
        "doc_id",
        "token",
        "n_tf",
        (F.col("n_tf") * F.col("idf_micro")).alias("score_micro"),
    )
    return (
        top_k(
            scored,
            ["doc_id"],
            [F.desc("score_micro"), F.asc("token")],
            TFIDF_TOP_K,
        )
        .select(
            "doc_id",
            F.col("rank").cast("bigint").alias("rank"),
            "token",
            "n_tf",
            F.round(
                F.col("score_micro") / F.lit(float(LOGP_SCALE)), 6
            ).alias("tfidf"),
        )
    )


BM25_K1 = 1.2
BM25_B = 0.75
BM25_TERMS = ("spark", "merge", "window")
BM25_TOP_K = 15


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranking of the corpus against a fixed query (Robertson/Spärck
    Jones; the retrieval scorer behind quality-filtering-by-query and
    RAG-corpus triage).  Per-doc term frequencies come from per-row array
    filters (no corpus explode); the corpus stats the score needs
    (N, Σdl, per-term document frequencies) collapse to ONE row that rides
    in as a broadcast cross join — so the whole query is two scans of the
    corpus and a driver-free single-row join, no corpus-sized shuffle at
    any scale.

    Engine determinism: tf/df/dl are exact integers; the score is a
    fixed-shape double expression (explicit parenthesization mirrored in
    the oracle SQL, ln on identically-constructed doubles), summed over the
    fixed term list left-to-right, so both engines execute the identical
    IEEE sequence.  Ties break on doc_id."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    toks = F.split(F.trim(F.col("text")), " ")
    base = d.select("doc_id", toks.alias("toks"), F.size(toks).alias("dl"))
    def _matches(term: str):
        # single-arg lambda: a two-arg lambda would be given (element, index)
        return lambda x: x == F.lit(term)

    tf = base.select(
        "doc_id",
        "dl",
        *[
            F.size(F.filter(F.col("toks"), _matches(t))).alias(f"tf{i}")
            for i, t in enumerate(BM25_TERMS)
        ],
    )
    stats = tf.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("bigint")).alias(f"df{i}")
            for i in range(len(BM25_TERMS))
        ],
    )
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs").cast("double")
    scored = tf.crossJoin(F.broadcast(stats)).withColumn("avgdl", avgdl)

    def term_score(i: int):
        idf = F.log(
            (
                (F.col("n_docs").cast("double") - F.col(f"df{i}").cast("double"))
                + F.lit(0.5)
            )
            / (F.col(f"df{i}").cast("double") + F.lit(0.5))
            + F.lit(1.0)
        )
        tf_d = F.col(f"tf{i}").cast("double")
        denom = tf_d + (
            F.lit(BM25_K1)
            * (
                F.lit(1.0 - BM25_B)
                + ((F.lit(BM25_B) * F.col("dl").cast("double")) / F.col("avgdl"))
            )
        )
        return idf * ((tf_d * F.lit(BM25_K1 + 1.0)) / denom)

    score = term_score(0)
    for i in range(1, len(BM25_TERMS)):
        score = score + term_score(i)
    n_hits = sum(F.col(f"tf{i}") for i in range(len(BM25_TERMS)))
    return (
        scored.withColumn("score", F.round(score, 6))
        .withColumn("n_hits", n_hits.cast("int"))
        .filter(F.col("n_hits") > 0)
        .select("doc_id", "score", F.col("dl").alias("n_tokens"), "n_hits")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(BM25_TOP_K)
    )


_BPE_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting by winnowing (Schleimer et al., SIGMOD'03):
    md5 over rolling char 8-grams of the normalized text, keep the min hash
    of each 4-hash window, distinct.  Guarantees any shared substring of
    length >= K + W - 1 produces a shared fingerprint — the plagiarism /
    contamination-detection primitive of a training-data pipeline.

    Entirely per-row array expressions (no explode): at 100 TB this is pure
    scan work; downstream containment joins key on the (uniform) fingerprint
    hash.  Docs shorter than K+W-1 chars have no full window and are
    filtered (both engines)."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    norm = F.lower(F.trim(F.col("text")))
    grams = F.transform(
        F.sequence(F.lit(0), F.length(norm) - FP_K),
        lambda i: F.md5(F.substr(norm, i + 1, F.lit(FP_K))),
    )
    fps = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size(F.col("grams")) - FP_W),
            lambda i: F.array_min(F.slice(F.col("grams"), i + 1, FP_W)),
        )
    )
    # (no explode barrier here, unlike q_pii_scan/q_text_token_regex: the
    # md5-per-gram pass dominates and runs once either way — measured
    # identical with and without at the 10x probe)
    return (
        d.filter(F.length(norm) >= FP_K + FP_W - 1)
        .select("doc_id", grams.alias("grams"))
        .select(
            "doc_id",
            F.size("grams").alias("n_grams"),
            fps.alias("fps"),
        )
        .select(
            "doc_id",
            "n_grams",
            F.size("fps").alias("n_fingerprints"),
            F.array_min("fps").alias("min_fp"),
            F.array_max("fps").alias("max_fp"),
        )
    )


def q_text_token_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish tokenization profile: regex token count (letter runs, digit
    runs, single punctuation — the pre-tokenizer split every BPE vocabulary
    starts from) vs whitespace token count, per document.  Stays JVM-side
    via regexp_extract_all; the identical RE runs under DuckDB's RE2.

    The extraction runs ONCE per row: projection collapse would otherwise
    inline ``regexp_extract_all`` into every downstream reference (four
    regex passes per row — measured 7.6 s vs 3.4 s at the 10× probe), so
    the token array is materialized behind a one-element explode, a
    Generate node collapse cannot cross."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    pieces = F.regexp_extract_all(F.col("text"), F.lit(_BPE_RE), F.lit(0))
    step = d.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), " ")).alias("n_ws"),
        F.explode(F.array(pieces)).alias("pieces"),
    )
    words = F.filter(F.col("pieces"), lambda p: p.rlike("^[A-Za-z]"))
    nums = F.filter(F.col("pieces"), lambda p: p.rlike("^[0-9]"))
    return step.select(
        "doc_id",
        F.col("n_ws").alias("n_ws_tokens"),
        F.size("pieces").alias("n_bpe_tokens"),
        F.size(words).alias("n_word_tokens"),
        F.size(nums).alias("n_num_tokens"),
        (F.size("pieces") - F.size(words) - F.size(nums)).alias(
            "n_punct_tokens"
        ),
        F.round(F.size("pieces") / F.col("n_ws"), 3).alias("bpe_per_ws"),
    )


# --- hashing-trick linear quality scorer ----------------------------------

QLR_BUCKETS = 256
QLR_SEED = "qlr:"


def q_quality_lr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick linear classifier scoring (the fastText / quality-LR
    shape every pretraining-data pipeline runs): each token hashes to one of
    ``QLR_BUCKETS`` feature buckets (md5 first byte — engine-portable), each
    bucket carries a fixed integer milli-weight in [-100, 100] derived from
    the bucket id ((b * 37) % 201 - 100 — a stand-in for trained weights,
    which at deploy time arrive as a 256-entry broadcast array), and the doc
    score is the mean token weight.  The accept verdict thresholds at 0.

    All-integer until one final division, so the score is partitioning- and
    engine-exact; no model runtime in the hot path — scoring is a scan-side
    expression, the deploy shape that actually survives 100 TB (per-row
    Python model calls do not).  Explode → partial-agg keeps the token
    relation map-side combined; the shuffle carries (doc, partial-sum)."""
    d = load_table(spark, sf_dir, "documents")
    tok = fan_out(d).select(
        "doc_id",
        F.explode(F.split(F.trim(F.col("text")), " ")).alias("token"),
    )
    bucket = F.conv(
        F.substring(F.md5(F.concat(F.lit(QLR_SEED), F.col("token"))), 1, 2),
        16,
        10,
    ).cast("int")
    w_milli = (bucket * 37) % F.lit(201) - 100
    scored = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(w_milli.cast("long")).alias("score_milli"),
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        "score_milli",
        # one exact-int / exact-double division, NO decimal re-round: both
        # engines produce the identical correctly-rounded quotient (the
        # portable-rounding policy — a round(x, 6) here can flip at
        # shortest-repr boundaries)
        (F.col("score_milli") / (F.col("n_tokens") * 1000.0)).alias(
            "mean_score"
        ),
        (F.col("score_milli") > 0).alias("accept"),
    )


_SQL_QLR_BUCKET = (
    "CAST((strpos('0123456789abcdef',"
    " substr(md5('qlr:' || token), 1, 1)) - 1) * 16"
    " + strpos('0123456789abcdef',"
    " substr(md5('qlr:' || token), 2, 1)) - 1 AS INT)"
)

ORACLE = {
    "text_bpe_merge_step": f"""
WITH tok AS (
  SELECT t AS token, COUNT(*) AS freq
  FROM (SELECT unnest(string_split(trim(text), ' ')) AS t FROM documents)
  GROUP BY t
),
p AS (
  SELECT substr(token, CAST(i AS INT), 2) AS pair, freq
  FROM tok, unnest(range(1, length(token))) AS u(i)
  WHERE length(token) >= 2
),
c AS (
  SELECT pair, CAST(SUM(freq) AS BIGINT) AS pair_count
  FROM p GROUP BY pair
)
SELECT CAST(row_number() OVER (ORDER BY pair_count DESC, pair ASC) AS INT)
         AS merge_rank,
       pair, pair_count
FROM c
QUALIFY merge_rank <= {BPE_TOP_MERGES}
""",
    "text_quality_lr": f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS token
  FROM documents
),
b AS (
  SELECT doc_id, {_SQL_QLR_BUCKET} AS bucket FROM toks
),
s AS (
  SELECT doc_id, COUNT(*) AS n_tokens,
         CAST(SUM((bucket * 37) % 201 - 100) AS BIGINT) AS score_milli
  FROM b GROUP BY doc_id
)
SELECT doc_id, n_tokens, score_milli,
       score_milli / (n_tokens * 1000.0) AS mean_score,
       score_milli > 0 AS accept
FROM s
""",
    "text_bm25_topk": f"""
WITH tf AS (
  SELECT doc_id,
         CAST(len(string_split(trim(text), ' ')) AS INT) AS dl,
         CAST(len(list_filter(string_split(trim(text), ' '),
                              x -> x = '{BM25_TERMS[0]}')) AS INT) AS tf0,
         CAST(len(list_filter(string_split(trim(text), ' '),
                              x -> x = '{BM25_TERMS[1]}')) AS INT) AS tf1,
         CAST(len(list_filter(string_split(trim(text), ' '),
                              x -> x = '{BM25_TERMS[2]}')) AS INT) AS tf2
  FROM documents
),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(dl) AS BIGINT) AS sum_dl,
         CAST(SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df0,
         CAST(SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1,
         CAST(SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df2
  FROM tf
),
scored AS (
  SELECT t.doc_id, t.dl, t.tf0, t.tf1, t.tf2,
         CAST(s.sum_dl AS DOUBLE) / CAST(s.n_docs AS DOUBLE) AS avgdl,
         s.n_docs, s.df0, s.df1, s.df2
  FROM tf t CROSS JOIN stats s
),
b AS (
  SELECT doc_id, dl, tf0 + tf1 + tf2 AS n_hits,
    ((ln((((CAST(n_docs AS DOUBLE) - CAST(df0 AS DOUBLE)) + 0.5)
          / (CAST(df0 AS DOUBLE) + 0.5)) + 1.0)
      * ((CAST(tf0 AS DOUBLE) * {BM25_K1 + 1.0!r})
         / (CAST(tf0 AS DOUBLE)
            + ({BM25_K1!r} * ({1.0 - BM25_B!r}
               + (({BM25_B!r} * CAST(dl AS DOUBLE)) / avgdl)))))
     + ln((((CAST(n_docs AS DOUBLE) - CAST(df1 AS DOUBLE)) + 0.5)
          / (CAST(df1 AS DOUBLE) + 0.5)) + 1.0)
      * ((CAST(tf1 AS DOUBLE) * {BM25_K1 + 1.0!r})
         / (CAST(tf1 AS DOUBLE)
            + ({BM25_K1!r} * ({1.0 - BM25_B!r}
               + (({BM25_B!r} * CAST(dl AS DOUBLE)) / avgdl))))))
     + ln((((CAST(n_docs AS DOUBLE) - CAST(df2 AS DOUBLE)) + 0.5)
          / (CAST(df2 AS DOUBLE) + 0.5)) + 1.0)
      * ((CAST(tf2 AS DOUBLE) * {BM25_K1 + 1.0!r})
         / (CAST(tf2 AS DOUBLE)
            + ({BM25_K1!r} * ({1.0 - BM25_B!r}
               + (({BM25_B!r} * CAST(dl AS DOUBLE)) / avgdl))))))
    AS raw_score
  FROM scored
)
SELECT doc_id, round(raw_score, 6) AS score,
       dl AS n_tokens, CAST(n_hits AS INT) AS n_hits
FROM b
WHERE n_hits > 0
ORDER BY score DESC, doc_id ASC
LIMIT {BM25_TOP_K}
""",
    "text_vocab_build": """
WITH counts AS (
  SELECT tok AS token, COUNT(*) AS n_occurrences
  FROM (SELECT unnest(string_split(trim(text), ' ')) AS tok FROM documents)
  GROUP BY tok
  HAVING COUNT(*) >= 5
)
SELECT CAST(row_number() OVER (ORDER BY n_occurrences DESC, token ASC) - 1
            AS INT) AS token_id,
       token, n_occurrences
FROM counts
""",
    "text_collocation_pmi": """
WITH toks AS (
  SELECT unnest(string_split(trim(text), ' ')) AS w FROM documents
),
uc AS (
  SELECT w, COUNT(*) AS c_w FROM toks GROUP BY w
),
base AS (
  SELECT string_split(trim(text), ' ') AS t FROM documents
  WHERE len(string_split(trim(text), ' ')) >= 2
),
idx AS (
  SELECT t, unnest(generate_series(1, len(t) - 1)) AS i FROM base
),
bg AS (
  SELECT t[i] AS w1, t[i + 1] AS w2 FROM idx
),
pc AS (
  SELECT w1, w2, COUNT(*) AS n_ab FROM bg GROUP BY w1, w2
),
tot AS (
  SELECT CAST((SELECT SUM(c_w) FROM uc) AS BIGINT) AS n_u,
         CAST((SELECT SUM(n_ab) FROM pc) AS BIGINT) AS n_bg
),
scored AS (
  SELECT pc.w1, pc.w2, pc.n_ab,
         CAST(round(ln((CAST(pc.n_ab AS DOUBLE) * t.n_u * t.n_u)
                       / (CAST(t.n_bg AS DOUBLE) * a.c_w * b.c_w))
                    * 1000000, 0) AS BIGINT) AS pmi_micro
  FROM pc
  JOIN uc a ON pc.w1 = a.w
  JOIN uc b ON pc.w2 = b.w
  CROSS JOIN tot t
  WHERE pc.n_ab >= 5
)
SELECT w1, w2, n_ab, round(pmi_micro / 1000000.0, 6) AS pmi
FROM scored
ORDER BY pmi_micro DESC, w1 ASC, w2 ASC
LIMIT 50
""",
    "text_bigram_logprob": """
WITH base AS (
  SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents
  WHERE len(string_split(trim(text), ' ')) >= 2
),
idx AS (
  SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i FROM base
),
bg AS (
  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2 FROM idx
),
pc AS (
  SELECT w1, w2, COUNT(*) AS n_ab FROM bg GROUP BY w1, w2
),
ctx AS (
  SELECT w1, SUM(n_ab) AS n_a FROM pc GROUP BY w1
),
probs AS (
  SELECT pc.w1, pc.w2,
         CAST(round(-ln(pc.n_ab / ctx.n_a) * 1000000, 0) AS BIGINT)
           AS neg_logp_micro
  FROM pc JOIN ctx ON pc.w1 = ctx.w1
)
SELECT bg.doc_id,
       COUNT(*) AS n_bigrams,
       round(SUM(p.neg_logp_micro) / (COUNT(*) * 1000000.0), 6)
         AS mean_neg_logp
FROM bg JOIN probs p ON bg.w1 = p.w1 AND bg.w2 = p.w2
GROUP BY bg.doc_id
""",
    "text_tfidf_topk": """
WITH tf AS (
  SELECT doc_id, token, COUNT(*) AS n_tf
  FROM (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS token
        FROM documents)
  GROUP BY doc_id, token
),
idf AS (
  SELECT token,
         CAST(round(ln(CAST((SELECT COUNT(*) FROM documents) AS DOUBLE)
                       / CAST(COUNT(*) AS DOUBLE)) * 1000000, 0) AS BIGINT)
           AS idf_micro
  FROM tf GROUP BY token
),
scored AS (
  SELECT tf.doc_id, tf.token, tf.n_tf,
         tf.n_tf * idf.idf_micro AS score_micro,
         row_number() OVER (PARTITION BY tf.doc_id
                            ORDER BY tf.n_tf * idf.idf_micro DESC,
                                     tf.token ASC) AS rank
  FROM tf JOIN idf USING (token)
)
SELECT doc_id, CAST(rank AS BIGINT) AS rank, token, n_tf,
       round(score_micro / 1000000.0, 6) AS tfidf
FROM scored WHERE rank <= 5
""",
    "text_unigram_logprob": """
WITH toks AS (
  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS token
  FROM documents
),
counts AS (
  SELECT token, COUNT(*) AS n_tok FROM toks GROUP BY token
),
probs AS (
  SELECT token,
         CAST(round(-ln(n_tok / (SELECT SUM(n_tok) FROM counts)) * 1000000,
                    0) AS BIGINT) AS neg_logp_micro
  FROM counts
)
SELECT t.doc_id,
       COUNT(*) AS n_tokens,
       round(SUM(p.neg_logp_micro) / (COUNT(*) * 1000000.0), 6)
         AS mean_neg_logp
FROM toks t JOIN probs p ON t.token = p.token
GROUP BY t.doc_id
""",
    "text_char_entropy": """
WITH chars AS (
  SELECT doc_id, substr(nt, CAST(i AS INT), 1) AS ch
  FROM (
    SELECT doc_id, trim(text) AS nt FROM documents WHERE length(trim(text)) > 0
  ), unnest(range(1, length(nt) + 1)) r(i)
),
counts AS (
  SELECT doc_id, ch, COUNT(*) AS c FROM chars GROUP BY doc_id, ch
),
wt AS (
  SELECT doc_id, c, SUM(c) OVER (PARTITION BY doc_id) AS n_tot FROM counts
)
SELECT doc_id,
       COUNT(*) AS n_distinct_chars,
       round(SUM(CAST(round(-(c / n_tot) * log2(c / n_tot) * 1000000, 0)
                      AS BIGINT)) / 1000000.0, 6) AS char_entropy_bits
FROM wt GROUP BY doc_id
""",
    "text_quality_gate": """
WITH t AS (
  SELECT doc_id, lang, source, string_split(trim(text), ' ') AS toks
  FROM documents
), s AS (
  SELECT doc_id, lang, source,
         len(toks) AS n_tokens,
         len(list_distinct(toks)) AS n_distinct,
         len(list_filter(toks,
             x -> x IN ('the','a','of','and','to','in','is','it'))) AS n_stop,
         list_sum(list_transform(toks, x -> length(x))) AS total_len
  FROM t
), g AS (
  SELECT *,
         total_len / n_tokens AS mean_len,
         n_stop / n_tokens AS stop_ratio,
         n_distinct / n_tokens AS distinct_ratio
  FROM s
), r AS (
  SELECT *,
         CASE WHEN n_tokens < 8 THEN 'too_short'
              WHEN n_tokens > 5000 THEN 'too_long'
              WHEN mean_len < 2 OR mean_len > 12 THEN 'word_length'
              WHEN stop_ratio > 0.6 THEN 'stopword_heavy'
              WHEN distinct_ratio < 0.3 THEN 'repetitive'
              ELSE 'pass' END AS fail_reason
  FROM g
)
SELECT doc_id, lang, source,
       CAST(n_tokens AS INT) AS n_tokens,
       round(distinct_ratio, 3) AS distinct_ratio,
       round(mean_len, 3) AS mean_tok_len,
       round(stop_ratio, 3) AS stopword_ratio,
       fail_reason,
       fail_reason = 'pass' AS keep
FROM r
""",
    # same chain order as the Spark side: email -> url -> phone; all
    # three patterns interpolated from the SAME module constants the
    # Spark side compiles, so an edit can never diverge the two engines
    "text_pii_redact": f"""
SELECT doc_id,
       regexp_replace(
         regexp_replace(
           regexp_replace(text, '{RE_EMAIL}', '[EMAIL]', 'g'),
           '{RE_URL}', '[URL]', 'g'),
         '{RE_PHONE}', '[PHONE]', 'g') AS clean_text,
       CAST(len(regexp_extract_all(text, '{RE_EMAIL}')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{RE_URL}')) AS INT) AS n_urls,
       CAST(len(regexp_extract_all(text, '{RE_PHONE}'))
            AS INT) AS n_phones
FROM documents
""",
    "text_pii_scan": f"""
SELECT doc_id, source,
       CAST(len(regexp_extract_all(text, '{RE_EMAIL}')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{RE_URL}')) AS INT) AS n_urls,
       CAST(len(regexp_extract_all(text, '{RE_PHONE}'))
            AS INT) AS n_phones,
       (len(regexp_extract_all(text, '{RE_EMAIL}'))
        + len(regexp_extract_all(text, '{RE_URL}'))
        + len(regexp_extract_all(text, '{RE_PHONE}')))
       > 0 AS has_pii
FROM documents
""",
    "text_repetition": """
WITH tok AS (
  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok
  FROM documents
),
counts AS (
  SELECT doc_id, tok, COUNT(*) AS n FROM tok GROUP BY doc_id, tok
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY n DESC, tok ASC) AS rank
  FROM counts
)
SELECT doc_id,
       CAST(SUM(n) AS BIGINT) AS n_tokens,
       COUNT(*) AS n_distinct_tokens,
       round(COUNT(*) / CAST(SUM(n) AS DOUBLE), 3) AS distinct_ratio,
       MAX(CASE WHEN rank = 1 THEN tok END) AS top_token,
       round(MAX(CASE WHEN rank = 1 THEN n END) / CAST(SUM(n) AS DOUBLE), 3)
           AS top_token_frac
FROM ranked GROUP BY doc_id
""",
    "text_stats": """
WITH t AS (
  SELECT doc_id, lang, source, n_chars,
         string_split(trim(text), ' ') AS toks
  FROM documents
), s AS (
  SELECT doc_id, lang, source, n_chars,
         len(toks) AS n_tokens,
         len(list_filter(toks,
             x -> x IN ('the','a','of','and','to','in','is','it'))) AS n_stop,
         list_sum(list_transform(toks, x -> length(x))) AS total_len
  FROM t
)
SELECT doc_id, lang, source, n_chars,
       CAST(n_tokens AS INT) AS n_tokens,
       CAST(n_stop AS INT) AS n_stopwords,
       round(n_stop / n_tokens, 3) AS stopword_ratio,
       round(total_len / n_tokens, 3) AS avg_token_len,
       CASE WHEN n_tokens < 5 THEN 'too_short'
            WHEN n_stop / n_tokens > 0.5 THEN 'low_content'
            ELSE 'ok' END AS quality_bucket
FROM s
""",
    "text_lang_profile": """
WITH t AS (
  SELECT lang, source, n_chars,
         len(string_split(trim(text), ' ')) AS n_tokens
  FROM documents
)
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       round(SUM(n_chars) / COUNT(*), 2) AS avg_chars,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       COUNT(DISTINCT source) AS n_sources
FROM t GROUP BY lang
""",
    "dedup_paragraph": f"""
WITH t AS (
  SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents
),
seg0 AS (
  SELECT doc_id, toks,
         unnest(generate_series(
           0, CAST(ceil(len(toks)/{float(SEG_TOKENS)}) AS BIGINT) - 1)) AS i
  FROM t
),
seg AS (
  SELECT doc_id, CAST(i AS BIGINT) AS seg_idx,
         array_to_string(
           toks[(CAST(i AS INT)*{SEG_TOKENS}+1)
                :(CAST(i AS INT)*{SEG_TOKENS}+{SEG_TOKENS})], ' ') AS seg
  FROM seg0
),
kept AS (
  SELECT doc_id, seg_idx, seg,
         row_number() OVER (PARTITION BY seg
                            ORDER BY doc_id, seg_idx) AS rn
  FROM seg
),
tot AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_seg FROM seg GROUP BY doc_id
),
r AS (
  SELECT doc_id, string_agg(seg, ' ' ORDER BY seg_idx) AS clean_text,
         CAST(COUNT(*) AS BIGINT) AS n_kept
  FROM kept WHERE rn = 1 GROUP BY doc_id
)
SELECT r.doc_id, r.clean_text, r.n_kept,
       tot.n_seg - r.n_kept AS n_dropped
FROM r JOIN tot USING (doc_id)
""",
    "dedup_substring": f"""
WITH t AS (
  SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents
),
h AS (
  SELECT doc_id,
         list_transform(
           toks[1:len(toks) - {SUB_W} + 1],
           tk -> substr(md5(tk), 1, 15)) AS th
  FROM t WHERE len(toks) >= {SUB_W}
),
sel AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(len(th) - {SUB_B} + 1, 1)),
           j -> j - 1 + list_position(
                  th[CAST(j AS INT):CAST(j AS INT) + {SUB_B - 1}],
                  list_aggregate(
                    th[CAST(j AS INT):CAST(j AS INT) + {SUB_B - 1}],
                    'min')))) AS sels
  FROM h
),
w AS (
  SELECT doc_id, unnest(sels) AS ws FROM sel
),
ww AS (
  SELECT w.doc_id, ws,
         list_aggregate(t.toks[CAST(ws AS INT)
                               :CAST(ws AS INT) + {SUB_W - 1}],
                        'string_agg', ' ') AS win
  FROM w JOIN t ON w.doc_id = t.doc_id
),
r AS (
  SELECT doc_id, ws,
         row_number() OVER (PARTITION BY win
                            ORDER BY doc_id, ws) AS rn
  FROM ww
),
cov AS (
  SELECT DISTINCT doc_id,
         unnest(generate_series(ws, ws + {SUB_W - 1})) AS j
  FROM r WHERE rn > 1
),
tokpos AS (
  SELECT doc_id, unnest(generate_series(1, len(toks))) AS j FROM t
),
tp AS (
  SELECT tokpos.doc_id, j, t.toks[CAST(j AS INT)] AS tk
  FROM tokpos JOIN t USING (doc_id)
),
keep AS (
  SELECT tp.doc_id, tp.j, tp.tk
  FROM tp LEFT JOIN cov ON tp.doc_id = cov.doc_id AND tp.j = cov.j
  WHERE cov.j IS NULL
),
agg AS (
  SELECT doc_id, string_agg(tk, ' ' ORDER BY j) AS clean_text
  FROM keep GROUP BY doc_id
),
nex AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM cov GROUP BY doc_id
)
SELECT t.doc_id,
       COALESCE(agg.clean_text, '') AS clean_text,
       CAST(len(t.toks) AS BIGINT) AS n_tokens,
       COALESCE(nex.n, 0) AS n_excised
FROM t
LEFT JOIN agg ON t.doc_id = agg.doc_id
LEFT JOIN nex ON t.doc_id = nex.doc_id
""",
    "text_dedup_exact": """
SELECT doc_id,
       md5(lower(trim(text))) AS fingerprint,
       COUNT(*) OVER (PARTITION BY md5(lower(trim(text)))) AS group_size,
       CAST(row_number() OVER (PARTITION BY md5(lower(trim(text)))
                          ORDER BY doc_id) AS INT) AS dup_rank,
       row_number() OVER (PARTITION BY md5(lower(trim(text)))
                          ORDER BY doc_id) = 1 AS is_keeper
FROM documents
""",
    "text_fingerprint": f"""
WITH norm AS (
  SELECT doc_id, lower(trim(text)) AS nt FROM documents
  WHERE length(lower(trim(text))) >= {FP_K + FP_W - 1}
),
grams AS (
  SELECT doc_id,
         list_transform(range(0, length(nt) - {FP_K} + 1),
                        i -> md5(substr(nt, CAST(i AS INT) + 1, {FP_K})))
           AS gs
  FROM norm
),
fps AS (
  SELECT doc_id, len(gs) AS n_grams,
         list_distinct(
           list_transform(range(0, len(gs) - {FP_W} + 1),
                          i -> list_min(gs[CAST(i AS INT) + 1
                                           : CAST(i AS INT) + {FP_W}])))
           AS f
  FROM grams
)
SELECT doc_id, CAST(n_grams AS INT) AS n_grams,
       CAST(len(f) AS INT) AS n_fingerprints,
       list_min(f) AS min_fp, list_max(f) AS max_fp
FROM fps
""",
    "text_token_regex": f"""
WITH p AS (
  SELECT doc_id,
         len(string_split(trim(text), ' ')) AS n_ws,
         regexp_extract_all(text, '{_BPE_RE}') AS pieces
  FROM documents
),
c AS (
  SELECT doc_id, n_ws, len(pieces) AS n_bpe,
         len(list_filter(pieces, x -> regexp_matches(x, '^[A-Za-z]')))
           AS n_word,
         len(list_filter(pieces, x -> regexp_matches(x, '^[0-9]')))
           AS n_num
  FROM p
)
SELECT doc_id,
       CAST(n_ws AS INT) AS n_ws_tokens,
       CAST(n_bpe AS INT) AS n_bpe_tokens,
       CAST(n_word AS INT) AS n_word_tokens,
       CAST(n_num AS INT) AS n_num_tokens,
       CAST(n_bpe - n_word - n_num AS INT) AS n_punct_tokens,
       round(n_bpe / n_ws, 3) AS bpe_per_ws
FROM c
""",
}

def q_bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE vocabulary-induction step: the corpus-wide adjacent-symbol
    pair counts over the seed (character) vocabulary, ranked — the argmax
    the BPE training loop takes at every iteration (Sennrich et al.,
    subword-nmt; completes the tokenizer story next to text_vocab_build's
    frequency vocab and text_token_regex's pre-tokenizer).

    The classic efficiency trick is built in: pair counting runs over the
    DISTINCT token table weighted by token frequency, never over the raw
    token stream — corpus size only affects the (map-side-combined) token
    count; the pair explosion is vocabulary-sized.  At 100 TB the loop
    re-runs this step against the merged vocab table; the dataflow is
    unchanged.  Deterministic tie-break (count desc, pair asc) makes the
    induced merge table reproducible anywhere."""
    d = load_table(spark, sf_dir, "documents")
    tok = (
        fan_out(d)
        .select(F.explode(tokens_col(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.length("token") >= 2)
    )
    pairs = tok.select(
        "freq",
        F.explode(
            F.expr(
                "transform(sequence(1, length(token) - 1),"
                " i -> substring(token, i, 2))"
            )
        ).alias("pair"),
    )
    counts = pairs.groupBy("pair").agg(
        F.sum("freq").alias("pair_count")
    )
    return top_k(
        counts, [], [F.desc("pair_count"), F.asc("pair")], BPE_TOP_MERGES
    ).select(F.col("rank").alias("merge_rank"), "pair", "pair_count")


BPE_TRAIN_MERGES = 8  # iterations of the full training loop


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL iterative BPE tokenizer training (Sennrich et al.) — the
    sequential merge LOOP that text_bpe_merge_step takes one step of:
    {BPE_TRAIN_MERGES} rounds of (count adjacent symbol pairs corpus-wide
    → take the argmax → merge every greedy left-to-right occurrence),
    emitting the learned merge table.

    Scale shape: the corpus is scanned ONCE into the distinct-token
    frequency table; every training round then runs on that vocab-sized
    relation (the subword-nmt trick), so 100 TB of text costs one
    map-side-combined token count and the loop costs O(vocab) per round.
    Per round: one pair-count aggregate + a 1-row argmax collect (the
    merge decision is inherently sequential) + one narrow column rewrite.

    Symbol sequences are DOUBLE-SPACE-delimited strings ("␣␣a␣␣b␣␣"),
    so applying a merge is a literal ``replace(' a  b ', ' ab ')`` —
    left-to-right non-overlapping in both engines, which IS greedy BPE
    merge order, and consecutive occurrences share no delimiter chars so
    none are skipped.  That portability makes the whole training loop
    hash-oracle-able: the oracle replays all {BPE_TRAIN_MERGES} rounds
    as chained SQL stages, bit-identically."""
    merges = _bpe_fit(spark, sf_dir)
    return spark.createDataFrame(
        merges,
        "merge_rank int, left_sym string, right_sym string,"
        " new_symbol string, pair_count bigint",
    )


# merges are a pure function of the corpus: train ONCE per sf_dir per
# process, then every consumer (tokenize, packing) re-applies the cached
# merge list statelessly — the production shape (train once, encode
# everywhere), and the same memoization precedent as the shared
# two-batch warehouse.  The corpus fixtures are immutable for the life
# of the process (TESTDATA contract), so the key is the path alone.
_BPE_MERGE_CACHE: dict[str, list] = {}


def _bpe_merges(spark: SparkSession, sf_dir: str) -> list:
    if sf_dir not in _BPE_MERGE_CACHE:
        _bpe_fit(spark, sf_dir)
    return _BPE_MERGE_CACHE[sf_dir]


def _bpe_token_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        fan_out(d)
        .select(F.explode(tokens_col(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.length("token") >= 2)
    )


def _bpe_vocab_df(
    spark: SparkSession, sf_dir: str, merges: list
) -> DataFrame:
    """The fully-merged vocabulary rebuilt STATELESSLY from a known
    merge list: one narrow projection chaining the literal replaces —
    no argmax jobs, no collects, no persists."""
    s = F.concat(
        F.lit("  "), F.regexp_replace("token", "(.)", "$1  ")
    )
    for _, a, b, _, _ in merges:
        s = F.replace(s, F.lit(f" {a}  {b} "), F.lit(f" {a}{b} "))
    return _bpe_token_base(spark, sf_dir).select(
        "token", "freq", s.alias("s")
    )


def _bpe_fit(spark: SparkSession, sf_dir: str) -> list:
    """Run the training loop; return the merge list (and populate the
    merge cache).  ONE persisted corpus-derived relation (token, freq,
    spaced form); each round's literal replace is chained LAZILY on
    top of it — the same stateless-rewrite shape ``_bpe_vocab_df``
    uses — so a round costs exactly one vocab-sized pair-count job.
    The previous eager per-round re-materialization (persist + count
    per merge) doubled the loop's job count for no reuse win: round
    t+1's single job re-applies t cheap string replaces to rows
    already pinned in memory, and both callers discard the final
    vocab relation anyway."""
    tok = _bpe_token_base(spark, sf_dir)
    base = tok.select(
        "token",
        "freq",
        F.concat(
            F.lit("  "), F.regexp_replace("token", "(.)", "$1  ")
        ).alias("s"),
    ).persist()
    base.count()  # materialize the one corpus-derived relation
    # adjacent symbol pairs of the spaced form: split -> ['', s1.., '']
    pair_expr = F.expr(
        "CASE WHEN size(split(s, '  ')) >= 4 THEN "
        " transform(sequence(2, size(split(s, '  ')) - 2),"
        "  j -> struct(element_at(split(s, '  '), j) AS a,"
        "              element_at(split(s, '  '), j + 1) AS b)) "
        "ELSE array() END"
    )
    merges = []
    s = F.col("s")
    for it in range(1, BPE_TRAIN_MERGES + 1):
        top = (
            base.select("freq", s.alias("s"))
            .select("freq", F.explode(pair_expr).alias("p"))
            .groupBy("p.a", "p.b")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if not top:  # vocabulary exhausted (never at these corpus sizes)
            break
        a, b, cnt = top[0]["a"], top[0]["b"], int(top[0]["cnt"])
        merges.append((it, a, b, a + b, cnt))
        s = F.replace(s, F.lit(f" {a}  {b} "), F.lit(f" {a}{b} "))
    base.unpersist()
    _BPE_MERGE_CACHE[sf_dir] = merges
    return merges


def q_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize the corpus WITH the learned BPE merges — the apply half
    of the tokenizer story (train on the vocab, then encode 100 TB of
    text): per document, word count, BPE piece count, and longest piece.

    Scale shape is the dictionary-apply trick: the {BPE_TRAIN_MERGES}
    merges are applied ONCE to the distinct-token vocabulary (O(vocab)
    column rewrites, from :func:`_bpe_fit`), the per-token piece stats
    are derived from the merged symbol strings, and the corpus is
    encoded by a BROADCAST hash join of the token stream against that
    mapping — no per-document merge work, no shuffle on the corpus
    beyond the final doc_id aggregation.  Single-character tokens (never
    in the length>=2 training vocab) are their own piece.

    Oracle: the training chain replayed in SQL with ``token`` carried
    through, joined back to the exploded corpus."""
    vocab = _bpe_vocab_df(spark, sf_dir, _bpe_merges(spark, sf_dir))
    parts = F.split(F.col("s"), "  ")
    pieces = F.slice(parts, 2, F.size(parts) - 2)
    mapping = vocab.select(
        "token",
        F.size(pieces).alias("pc"),
        F.array_max(F.transform(pieces, F.length)).alias("ml"),
    )
    d = load_table(spark, sf_dir, "documents")
    toks = fan_out(d).select(
        "doc_id", F.explode(tokens_col(F.col("text"))).alias("token")
    )
    enc = toks.join(F.broadcast(mapping), "token", "left")
    out = enc.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum(F.coalesce(F.col("pc"), F.lit(1))).alias("n_pieces"),
        F.max(F.coalesce(F.col("ml"), F.length("token")))
        .cast("bigint")
        .alias("max_piece_len"),
    )
    from spark_spotify.functions.checkpoint import stable_checkpoint

    return stable_checkpoint(out)


BPE_PACK_BUDGET = 512  # pieces per packed training sequence


def q_pack_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-TRUE sequence packing — curate_pack_bins costs bins by
    whitespace tokens, but a training run pays for BPE PIECES, and the
    two disagree per document.  This composes the learned tokenizer into
    the packer: per-doc piece counts from the trained merge table
    (dictionary-apply + broadcast join, same shape as
    text_bpe_tokenize), then the deterministic running-sum pack
    (bin = floor(pieces_before / {BPE_PACK_BUDGET}) per language in
    doc_id order).  At 100 TB the added cost over whitespace packing is
    one broadcast join against the vocab mapping — the window is
    unchanged.

    Oracle: the full training chain replayed in SQL, joined to the
    exploded corpus, packed with the same window arithmetic."""
    vocab = _bpe_vocab_df(spark, sf_dir, _bpe_merges(spark, sf_dir))
    parts = F.split(F.col("s"), "  ")
    mapping = vocab.select(
        "token", (F.size(parts) - 2).cast("long").alias("pc")
    )
    d = load_table(spark, sf_dir, "documents")
    toks = fan_out(d).select(
        "doc_id", "lang", F.explode(tokens_col(F.col("text"))).alias("token")
    )
    per_doc = (
        toks.join(F.broadcast(mapping), "token", "left")
        .groupBy("doc_id", "lang")
        .agg(F.sum(F.coalesce(F.col("pc"), F.lit(1))).alias("n_pieces"))
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_pieces").over(w)
    out = per_doc.withColumn(
        "bin_id",
        F.floor(
            (cum - F.col("n_pieces")) / F.lit(float(BPE_PACK_BUDGET))
        ),
    ).withColumn("cum_pieces", cum)
    from spark_spotify.functions.checkpoint import stable_checkpoint

    return stable_checkpoint(out)


def _bpe_pack_oracle(n: int) -> str:
    return (
        _bpe_chain_sql(n)
        + f""",
map AS (
  SELECT token,
         CAST(len(string_split(s, '  ')) - 2 AS BIGINT) AS pc
  FROM s{n}
),
dt AS (
  SELECT doc_id, lang, unnest(string_split(trim(text), ' ')) AS token
  FROM documents
),
pd AS (
  SELECT doc_id, lang, CAST(SUM(COALESCE(pc, 1)) AS BIGINT) AS n_pieces
  FROM dt LEFT JOIN map USING (token)
  GROUP BY doc_id, lang
)
SELECT doc_id, lang, n_pieces,
       CAST(floor((SUM(n_pieces)
                     OVER (PARTITION BY lang ORDER BY doc_id
                           ROWS UNBOUNDED PRECEDING)
                   - n_pieces) / {float(BPE_PACK_BUDGET)}) AS BIGINT)
         AS bin_id,
       CAST(SUM(n_pieces)
         OVER (PARTITION BY lang ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
         AS BIGINT) AS cum_pieces
FROM pd
"""
    )


def _bpe_chain_sql(n: int) -> str:
    """The training loop unrolled into chained SQL stages — same pair
    extraction, same (cnt DESC, a, b) argmax, same literal replace;
    s{n} is the fully merged vocabulary with ``token`` carried through."""
    sql = r"""
WITH tok AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS freq
  FROM (SELECT unnest(string_split(trim(text), ' ')) AS token
        FROM documents)
  GROUP BY token HAVING length(token) >= 2
),
s0 AS (
  SELECT token, freq,
         '  ' || regexp_replace(token, '(.)', '\1  ', 'g') AS s
  FROM tok
)"""
    for i in range(1, n + 1):
        sql += f""",
x{i} AS (
  SELECT freq, string_split(s, '  ') AS parts,
         unnest(generate_series(2, len(string_split(s, '  ')) - 2)) AS j
  FROM s{i - 1}
),
m{i} AS (
  SELECT parts[CAST(j AS INT)] AS a, parts[CAST(j AS INT) + 1] AS b,
         CAST(SUM(freq) AS BIGINT) AS cnt
  FROM x{i} GROUP BY a, b
  ORDER BY cnt DESC, a ASC, b ASC LIMIT 1
),
s{i} AS (
  SELECT token, freq,
         replace(s, ' ' || a || '  ' || b || ' ', ' ' || a || b || ' ')
           AS s
  FROM s{i - 1}, m{i}
)"""
    return sql


def _bpe_train_oracle(n: int) -> str:
    unions = "\nUNION ALL\n".join(
        f"SELECT {i} AS merge_rank, a AS left_sym, b AS right_sym,"
        f" a || b AS new_symbol, cnt AS pair_count FROM m{i}"
        for i in range(1, n + 1)
    )
    return _bpe_chain_sql(n) + "\n" + unions


def _bpe_tokenize_oracle(n: int) -> str:
    return (
        _bpe_chain_sql(n)
        + f""",
map AS (
  SELECT token,
         CAST(len(string_split(s, '  ')) - 2 AS BIGINT) AS pc,
         CAST(list_aggregate(
           list_transform(
             string_split(s, '  ')[2:len(string_split(s, '  ')) - 1],
             x -> length(x)),
           'max') AS BIGINT) AS ml
  FROM s{n}
),
dt AS (
  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS token
  FROM documents
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(COALESCE(map.pc, 1)) AS BIGINT) AS n_pieces,
       CAST(MAX(COALESCE(map.ml, length(dt.token))) AS BIGINT)
         AS max_piece_len
FROM dt LEFT JOIN map USING (token)
GROUP BY doc_id
"""
    )


# ---------------------------------------------------------------------------
# Unigram-LM (SentencePiece-style) tokenizer induction — the EM-prune
# counterpart to the BPE trainer: seed a piece inventory from frequent
# substrings, segment the corpus with the current inventory (E-step),
# recount piece usage (M-step), prune the weakest third, repeat.
# ---------------------------------------------------------------------------

UNIGRAM_MAX_PIECE = 6  # seed substrings up to this length
UNIGRAM_SEED_K = 24  # seed inventory size (multi-char pieces)
UNIGRAM_ROUNDS = 3  # EM-prune rounds


def _unigram_spaced(piece: str) -> tuple[str, str]:
    """(search, replacement) for merging a whole char run into ``piece``
    on the double-space-delimited symbol form — the same literal-replace
    mechanics (left-to-right, non-overlapping, boundary-exact) the BPE
    trainer proved portable across Spark and DuckDB."""
    return f" {'  '.join(piece)} ", f" {piece} "


def _unigram_fit(spark: SparkSession, sf_dir: str) -> list:
    """Train the unigram inventory; returns [(piece, count)] in final
    priority order.  Determinism contract: ALL scores are exact integer
    corpus counts; segmentation is greedy by inventory priority
    (count DESC, piece ASC — the MAP-approximation of unigram-LM
    inference, WordPiece-style), applied as chained literal replaces
    over the char-spaced DISTINCT-token table.

    Scale shape (the subword-nmt / dictionary-apply discipline): the
    corpus is scanned ONCE into the vocabulary-sized (token, freq)
    relation; seeding is one substring-explode aggregate over it; each
    EM round is O(inventory) narrow column rewrites plus one
    vocabulary-sized count — the only driver-side state is the piece
    inventory itself (<= {UNIGRAM_SEED_K} rows by construction), the
    same bounded-collect contract as the BPE trainer's per-round
    argmax."""
    tok = _bpe_token_base(spark, sf_dir)
    # seed: every substring of length 2..MAX_PIECE, weighted by token
    # frequency (a substring occurring twice in one token counts twice)
    subs = tok.select(
        "freq",
        F.explode(
            F.expr(
                f"flatten(transform("
                f" sequence(2, least(length(token), {UNIGRAM_MAX_PIECE})),"
                f" l -> transform(sequence(1, length(token) - l + 1),"
                f"      i -> substring(token, i, l))))"
            )
        ).alias("piece"),
    )
    seed = (
        subs.groupBy("piece")
        .agg(F.sum("freq").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("piece"))
        .limit(UNIGRAM_SEED_K)
        .collect()
    )
    vocab = [(r["piece"], int(r["cnt"])) for r in seed]
    for _ in range(UNIGRAM_ROUNDS):
        pieces = [p for p, _ in vocab]  # already in priority order
        s = F.concat(F.lit("  "), F.regexp_replace("token", "(.)", "$1  "))
        for p in pieces:
            search, repl = _unigram_spaced(p)
            s = F.replace(s, F.lit(search), F.lit(repl))
        seg = tok.select("freq", s.alias("s"))
        counts = {
            r["piece"]: int(r["cnt"])
            for r in seg.select(
                "freq", F.explode(F.split("s", "  ")).alias("piece")
            )
            .filter(F.length("piece") >= 2)
            .groupBy("piece")
            .agg(F.sum("freq").alias("cnt"))
            .collect()
        }
        rescored = sorted(
            ((p, counts.get(p, 0)) for p in pieces),
            key=lambda t: (-t[1], t[0]),
        )
        keep = (2 * len(rescored) + 2) // 3  # prune the weakest third
        vocab = rescored[:keep]
    return vocab


_UNIGRAM_CACHE: dict[str, list] = {}


def _unigram_vocab(spark: SparkSession, sf_dir: str) -> list:
    if sf_dir not in _UNIGRAM_CACHE:
        _UNIGRAM_CACHE[sf_dir] = _unigram_fit(spark, sf_dir)
    return _UNIGRAM_CACHE[sf_dir]


def q_unigram_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer training (Kudo 2018 / SentencePiece, under
    the integer-exact greedy-priority segmenter documented in
    :func:`_unigram_fit`): {UNIGRAM_ROUNDS} rounds of segment → recount
    → prune-bottom-third over a {UNIGRAM_SEED_K}-piece substring seed.
    Emits the surviving inventory with final usage counts.  Oracle: the
    whole loop replayed as unrolled chained SQL (the text_bpe_train
    pattern) — seeding, each round's fold-applied segmentation
    (list_reduce over the priority-ordered inventory), recount, and
    prune, bit-identically."""
    vocab = _unigram_vocab(spark, sf_dir)
    return spark.createDataFrame(
        [(i + 1, p, c) for i, (p, c) in enumerate(vocab)],
        "piece_rank int, piece string, piece_count bigint",
    )


def q_unigram_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode the corpus with the TRAINED unigram inventory — the apply
    half (train once, encode 100 TB): per document, word count, piece
    count, longest piece.  Dictionary-apply shape: the final inventory
    segments the DISTINCT-token table once (O(vocab) chained replaces),
    and the corpus is encoded by a BROADCAST join against that mapping —
    no per-document segmentation work."""
    vocab = _unigram_vocab(spark, sf_dir)
    tok = _bpe_token_base(spark, sf_dir)
    s = F.concat(F.lit("  "), F.regexp_replace("token", "(.)", "$1  "))
    for p, _ in vocab:
        search, repl = _unigram_spaced(p)
        s = F.replace(s, F.lit(search), F.lit(repl))
    parts = F.split(s, "  ")
    pieces = F.slice(parts, 2, F.size(parts) - 2)
    mapping = tok.select(
        "token",
        F.size(pieces).alias("pc"),
        F.array_max(F.transform(pieces, F.length)).alias("ml"),
    )
    d = load_table(spark, sf_dir, "documents")
    toks = fan_out(d).select(
        "doc_id", F.explode(tokens_col(F.col("text"))).alias("token")
    )
    enc = toks.join(F.broadcast(mapping), "token", "left")
    out = enc.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum(F.coalesce(F.col("pc"), F.lit(1))).alias("n_pieces"),
        F.max(F.coalesce(F.col("ml"), F.length("token")))
        .cast("bigint")
        .alias("max_piece_len"),
    )
    from spark_spotify.functions.checkpoint import stable_checkpoint

    return stable_checkpoint(out)


def _unigram_chain_sql(rounds: int) -> str:
    """The EM-prune loop unrolled into chained SQL: v{r} is the
    inventory after round r (v0 = the substring seed), seg{r} the
    segmentation it produced.  The fold over the priority-ordered
    inventory is DuckDB ``list_reduce`` with the char-spaced token
    prepended as the initial accumulator — the same literal replace as
    the Spark side, in the same order."""
    fold = (
        "list_reduce("
        "  list_prepend(s0.s, (SELECT COALESCE(list(piece ORDER BY cnt DESC, piece), []) FROM v{v})),"
        "  (acc, p) -> replace(acc,"
        "    ' ' || list_aggregate(string_split(p, ''), 'string_agg', '  ')"
        "        || ' ',"
        "    ' ' || p || ' '))"
    )
    sql = rf"""
WITH tok AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS freq
  FROM (SELECT unnest(string_split(trim(text), ' ')) AS token
        FROM documents)
  GROUP BY token HAVING length(token) >= 2
),
s0 AS (
  SELECT token, freq,
         '  ' || regexp_replace(token, '(.)', '\1  ', 'g') AS s
  FROM tok
),
sub1 AS (
  SELECT freq, token,
         unnest(generate_series(2, least(length(token),
                                         {UNIGRAM_MAX_PIECE}))) AS l
  FROM tok
),
sub2 AS (
  SELECT freq,
         substring(token, CAST(i AS INT), CAST(l AS INT)) AS piece
  FROM (SELECT freq, token, l,
               unnest(generate_series(1, length(token) - l + 1)) AS i
        FROM sub1)
),
v0 AS (
  SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt
  FROM sub2 GROUP BY piece
  ORDER BY cnt DESC, piece ASC LIMIT {UNIGRAM_SEED_K}
)"""
    for r in range(1, rounds + 1):
        sql += f""",
seg{r} AS (
  SELECT s0.freq, {fold.format(v=r - 1)} AS s
  FROM s0
),
cnt{r} AS (
  SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt
  FROM (SELECT freq, unnest(string_split(s, '  ')) AS piece FROM seg{r})
  WHERE length(piece) >= 2
  GROUP BY piece
),
v{r} AS (
  SELECT piece, cnt FROM (
    SELECT v.piece, CAST(COALESCE(c.cnt, 0) AS BIGINT) AS cnt,
           row_number() OVER (ORDER BY COALESCE(c.cnt, 0) DESC,
                              v.piece ASC) AS rn,
           COUNT(*) OVER () AS nv
    FROM v{r - 1} v LEFT JOIN cnt{r} c USING (piece)
  ) WHERE rn <= (2 * nv + 2) // 3
)"""
    return sql


def _unigram_train_oracle(rounds: int) -> str:
    return (
        _unigram_chain_sql(rounds)
        + f"""
SELECT CAST(row_number() OVER (ORDER BY cnt DESC, piece ASC) AS INT)
         AS piece_rank,
       piece, cnt AS piece_count
FROM v{rounds}
"""
    )


def _unigram_tokenize_oracle(rounds: int) -> str:
    return (
        _unigram_chain_sql(rounds)
        + f""",
segf AS (
  SELECT s0.token, {{}} AS s
  FROM s0
),
map AS (
  SELECT token,
         CAST(len(string_split(s, '  ')) - 2 AS BIGINT) AS pc,
         CAST(list_aggregate(
           list_transform(
             string_split(s, '  ')[2:len(string_split(s, '  ')) - 1],
             x -> length(x)),
           'max') AS BIGINT) AS ml
  FROM segf
),
dt AS (
  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS token
  FROM documents
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(COALESCE(map.pc, 1)) AS BIGINT) AS n_pieces,
       CAST(MAX(COALESCE(map.ml, length(dt.token))) AS BIGINT)
         AS max_piece_len
FROM dt LEFT JOIN map USING (token)
GROUP BY doc_id
""".format(
            "list_reduce("
            "  list_prepend(s0.s, (SELECT COALESCE(list(piece ORDER BY cnt DESC, piece), []) "
            f"FROM v{rounds})),"
            "  (acc, p) -> replace(acc,"
            "    ' ' || list_aggregate(string_split(p, ''), 'string_agg',"
            "           '  ') || ' ',"
            "    ' ' || p || ' '))"
        )
    )


QUERIES = {
    "text_bpe_merge_step": q_bpe_merge_step,
    "text_bpe_train": q_bpe_train,
    "text_bpe_tokenize": q_bpe_tokenize,
    "text_unigram_train": q_unigram_train,
    "text_unigram_tokenize": q_unigram_tokenize,
    "curate_pack_bpe": q_pack_bpe,
    "text_stats": q_text_stats,
    "text_lang_profile": q_lang_profile,
    "text_dedup_exact": q_dedup_exact,
    "dedup_paragraph": q_dedup_paragraph,
    "dedup_substring": q_dedup_substring,
    "text_fingerprint": q_text_fingerprint,
    "text_token_regex": q_text_token_regex,
    "text_pii_scan": q_pii_scan,
    "text_pii_redact": q_pii_redact,
    "text_repetition": q_repetition,
    "text_quality_gate": q_quality_gate,
    "text_vocab_build": q_vocab_build,
    "text_unigram_logprob": q_unigram_logprob,
    "text_tfidf_topk": q_tfidf_topk,
    "text_bigram_logprob": q_bigram_logprob,
    "text_collocation_pmi": q_collocation_pmi,
    "text_char_entropy": q_char_entropy,
    "text_bm25_topk": q_bm25_topk,
    "text_quality_lr": q_quality_lr,
}

ORACLE["text_bpe_train"] = _bpe_train_oracle(BPE_TRAIN_MERGES)
ORACLE["text_bpe_tokenize"] = _bpe_tokenize_oracle(BPE_TRAIN_MERGES)
ORACLE["curate_pack_bpe"] = _bpe_pack_oracle(BPE_TRAIN_MERGES)
ORACLE["text_unigram_train"] = _unigram_train_oracle(UNIGRAM_ROUNDS)
ORACLE["text_unigram_tokenize"] = _unigram_tokenize_oracle(UNIGRAM_ROUNDS)
