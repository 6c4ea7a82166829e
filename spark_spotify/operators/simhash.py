"""SimHash near-duplicate detection (training-data dedup family).

32-bit SimHash in three fully-codegen'd stages:

1. token hash: explode whitespace tokens; each token's hash is the leading
   32 bits of md5(token) parsed with ``conv(hex, 16, 10)`` — one JVM hash +
   one parse per token, whole-stage codegen throughout;
2. bit-count aggregation: ``SUM(shiftright(v, b) & 1)`` for each of the 32
   bit positions in a single groupBy(doc_id) — Catalyst's partial (map-side)
   aggregation collapses the exploded tokens to one 32-counter row per doc
   *before* the shuffle, so shuffle volume is signature-sized, not
   token-sized;  bit b of the signature is then 1 iff at least half the
   tokens set it (the classic sum-of-±1 >= 0 majority rule);
3. banding + verify: the 32 bits split into 4 bytes; documents sharing any
   byte at the same position become candidates — by pigeonhole this finds
   every pair within Hamming distance 3 — and ``bit_count(a XOR b)``
   verifies exactly, filtered at HAMMING_MAX.

Deliberately explode+groupBy rather than per-row array folds: Spark's
higher-order lambda functions are codegen-incompatible (interpreted, ~100×
slower here), while exploded conditional sums stay in WholeStageCodegen and
vectorize.  The one shuffle it introduces carries only the partial
aggregates.

Every primitive (md5, conv-from-hex, shifts, bit_count) computes identically
in DuckDB, so the whole pipeline is oracle-checkable.

Reference parity note: the reference has no near-dup operator (its only
dedup is exact-key upserts, daily_etl_pipeline.py:154,272-275); this is a
BASELINE.json training-data extension.

Scale: stage 1-2 is scan + partial agg (one signature-sized shuffle);
stage 3 shuffles 4 rows/doc keyed by (band, byte) — bounded fan-out,
uniform keys; verify touches candidate pairs only.  No O(N²) stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_spotify.sources.tables import fan_out
from spark_spotify.functions.checkpoint import stable_checkpoint
from spark_spotify.functions.text import tokens_col

N_BITS = 32
N_BANDS = 4  # 8 bits per band -> catches all pairs with hamming <= 3
BAND_WIDTH = N_BITS // N_BANDS
HAMMING_MAX = 3


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """doc_id -> 32-bit SimHash (bigint) of whitespace tokens."""
    tok = fan_out(docs).select(
        "doc_id",
        F.explode(tokens_col(F.col("text"))).alias("tok"),
    )
    v = F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("bigint")
    counts = tok.select("doc_id", v.alias("v")).groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(F.shiftright(F.col("v"), b).bitwiseAND(F.lit(1))).alias(
                f"c{b}"
            )
            for b in range(N_BITS)
        ],
    )
    simhash = sum(
        F.when(
            F.col(f"c{b}") * 2 >= F.col("n"), F.lit(2**b).cast("bigint")
        ).otherwise(F.lit(0).cast("bigint"))
        for b in range(N_BITS)
    )
    return counts.select("doc_id", simhash.alias("simhash"))


def simhash_near_dups(docs: DataFrame) -> DataFrame:
    """doc pairs within HAMMING_MAX bits: signature scan -> byte-band
    candidate join -> exact Hamming verify.

    The band pigeonhole (any pair within 3 bits shares a whole band) is
    exhaustive per bucket; buckets larger than
    ``dedup.MAX_BAND_BUCKET`` are dropped first (bounded-worst-case LSH —
    see ``dedup.over_full_buckets``), trading recall inside degenerate
    boilerplate clusters for a candidate join that can never go
    quadratic.

    Signatures are materialized ONCE via ``stable_checkpoint`` so the
    scan/agg stage runs once across its three consumers (the bucket-cap
    count and the two sides of the band self-join).  A columnar
    ``persist`` was measured ~15% slower end-to-end at sf0.1 (minima
    2.38 s vs 2.01 s over three alternating same-session pairs): the
    cache build pays per-batch compression for a relation that is only
    ever read back in full, while the checkpoint's raw block write is
    cheaper and truncates lineage for free.  (At warehouse scale this
    intermediate is a materialized Parquet table maintained
    incrementally either way.)"""
    from spark_spotify.operators.dedup import band_self_join

    sh = stable_checkpoint(simhash_signatures(docs))
    pairs = band_self_join(
        sh.select(
            "doc_id",
            "simhash",
            F.posexplode(
                F.array(
                    *[
                        F.shiftright(F.col("simhash"), band * BAND_WIDTH)
                        .bitwiseAND(F.lit(2**BAND_WIDTH - 1))
                        .cast("int")
                        for band in range(N_BANDS)
                    ]
                )
            ).alias("band", "band_val"),
        )
    )
    hamming = F.bit_count(
        F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))
    ).cast("int")
    # the verified pair set is output-sized; materializing it here means
    # nothing from the drill stays resident in the session (checkpointed
    # blocks are reclaimed once the DataFrame is GC'd — session.py's
    # cleanCheckpoints conf)
    return (
        pairs.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= HAMMING_MAX)
        .transform(stable_checkpoint)
    )
