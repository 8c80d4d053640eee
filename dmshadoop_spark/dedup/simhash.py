"""SimHash near-dup detection, expression-only (SURVEY.md §2.12 X2).

64-bit SimHash: each token votes its xxhash64 bit pattern (+1 for set bits,
-1 for clear); the sign of each bit's vote total forms the fingerprint.
Near-dups differ in few bits (small Hamming distance). Candidate pairing
uses the pigeonhole trick: split the 64 bits into k chunks; two fingerprints
within Hamming distance k-1 must share at least one exact chunk, so an
equi-join on (chunk_idx, chunk_value) finds all candidates with one shuffle
— no pairwise comparison of the corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from dmshadoop_spark.catalog import widen
from dmshadoop_spark.functions.text import tokenize


def token_hashes(tokens_col: Column | str, seed: int = 42) -> Column:
    """array<bigint> of per-token xxhash64 values — materialize this with a
    ``select`` before folding bits (see the shingles() performance contract
    in functions.text: the 64 bit-folds each re-reference the array)."""
    c = F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col
    return F.transform(c, lambda t: F.xxhash64(t, F.lit(seed)))


def simhash(hashes_col: Column | str) -> Column:
    """64-bit SimHash as BIGINT from a **materialized** token-hash array
    (token_hashes). Bit votes folded per position."""
    hashes = F.col(hashes_col) if isinstance(hashes_col, str) else hashes_col
    # votes[j] = sum over tokens of (bit_j ? +1 : -1); bit j of the result
    # is set when votes[j] > 0. Bit positions are Python ints (shift
    # builtins take literal bit counts), so this unrolls to 64 independent
    # folds — all inside codegen.
    def vote(j: int) -> Column:
        return F.aggregate(
            hashes,
            F.lit(0).cast("long"),
            lambda acc, h: acc + (F.shiftrightunsigned(h, j) % 2) * 2 - 1,
        )

    out = F.lit(0).cast("long")
    for j in range(64):
        weight = F.lit(-9223372036854775808) if j == 63 else F.lit(1 << j).cast("long")
        out = out + F.when(vote(j) > 0, weight).otherwise(F.lit(0).cast("long"))
    return out


def simhash_df(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: int = 42,
) -> DataFrame:
    """(doc_id, sh) fingerprints via the codegen-friendly shape: explode the
    token stream and compute the 64 bit votes as compiled SUM aggregates
    (partial aggregation collapses each partition's tokens before the
    shuffle on doc_id), then fold the votes into the BIGINT fingerprint in
    one projection. ~5× faster than the interpreted per-row
    ``aggregate``-fold (simhash()) and strictly better at scale: the only
    wide op is a partial-agg'd groupBy on doc_id.
    """
    tok = (
        widen(docs)
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode_outer(tokenize(F.col(text_col))).alias("term"),
        )
        .filter(F.col("term").isNotNull())
        .select("doc_id", F.xxhash64("term", F.lit(seed)).alias("h"))
    )
    votes = tok.groupBy("doc_id").agg(
        *[
            F.sum(
                F.shiftrightunsigned(F.col("h"), j).bitwiseAND(F.lit(1)) * 2 - 1
            ).alias(f"v{j}")
            for j in range(64)
        ]
    )
    out = F.lit(0).cast("long")
    for j in range(64):
        weight = (
            F.lit(-9223372036854775808)
            if j == 63
            else F.lit(1 << j).cast("long")
        )
        out = out + F.when(F.col(f"v{j}") > 0, weight).otherwise(
            F.lit(0).cast("long")
        )
    return votes.select("doc_id", out.alias("sh"))


def simhash_candidate_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunks: int = 4,
    seed: int = 42,
) -> DataFrame:
    """(doc_a, doc_b, hamming) for pairs sharing ≥1 of `chunks` exact
    chunks (catches all pairs with hamming ≤ chunks-1).

    Candidate generation is the shared Hamming-banding construction
    (dedup/hamming.py, also under perceptual image-hash dedup): group
    fingerprints by (chunk_idx, chunk_val), stream each bucket's pairs
    through ``components.pairs_within``, dedupe, cap degenerate
    buckets. One fingerprint computation, two uniform
    shuffles — no self-join recompute."""
    from dmshadoop_spark.dedup.hamming import hamming_candidate_pairs

    base = simhash_df(docs, id_col, text_col, seed)
    return hamming_candidate_pairs(base, "doc_id", "sh", chunks).select(
        F.col("doc_id_a").alias("doc_a"),
        F.col("doc_id_b").alias("doc_b"),
        "hamming",
    )
