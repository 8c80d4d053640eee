"""Generic Hamming-banded candidate pairing over 64-bit fingerprints.

The pigeonhole construction shared by SimHash text dedup and perceptual
image-hash dedup: split the 64 bits into ``chunks`` equal slices; two
fingerprints within Hamming distance ``chunks−1`` must agree on at least
one slice, so an equi-join on (chunk_idx, chunk_val) finds every such
pair with ONE uniform shuffle — no corpus self-join. Each bucket's
posting list streams its pairs through ``components.pairs_within`` (two
explodes, ``a < b``); each id pair is reported once, with the least
Hamming distance of its candidate fingerprint pairs (an id may come with
several fingerprints, as a video with one per frame); ``max_bucket`` caps
degenerate buckets (the 100 TB skew guard, same policy as
minhash_lsh_pairs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dmshadoop_spark.dedup.components import pairs_within


def hamming_candidate_pairs(
    fps: DataFrame,
    id_col: str,
    fp_col: str,
    chunks: int = 4,
    max_bucket: int = 100_000,
) -> DataFrame:
    """(id_a, id_b, hamming), id_a < id_b, for the ids with fingerprints
    sharing ≥1 of ``chunks`` exact 64/chunks-bit slices (catches ALL
    pairs with hamming ≤ chunks−1; wider pairs appear only if they
    happen to agree on a slice). An id is never paired with itself, and
    an id pair is reported once, with the least hamming over the
    fingerprint pairs that share a slice."""
    width = 64 // chunks
    chunk_structs = F.array(
        *[
            F.struct(
                F.lit(i).alias("chunk_idx"),
                # Mask, not %: Spark's % is Java-signed, so chunk 0 of a
                # negative fingerprint (sign bit set — ~half of dhash/
                # ahash values) came out negative and missed its bucket,
                # breaking the "catches ALL pairs ≤ chunks−1" guarantee
                # (round-4 ADVICE). bitwiseAND is sign-oblivious.
                (
                    F.shiftrightunsigned(F.col(fp_col), i * width).bitwiseAND(
                        F.lit((1 << width) - 1).cast("long")
                    )
                ).alias("chunk_val"),
            )
            for i in range(chunks)
        ]
    )
    chunked = fps.select(
        F.struct(id_col, fp_col).alias("d"),
        F.explode(chunk_structs).alias("c"),
    ).select("d", "c.chunk_idx", "c.chunk_val")

    buckets = (
        chunked.groupBy("chunk_idx", "chunk_val")
        .agg(F.collect_list("d").alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= max_bucket))
    )
    # a < b orders the (id, fp) structs, so an id with two fingerprints
    # pairs with itself there: those pairs are dropped here
    cand = pairs_within(buckets, "ids").filter(
        F.col(f"a.{id_col}") != F.col(f"b.{id_col}")
    )
    return cand.groupBy(
        F.col(f"a.{id_col}").alias(f"{id_col}_a"),
        F.col(f"b.{id_col}").alias(f"{id_col}_b"),
    ).agg(
        F.min(
            F.bit_count(F.col(f"a.{fp_col}").bitwiseXOR(F.col(f"b.{fp_col}")))
        ).alias("hamming")
    )
