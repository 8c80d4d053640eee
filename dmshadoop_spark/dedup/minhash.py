"""MinHash + banded LSH near-dup detection, expression-only.

Pipeline (the standard shingle→minhash→band→bucket-join decomposition):
  1. distinct n-gram shingles per doc (functions.text.shingles);
  2. per-permutation min of xxhash64(shingle, seed_i) — the whole signature
     is computed inside one `transform` over a seed array, entirely in
     codegen (no ml.feature dependency, bit-deterministic across runs);
  3. split the signature into b bands of r rows; hash each band;
  4. group by (band_idx, band_hash): docs sharing any band bucket are
     candidate pairs;
  5. verify candidates with exact Jaccard over shingle sets.

Scale notes: the shuffle key is (band_idx, band_hash) — uniform by
construction. Bucket skew (a degenerate shingle set shared by millions of
docs) is capped by `max_bucket`: oversized buckets are dropped and counted,
mirroring what production dedup pipelines (e.g. the MinHashLSH described in
the Gopher/RefinedWeb papers) do. Candidate verification touches only the
candidate pairs, never the full cross product.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from dmshadoop_spark.catalog import widen
from dmshadoop_spark.dedup.components import pairs_within
from dmshadoop_spark.functions.text import shingles, tokenize


def minhash_signature(
    shingles_col, num_perm: int = 64, seed: int = 42
):
    """array<bigint> MinHash signature from a **materialized** shingle-array
    column (name or plain reference — see the shingles() performance
    contract: an inline expression here would be re-evaluated once per
    permutation)."""
    sh = F.col(shingles_col) if isinstance(shingles_col, str) else shingles_col
    seeds = F.array(*[F.lit(seed * 1_000_003 + i) for i in range(num_perm)])
    # min over shingles of xxhash64(shingle, seed_i); empty shingle set → NULL
    return F.transform(
        seeds,
        lambda s: F.array_min(
            F.transform(sh, lambda g: F.xxhash64(g, s))
        ),
    )


def minhash_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    seed: int = 42,
) -> tuple[DataFrame, DataFrame]:
    """Materializable LSH index for a corpus (or a delta batch of one):
    ``(bands_df, shingles_df)`` where bands_df = (doc_id, band_idx,
    band_hash) and shingles_df = (doc_id, sh). Persist both as tables and
    near-dup maintenance at ingest becomes O(index + delta) — new batches
    never re-read or re-shingle the existing corpus text
    (minhash_incremental_pairs)."""
    rows = num_perm // bands
    assert bands * rows == num_perm, "bands must divide num_perm"

    # Non-empty-shingle filter expressed on the raw text (≥ n tokens ⇔ at
    # least one shingle): a `size("sh") > 0` filter here would be pushed
    # below the projection by PushDownPredicates with the whole shingle
    # expression substituted in — re-evaluating it per row in the slow
    # inlined shape. The token-count predicate is one cheap split at the
    # scan instead.
    base = (
        widen(docs).filter(F.size(tokenize(F.col(text_col))) >= shingle_n)
        .select(
            F.col(id_col).alias("doc_id"), tokenize(F.col(text_col)).alias("toks")
        )
        .select("doc_id", shingles("toks", shingle_n).alias("sh"))
        .select(
            "doc_id",
            "sh",
            minhash_signature("sh", num_perm, seed).alias("sig"),
        )
    )

    # band_idx → hash of the signature slice; explode to (doc, band, hash)
    band_ids = F.array(*[F.lit(i) for i in range(bands)])
    banded = base.select(
        "doc_id",
        F.explode_outer(
            F.transform(
                band_ids,
                lambda b: F.struct(
                    b.alias("band_idx"),
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice(F.col("sig"), b * rows + 1, rows),
                                lambda v: v.cast("string"),
                            ),
                        )
                    ).alias("band_hash"),
                ),
            )
        ).alias("band"),
    ).filter(F.col("band").isNotNull()).select(
        "doc_id", "band.band_idx", "band.band_hash"
    )
    return banded, base.select("doc_id", "sh")


def _verified_pairs_from_index(
    banded: DataFrame,
    shingle_store: DataFrame,
    threshold: float,
    max_bucket: int,
    restrict_to_ids: DataFrame | None = None,
) -> DataFrame:
    """Bucket-join candidates from index rows + exact-Jaccard verify.
    ``restrict_to_ids`` (a 1-column ``nid`` DataFrame) keeps only
    candidate pairs touching those ids BEFORE the verification joins —
    the incremental path pays shingle-set verification for new-doc pairs
    only."""
    buckets = banded.groupBy("band_idx", "band_hash").agg(
        F.collect_list("doc_id").alias("ids")
    )
    small = buckets.filter(
        (F.size("ids") > 1) & (F.size("ids") <= max_bucket)
    )
    pairs = pairs_within(small, "ids").select(
        F.col("a").alias("doc_a"), F.col("b").alias("doc_b")
    ).distinct()
    if restrict_to_ids is not None:
        ta = pairs.join(
            restrict_to_ids, pairs.doc_a == restrict_to_ids.nid, "left_semi"
        )
        tb = pairs.join(
            restrict_to_ids, pairs.doc_b == restrict_to_ids.nid, "left_semi"
        )
        pairs = ta.unionByName(tb).distinct()

    # exact-Jaccard verification on the candidates only
    sh_a = shingle_store.select(
        F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")
    )
    sh_b = shingle_store.select(
        F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")
    )
    return (
        pairs.join(sh_a, "doc_a")
        .join(sh_b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
                / F.size(F.array_union("sh_a", "sh_b")).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.5,
    seed: int = 42,
    max_bucket: int = 1000,
) -> DataFrame:
    """Candidate near-dup pairs with exact-Jaccard verification.

    Returns (doc_a, doc_b, jaccard) for pairs whose exact shingle Jaccard
    ≥ threshold, discovered through LSH banding (b bands of r = num_perm/b).
    """
    banded, shingle_store = minhash_index(
        docs, id_col, text_col, num_perm, bands, shingle_n, seed
    )
    return _verified_pairs_from_index(
        banded, shingle_store, threshold, max_bucket
    )


def minhash_incremental_pairs(
    index: tuple[DataFrame, DataFrame],
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.5,
    seed: int = 42,
    max_bucket: int = 1000,
) -> tuple[tuple[DataFrame, DataFrame], DataFrame]:
    """Dedup-at-ingest: near-dup pairs introduced by a NEW batch against
    an existing corpus, without re-reading the corpus text.

    ``index`` is (bands_df, shingles_df) from a prior minhash_index /
    incremental call (materialize them as tables between batches).
    Returns ((merged_bands, merged_shingles), pairs) where pairs holds
    every verified pair touching ≥1 new doc — old⋈old pairs were already
    reported when their batches arrived.

    Cost: signature/shingle work is delta-only; the bucket grouping
    shuffles index ROWS (bands × docs, ids only — no text, no shingles),
    and verification joins shingle sets for candidate pairs only. The
    bucket-size cap is evaluated on the MERGED bucket, so incremental and
    full-rebuild results agree exactly (pinned by test)."""
    old_bands, old_shingles = index
    new_bands, new_shingles = minhash_index(
        new_docs, id_col, text_col, num_perm, bands, shingle_n, seed
    )
    merged_bands = old_bands.unionByName(new_bands)
    merged_shingles = old_shingles.unionByName(new_shingles)
    new_ids = new_shingles.select(F.col("doc_id").alias("nid")).distinct()
    new_pairs = _verified_pairs_from_index(
        merged_bands,
        merged_shingles,
        threshold,
        max_bucket,
        restrict_to_ids=new_ids,
    )
    return (merged_bands, merged_shingles), new_pairs
