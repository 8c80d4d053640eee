"""Product quantization (PQ) ANN — the memory-compression scale path.

IVF (knn.py) shrinks the CANDIDATE SET; PQ shrinks the BYTES PER VECTOR:
each embedding is split into ``m`` subvectors and every subvector is
replaced by the id of its nearest centroid in a per-subspace codebook of
``2^nbits`` entries (Jégou, Douze, Schmid, "Product Quantization for
Nearest Neighbor Search", IEEE TPAMI 2011). A 64-dim float corpus row
(256 B) becomes ``m`` small ints + one stored norm — at m=8 that is a
~16-32× compression, which is what makes a 100 TB embedding corpus fit
the page cache of a 1000-executor cluster at all.

Search is ADC (asymmetric distance computation): the query stays exact;
per query a lookup table LUT[j][c] = q_subⱼ · codebook[j][c] is built
once (m·2^nbits dots), and scoring a corpus row is then just
``Σⱼ LUT[j][code[j]]`` — m array lookups instead of a dim-length dot.
The scoring expression is pure Spark SQL higher-order functions
(zip_with + element_at + aggregate), so the ADC scan runs inside
whole-stage codegen over the CODES ONLY: full vectors are touched twice
ever — once at encode time, once for the exact rerank of the top
ADC candidates (a broadcast point-lookup join, never a corpus shuffle).

Training reuses the distributed Lloyd iterations of similarity/kmeans.py
per subspace (m bounded jobs, offline); everything downstream is
deterministic: seeded hash-ordered init, first-occurrence argmin,
float64 math, unique-key tie-breaks in the top-k.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from dmshadoop_spark.catalog import widen
from dmshadoop_spark.functions.vectors import as_double, dot, norm_sq


def train_pq_codebooks(
    df: DataFrame,
    vec_col: str = "embedding",
    m: int = 8,
    nbits: int = 4,
    seed: int = 42,
    n_iter: int = 3,
    id_col: str | None = None,
) -> np.ndarray:
    """Train per-subspace codebooks → (m, 2^nbits, dim/m) float64.

    Subspace j is vector positions [j·dsub, (j+1)·dsub); each codebook is
    Lloyd-refined from the same deterministic hash-ordered init the IVF
    quantizer uses (kmeans_centroids, seeded per subspace). ``dim`` must
    divide evenly by ``m`` (standard PQ restriction)."""
    from dmshadoop_spark.similarity.kmeans import kmeans_centroids

    # Probe the dimension from a non-NULL vector: filtering first keeps
    # the diagnostic deterministic (a corpus with a few NULL embeddings
    # must not randomly abort depending on which row limit(1) samples).
    first = (
        df.select(as_double(vec_col).alias("_v"))
        .filter(F.col("_v").isNotNull())
        .limit(1)
        .collect()
    )
    if not first:
        raise ValueError(
            "PQ training needs at least one non-NULL vector in the corpus"
        )
    dim = len(first[0]["_v"])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub, ksub = dim // m, 1 << nbits

    def train_subspace(j: int) -> np.ndarray:
        # NULL vectors are excluded subspace-by-subspace too: kmeans init
        # samples rows by hashed id, so an unfiltered NULL row could be
        # picked as a seed centroid and abort training.
        sub = df.filter(F.col(vec_col).isNotNull()).select(
            *([F.col(id_col)] if id_col else []),
            F.slice(as_double(vec_col), j * dsub + 1, dsub).alias("_sub"),
        )
        return kmeans_centroids(
            sub,
            vec_col="_sub",
            k=ksub,
            n_iter=n_iter,
            seed=seed + j,
            id_col=id_col,
        )

    # The m subspace trainings are INDEPENDENT jobs (disjoint vector
    # slices, per-subspace seeds), and each Lloyd round is driver-
    # synchronized — so sequential training leaves the cluster idle
    # during every round's plan/collect turnaround. Overlap them from a
    # small thread pool (guide §2.6: concurrent jobs back-fill each
    # other's stragglers and driver gaps); safe since round 13 removed
    # the Lloyd loop's session-conf override (kmeans_centroids touches
    # no shared state). Results are deterministic and identical to the
    # sequential loop — each subspace's training is self-contained and
    # order never matters for np.stack's indexing. Measured on the
    # x5_pq_recall shape (8 subspaces, k=256, sf0.01): 14.9 s
    # sequential → 8.0 s pooled(4), centroids bit-identical. 4 workers
    # is plenty: enough to fill driver gaps, not so many that init
    # sort-limits fight for cores.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(4, m)) as pool:
        books = list(pool.map(train_subspace, range(m)))
    return np.stack(books)


def _encode_udf(spark: SparkSession, codebooks: np.ndarray):
    """pandas_udf: vector → array<int> of per-subspace nearest-centroid
    ids. Codebooks ship once per executor as a broadcast; per Arrow batch
    each subspace is one fixed-order einsum distance computation + argmin
    (ties → first occurrence, matching assign.py's convention;
    deliberately BLAS-free so codes are thread-environment-invariant)."""
    bc = spark.sparkContext.broadcast(codebooks)

    @F.pandas_udf("array<int>")
    def encode(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        books = bc.value  # (m, ksub, dsub)
        m, _, dsub = books.shape
        for s in it:
            if len(s) == 0:  # empty Arrow batch → 1-D array, guard it
                yield pd.Series([], dtype=object)
                continue
            X = np.array(list(s), dtype=np.float64)  # (n, dim)
            codes = np.empty((X.shape[0], m), dtype=np.int32)
            for j in range(m):
                sub = X[:, j * dsub : (j + 1) * dsub]
                # ‖x−c‖² = ‖x‖² − 2xCᵀ + ‖c‖²; ‖x‖² constant per row →
                # argmin over (−2xCᵀ + ‖c‖²)
                # einsum optimize=False: BLAS-free fixed-order contraction
                # (thread-invariant argmin — see assign._dist_chunks note)
                d = -2.0 * np.einsum(
                    "nd,kd->nk", sub, books[j], optimize=False
                ) + (books[j] ** 2).sum(axis=1)
                codes[:, j] = np.argmin(d, axis=1)
            yield pd.Series(list(codes))

    return encode


def _lut_udf(spark: SparkSession, codebooks: np.ndarray):
    """pandas_udf: query vector → flat ADC lookup table (m·ksub doubles),
    LUT[j·ksub + c] = q_subⱼ · codebook[j][c]."""
    bc = spark.sparkContext.broadcast(codebooks)

    @F.pandas_udf("array<double>")
    def lut(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        books = bc.value
        m, ksub, dsub = books.shape
        for s in it:
            if len(s) == 0:
                yield pd.Series([], dtype=object)
                continue
            Q = np.array(list(s), dtype=np.float64)
            out = np.empty((Q.shape[0], m * ksub), dtype=np.float64)
            for j in range(m):
                sub = Q[:, j * dsub : (j + 1) * dsub]
                out[:, j * ksub : (j + 1) * ksub] = np.einsum(
                    "nd,kd->nk", sub, books[j], optimize=False
                )
            yield pd.Series(list(out))

    return lut


def pq_encode(
    df: DataFrame,
    codebooks: np.ndarray,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, pq_code array<int>, pq_norm double) — the compressed index.
    The stored norm is the EXACT vector norm (computed JVM-side), so
    approximate cosines use the true denominator and only the numerator
    is quantized."""
    spark = df.sparkSession
    encode = _encode_udf(spark, codebooks)
    staged = widen(df).select(
        F.col(id_col), as_double(vec_col).alias("_v")
    ).filter(F.col("_v").isNotNull())
    return staged.select(
        id_col,
        encode(F.col("_v")).alias("pq_code"),
        F.sqrt(norm_sq(F.col("_v"))).alias("pq_norm"),
    )


def _adc_score(ksub: int, m: int):
    """ADC numerator as a codegen'd SQL expression over (pq_code, _lut):
    Σⱼ LUT[j·ksub + code[j]] — zip_with pairs each code with its subspace
    index, element_at reads the flat LUT (1-based)."""
    terms = F.zip_with(
        F.col("pq_code"),
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda c, j: F.element_at(
            F.col("_lut"), (j * ksub + c + 1).cast("int")
        ),
    )
    return F.aggregate(
        terms, F.lit(0.0), lambda acc, x: acc + x
    )


def _staged_corpus(corpus: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(neighbor_id, _v double-array, _nv exact norm) — the staging both
    ANN entry points and the rerank share."""
    return (
        widen(corpus)
        .select(
            F.col(id_col).alias("neighbor_id"), as_double(vec_col).alias("_v")
        )
        # NULL embeddings are droppable, not scoreable: brute_force_knn
        # yields NULL cosines for them and they can never enter a top-k,
        # so the PQ family excludes them up front rather than letting
        # _encode_udf/_residual_udf crash on np.array(list(NULL)).
        .filter(F.col("_v").isNotNull())
        .select("neighbor_id", "_v", F.sqrt(norm_sq(F.col("_v"))).alias("_nv"))
    )


def _exact_rerank(
    corpus2: DataFrame,
    q2: DataFrame,
    scored: DataFrame,
    query_id_col: str,
    k: int,
    rerank: int,
):
    """Common tail of pq_knn/ivfpq_knn: top k·rerank by approximate
    score, broadcast the candidate ids back onto the corpus for exact
    cosines (a point-lookup join — one extra corpus scan, zero corpus
    shuffles), final exact top-k. ``rerank<=0`` returns the approximate
    ranking directly."""
    from dmshadoop_spark.similarity.knn import _rank_topk

    if rerank <= 0:
        return _rank_topk(scored, query_id_col, k)
    cand = _rank_topk(scored, query_id_col, k * rerank).select(
        query_id_col, "neighbor_id"
    )
    exact = (
        corpus2.join(broadcast(cand), "neighbor_id")
        .join(broadcast(q2), query_id_col)
        .select(
            F.col(query_id_col),
            "neighbor_id",
            (
                dot(F.col("_qv"), F.col("_v"))
                / (F.col("_nq") * F.col("_nv"))
            ).alias("cosine"),
        )
    )
    return _rank_topk(exact, query_id_col, k)


def _residual_udf(spark: SparkSession, cents: np.ndarray):
    """pandas_udf: (vector, 1-based cell) → vector − centroid[cell]."""
    bc = spark.sparkContext.broadcast(
        np.ascontiguousarray(cents, dtype=np.float64)
    )

    @F.pandas_udf("array<double>")
    def residual(v: pd.Series, cell: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        c = bc.value
        X = np.array(list(v), dtype=np.float64)
        R = X - c[cell.to_numpy(dtype=np.int64) - 1]
        return pd.Series(list(R))

    return residual


def _qdotc_udf(spark: SparkSession, cents: np.ndarray):
    """pandas_udf: (query vector, 1-based cell) → q · centroid[cell] —
    the coarse term of the IVF-PQ score decomposition."""
    bc = spark.sparkContext.broadcast(
        np.ascontiguousarray(cents, dtype=np.float64)
    )

    @F.pandas_udf("double")
    def qdotc(v: pd.Series, cell: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=np.float64)
        c = bc.value
        Q = np.array(list(v), dtype=np.float64)
        picked = c[cell.to_numpy(dtype=np.int64) - 1]
        return pd.Series((Q * picked).sum(axis=1))

    return qdotc


def ivfpq_knn(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "q_emb",
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    m: int = 8,
    nbits: int = 4,
    rerank: int = 4,
    seed: int = 42,
    coarse_iters: int = 2,
    pq_iters: int = 2,
) -> DataFrame:
    """IVF-PQ — the standard billion-scale layout (FAISS IVFPQ): coarse
    cells cut CANDIDATES (only ``nprobe`` of ``n_centroids`` cells are
    scanned per query), PQ over the RESIDUAL x − c(x) cuts BYTES (the
    residual has far less variance than x, so the same codebook budget
    quantizes it much more accurately — the reason IVF-PQ beats flat PQ).

    Score decomposition: q·x ≈ q·c + q·r̂ where r̂ is the PQ-quantized
    residual — the q·c coarse term is one dot per (query, probed cell)
    and the q·r̂ term is the same codegen'd ADC fold as ``pq_knn``, with
    the LUT built from residual codebooks. The candidate join is an
    equi-join on the cell id (never a corpus shuffle — the broadcast side
    is queries × nprobe), candidates carry codes + stored norm only, and
    the exact rerank is the same broadcast point-lookup join."""
    from dmshadoop_spark.similarity.assign import (
        with_nearest_cell,
        with_probe_cells,
    )
    from dmshadoop_spark.similarity.kmeans import kmeans_centroids

    spark = corpus.sparkSession
    corpus2 = _staged_corpus(corpus, id_col, vec_col)
    cents = kmeans_centroids(
        corpus2,
        vec_col="_v",
        k=n_centroids,
        n_iter=coarse_iters,
        seed=seed,
        id_col="neighbor_id",
    )
    residual = _residual_udf(spark, cents)
    c_cells = with_nearest_cell(corpus2, "_v", cents, out_col="cell")
    c_resid = c_cells.withColumn("_r", residual(F.col("_v"), F.col("cell")))
    # Materialize the residual table once when the corpus is small
    # (round 13, guide §2.4/§5): train_pq_codebooks' m subspace
    # trainings AND the index encode below each consume c_resid, and
    # every consumer otherwise re-executes the scan → assign-fold →
    # residual-UDF subtree (m+1 corpus passes through the Python
    # boundary; measured 14.9 s → 8.7 s for the ivfpq4 construction at
    # sf0.01). Gated on the widen split estimate like the k-means loop
    # input: at scale the corpus already yields ≥ parallelism splits
    # and the re-scan behavior stays (no corpus-sized block pinned in
    # executor storage — the SCALE.md x39 accumulation class); the
    # materialized projection carries only the columns training and
    # encoding read.
    from dmshadoop_spark.catalog import _estimated_scan_splits
    from dmshadoop_spark.functions.checkpoint import stabilize

    splits = _estimated_scan_splits(c_resid)
    if splits is not None and splits < spark.sparkContext.defaultParallelism:
        c_resid = stabilize(
            c_resid.select("neighbor_id", "cell", "_r", "_nv")
        )
    codebooks = train_pq_codebooks(
        c_resid,
        vec_col="_r",
        m=m,
        nbits=nbits,
        seed=seed + 1000,
        n_iter=pq_iters,
        id_col="neighbor_id",
    )
    encode = _encode_udf(spark, codebooks)
    enc = c_resid.select(
        "neighbor_id",
        "cell",
        encode(F.col("_r")).alias("pq_code"),
        F.col("_nv").alias("pq_norm"),
    )
    m, ksub, _ = codebooks.shape

    lut = _lut_udf(spark, codebooks)
    qdotc = _qdotc_udf(spark, cents)
    # NULL query vectors are dropped, matching the corpus-side policy
    # (_staged_corpus): they can produce no ranked neighbors, and the
    # LUT/q·c pandas UDFs cannot vectorize a None row.
    q2 = queries.select(
        F.col(query_id_col), as_double(query_vec_col).alias("_qv")
    ).filter(F.col("_qv").isNotNull()).select(
        query_id_col, "_qv", F.sqrt(norm_sq(F.col("_qv"))).alias("_nq")
    )
    # LUT is cell-independent — compute it BEFORE the probe explode so
    # the pandas UDF runs once per query, not nprobe times (and the
    # broadcast carries one LUT copy per (query, cell) row regardless,
    # but the UDF work is 1/nprobe). Only q·c is per-(query, cell).
    q_probed = (
        with_probe_cells(q2, "_qv", cents, nprobe, out_col="_cells")
        .select(
            query_id_col,
            "_qv",
            "_nq",
            lut(F.col("_qv")).alias("_lut"),
            "_cells",
        )
        .select(
            query_id_col,
            "_qv",
            "_nq",
            "_lut",
            F.explode("_cells").alias("cell"),
        )
        .select(
            query_id_col,
            "_nq",
            "cell",
            "_lut",
            qdotc(F.col("_qv"), F.col("cell")).alias("_qc"),
        )
    )
    scored = enc.join(broadcast(q_probed), "cell").select(
        F.col(query_id_col),
        "neighbor_id",
        (
            (F.col("_qc") + _adc_score(ksub, m))
            / (F.col("_nq") * F.col("pq_norm"))
        ).alias("cosine"),
    )
    return _exact_rerank(corpus2, q2, scored, query_id_col, k, rerank)


def pq_knn(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "q_emb",
    k: int = 10,
    m: int = 8,
    nbits: int = 4,
    rerank: int = 4,
    seed: int = 42,
    train_iters: int = 3,
    codebooks: np.ndarray | None = None,
) -> DataFrame:
    """(query_id, neighbor_id, cosine) — PQ-ADC candidate scan + exact
    rerank of the top ``k·rerank`` per query.

    Plan shape: the ADC stage scans the compressed index (codes + norm,
    never vectors) against a broadcast query-LUT table entirely in
    whole-stage codegen; the rerank stage broadcast-joins the k·rerank
    candidate ids back to the corpus for exact cosines — one extra
    corpus scan, zero corpus shuffles. ``rerank=0`` returns raw ADC
    ranking (approximate cosine) without the second scan."""
    spark = corpus.sparkSession
    corpus2 = _staged_corpus(corpus, id_col, vec_col)
    if codebooks is None:
        codebooks = train_pq_codebooks(
            corpus2,
            vec_col="_v",
            m=m,
            nbits=nbits,
            seed=seed,
            n_iter=train_iters,
            id_col="neighbor_id",
        )
    m, ksub, _ = codebooks.shape
    enc = pq_encode(corpus2, codebooks, vec_col="_v", id_col="neighbor_id")

    lut = _lut_udf(spark, codebooks)
    # NULL query vectors are dropped (same policy as ivfpq_knn/_staged_corpus)
    q2 = queries.select(
        F.col(query_id_col), as_double(query_vec_col).alias("_qv")
    ).filter(F.col("_qv").isNotNull()).select(
        query_id_col,
        "_qv",
        F.sqrt(norm_sq(F.col("_qv"))).alias("_nq"),
    )
    q_lut = q2.select(
        query_id_col, "_nq", lut(F.col("_qv")).alias("_lut")
    )

    scored = enc.crossJoin(broadcast(q_lut)).select(
        F.col(query_id_col),
        "neighbor_id",
        (_adc_score(ksub, m) / (F.col("_nq") * F.col("pq_norm"))).alias(
            "cosine"
        ),
    )
    return _exact_rerank(corpus2, q2, scored, query_id_col, k, rerank)
