"""Centroid-cell assignment for the IVF family — one semantics, two
physical strategies picked by centroid count (round-3 VERDICT item 2).

* ``k <= LITERAL_MAX_CENTROIDS`` — centroids ride the plan as array
  literals; distance fold + argmin run inside whole-stage codegen, zero
  Python. The right shape for small quantizers: no Arrow hop, no
  broadcast bookkeeping.
* ``k > LITERAL_MAX_CENTROIDS`` — a production cell count (k ≈ √n:
  4k-64k cells × 768 dims) embedded as literals builds an O(k·dim)
  expression tree, and Catalyst plan size / codegen explode long before
  the data does. Instead the (k, dim) float64 matrix ships ONCE per
  executor as a SparkContext broadcast, and an Arrow-batched pandas_udf
  computes all row→centroid distances with one fixed-order einsum
  (``d² = ‖x‖² − 2·X·Cᵀ + ‖c‖²``) — O(1) plan size, vectorized math,
  and the only Python-boundary traffic is the vector column itself.

Tie-breaking matches between the paths: nearest-cell takes the FIRST
minimal cell (``array_position`` of the min / first-occurrence argmin),
probe ranking orders by (distance, cell) ascending (struct sort / stable
argsort). Cells are 1-based BIGINT in both.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

LITERAL_MAX_CENTROIDS = 256

# cap the (rows × k) distance-matrix intermediate per Arrow batch slice
_MAX_DIST_CELLS = 4_000_000


# one canonical renderer (round-13: the private copies drifted from the
# shared one on the non-finite guard — see functions/sqllit.sql_double)
from dmshadoop_spark.functions.sqllit import (  # noqa: E402
    sql_double as _sql_double,
    sql_double_array as _sql_double_array,
)


def _check_vec_col(vec_col: str) -> None:
    """Refuse a ``__``-prefixed vector column: those names are reserved
    for the lambda variables that ``_dist_arr`` renders."""
    if vec_col.startswith("__"):
        raise ValueError(
            f"vec_col {vec_col!r}: '__'-prefixed names are reserved for "
            "the rendered lambda variables"
        )


def _dist_arr(vec_col: str, cents: np.ndarray) -> Column:
    """Literal-path array of squared L2 distances to each centroid.

    Built as ONE SQL string through ONE ``F.expr`` call (round 12): the
    previous form created k·dim ``F.lit`` Column objects plus a
    zip_with/aggregate tree per centroid — each a py4j round trip, so
    merely CONSTRUCTING the expression cost hundreds of driver
    milliseconds per call (per Lloyd round, in the k-means loop). The
    parsed tree is the same aggregate(zip_with(...)) fold with the same
    doubles (repr round-trips exactly), so evaluation — and every
    pinned digest downstream — is bit-identical.

    Shape: ONE ``transform`` over the nested centroid-matrix literal
    rather than k separate aggregate expressions — the analyzer then
    resolves ONE lambda instead of k (at k=256 the k-fold form cost
    ~1.1 s of Catalyst analysis per Lloyd round; this form measured
    0.88 s analysis / 0.74 s full round vs 1.61, distances
    bit-identical — same zip_with/aggregate fold per cell, same
    evaluation order over the same doubles)."""
    # lambda variables named to be collision-proof (round-12 advice):
    # backticks do NOT prevent lambda-variable capture, so a vector
    # column literally named `c`/`x`/`acc` would be shadowed inside the
    # lambda body (zip_with(c, c, ...) computes all-zero distances and
    # silently assigns every row to cell 1). `__` names cannot collide:
    # with_nearest_cell/with_probe_cells reject them up front, on either
    # path, and so does the renderer itself.
    _check_vec_col(vec_col)
    mat = "array(" + ",".join(_sql_double_array(row) for row in cents) + ")"
    return F.expr(
        f"transform({mat}, __cent -> aggregate(zip_with(`{vec_col}`, __cent,"
        f"(__x,__y)->(__x-__y)*(__x-__y)), 0.0D, (__acc,__x)->__acc+__x))"
    )


def _dist_chunks(
    vecs: pd.Series, cents: np.ndarray
) -> Iterator[tuple[int, np.ndarray]]:
    """Yield (row_offset, (rows, k) squared-distance block) per bounded
    slice of the batch, via the matmul identity — never materializes the
    (rows, k, dim) cube."""
    k = len(cents)
    c_sq = (cents * cents).sum(axis=1)  # (k,)
    step = max(1, _MAX_DIST_CELLS // k)
    for lo in range(0, len(vecs), step):
        x = np.array(
            vecs.iloc[lo : lo + step].tolist(), dtype=np.float64
        )  # (rows, dim)
        # einsum optimize=False instead of `x @ cents.T`: BLAS GEMM's
        # float summation order follows the runtime thread count, and a
        # last-bit distance drift can flip a boundary argmin — the same
        # bistability class as the round-7 JPEG einsum fix. numpy's own
        # fixed-order loop is bit-identical in every environment.
        xc = np.einsum("nd,kd->nk", x, cents, optimize=False)
        d2 = (x * x).sum(axis=1)[:, None] - 2.0 * xc + c_sq[None, :]
        yield lo, d2


def with_nearest_cell(
    df: DataFrame,
    vec_col: str,
    cents: np.ndarray,
    out_col: str = "cell",
    vectorized: bool | None = None,
) -> DataFrame:
    """Append the 1-based id of the nearest centroid (first-min tie-break).

    ``vectorized`` overrides the k-threshold path pick: the literal
    path's zip_with/aggregate HOFs are CodegenFallback — INTERPRETED,
    boxed-double evaluation — so its per-row cost is k·dim interpreted
    ops; fine at k ≤ ~32, it dominates the wall clock by k ≈ 100 (the
    round-9 semdedup auto-k probe measured it). The einsum path is one
    vectorized contraction per Arrow batch, O(1) plan size. The two
    paths' float arithmetic differs (fold order vs matmul identity), so
    a near-tie argmin can land differently — callers with PINNED outputs
    must not flip paths (the default keeps today's threshold pick);
    callers that OWN their operating point (semdedup k="auto") opt in.

    A ``__``-prefixed ``vec_col`` is refused (ValueError) on both paths:
    the literal path renders ``__`` lambda variables."""
    _check_vec_col(vec_col)
    use_literal = (
        len(cents) <= LITERAL_MAX_CENTROIDS
        if vectorized is None
        else not vectorized
    )
    if use_literal:
        staged = df.withColumn("_d", _dist_arr(vec_col, cents))
        return staged.withColumn(
            out_col,
            F.array_position(F.col("_d"), F.array_min(F.col("_d"))),
        ).drop("_d")

    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(
        np.ascontiguousarray(cents, dtype=np.float64)
    )

    @F.pandas_udf("long")
    def nearest(v: pd.Series) -> pd.Series:
        out = np.empty(len(v), dtype=np.int64)
        for lo, d2 in _dist_chunks(v, bc.value):
            out[lo : lo + d2.shape[0]] = d2.argmin(axis=1) + 1
        return pd.Series(out)

    return df.withColumn(out_col, nearest(F.col(vec_col)))


def coarse_quantize(
    cents: np.ndarray, n_coarse: int | None = None, n_iter: int = 4
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Driver-side numpy Lloyd over the FINE centroid matrix — the
    coarse level of a two-level (IVF-style) assignment.

    The fine centroids are already driver state (k×dim — kmeans_centroids
    returns them), so quantizing THEM needs no Spark stage: k is at most
    a few million rows of dim doubles. Init is the deterministic strided
    prefix of the index order (no RNG — same reproducibility contract as
    kmeans_centroids' seeded-hash init); distances use the fixed-order
    einsum identity (BLAS-free, bit-stable — see _dist_chunks); empty
    coarse cells keep their previous centroid, matching the Spark Lloyd
    loop's rule.

    Returns ``(coarse_cents, perm, offs)``: the (C, dim) coarse centroid
    matrix; ``perm``, the fine-centroid indices sorted by (coarse cell,
    fine index) — stable, so within each cell fine ids ascend, which is
    what makes the two-level argmin reproduce the exact path's first-min
    tie-break; and ``offs`` (C+1,), cell c's members are
    ``perm[offs[c]:offs[c+1]]``.
    """
    k = len(cents)
    if n_coarse is None:
        n_coarse = max(1, int(np.ceil(np.sqrt(k))))
    n_coarse = min(n_coarse, k)
    stride = max(1, k // n_coarse)
    coarse = np.ascontiguousarray(cents[::stride][:n_coarse], dtype=np.float64)
    cents64 = np.ascontiguousarray(cents, dtype=np.float64)
    c_sq = (cents64 * cents64).sum(axis=1)

    def _assign_to(crs: np.ndarray) -> np.ndarray:
        # Chunked over fine-centroid rows (round-10: the unchunked
        # (k, C) distance block is k·√k doubles — 22 GB at k=2M — the
        # exact driver bound this function exists to avoid). Row
        # chunking is result-identical: each row's argmin is
        # independent; the arithmetic per row is the same fixed-order
        # einsum either way.
        crs_sq = (crs * crs).sum(axis=1)
        out = np.empty(k, dtype=np.int64)
        step = max(1, _MAX_DIST_CELLS // max(1, len(crs)))
        for lo in range(0, k, step):
            hi = min(lo + step, k)
            xc = np.einsum("nd,kd->nk", cents64[lo:hi], crs, optimize=False)
            d2 = c_sq[lo:hi, None] - 2.0 * xc + crs_sq[None, :]
            out[lo:hi] = d2.argmin(axis=1)
        return out

    assign = np.zeros(k, dtype=np.int64)
    for _ in range(n_iter + 1):  # final pass recomputes assign for the
        # returned coarse set (update may have moved centroids)
        assign = _assign_to(coarse)
        new = coarse.copy()
        for c in range(len(coarse)):
            members = cents64[assign == c]
            if len(members):
                new[c] = members.mean(axis=0)
        if np.array_equal(new, coarse):
            break
        coarse = new
    # final assignment must match the RETURNED coarse matrix
    assign = _assign_to(coarse)
    perm = np.argsort(assign, kind="stable")
    counts = np.bincount(assign, minlength=len(coarse))
    offs = np.zeros(len(coarse) + 1, dtype=np.int64)
    np.cumsum(counts, out=offs[1:])
    return coarse, perm.astype(np.int64), offs


def with_nearest_cell_coarse(
    df: DataFrame,
    vec_col: str,
    cents: np.ndarray,
    nprobe: int = 8,
    n_coarse: int | None = None,
    out_col: str = "cell",
) -> DataFrame:
    """Two-level (coarse-to-fine, IVF-style) nearest-cell assignment —
    the scale path for the one remaining O(n·k·d) full-corpus term when
    k is itself huge (bounded-cell-size SemDeDup at n=10⁹ ⇒ k=2M).

    Per row: rank the C ≈ √k coarse cells (fixed-order einsum, stable
    argsort), then search ONLY the fine centroids belonging to the
    ``nprobe`` nearest coarse cells. Cost per row falls from O(k·d) to
    O((√k + nprobe·k/√k)·d) — ~√k/(1+nprobe) times less work.

    APPROXIMATE unless ``nprobe >= C``: the true nearest fine centroid
    can live in an unprobed coarse cell, exactly the IVF recall trade
    ``ivf_knn`` already documents for queries. At ``nprobe >= C`` the
    result is BIT-IDENTICAL to ``with_nearest_cell(vectorized=True)``
    (same einsum distance arithmetic, same first-min-fine-id tie-break —
    pinned by tests/test_dedup_similarity.py). Deterministic for any
    nprobe: no RNG, fixed-order float arithmetic, stable ordering.

    Never flip an exact caller to this path under pinned outputs; it is
    the opt-in final-assignment strategy for callers that own their
    operating point (semdedup(assign="coarse"))."""
    coarse, perm, offs = coarse_quantize(cents, n_coarse=n_coarse)
    spark = df.sparkSession
    bc_fine = spark.sparkContext.broadcast(
        np.ascontiguousarray(cents, dtype=np.float64)[perm]
    )
    bc_coarse = spark.sparkContext.broadcast(coarse)
    bc_perm = spark.sparkContext.broadcast(perm)
    bc_offs = spark.sparkContext.broadcast(offs)
    n_take = min(nprobe, len(coarse))
    # bound BOTH intermediates: the (rows, C) coarse block and the
    # (rows-probing-c, members(c)) fine block of the hottest cell
    max_group = int((offs[1:] - offs[:-1]).max()) if len(cents) else 1
    widest = max(len(coarse), max_group, 1)

    @F.pandas_udf("long")
    def nearest2(v: pd.Series) -> pd.Series:
        fine, crs = bc_fine.value, bc_coarse.value
        perm_v, offs_v = bc_perm.value, bc_offs.value
        c_sq = (crs * crs).sum(axis=1)
        out = np.empty(len(v), dtype=np.int64)
        step = max(1, _MAX_DIST_CELLS // widest)
        for lo in range(0, len(v), step):
            x = np.array(v.iloc[lo : lo + step].tolist(), dtype=np.float64)
            x_sq = (x * x).sum(axis=1)
            xc = np.einsum("nd,kd->nk", x, crs, optimize=False)
            d2c = x_sq[:, None] - 2.0 * xc + c_sq[None, :]
            order = np.argsort(d2c, axis=1, kind="stable")[:, :n_take]
            best_d = np.full(len(x), np.inf)
            best_id = np.zeros(len(x), dtype=np.int64)
            for c in range(len(crs)):
                glo, ghi = offs_v[c], offs_v[c + 1]
                if glo == ghi:
                    continue
                mask = (order == c).any(axis=1)
                if not mask.any():
                    continue
                xs = x[mask]
                m = fine[glo:ghi]
                xm = np.einsum("nd,kd->nk", xs, m, optimize=False)
                d2 = (
                    x_sq[mask][:, None]
                    - 2.0 * xm
                    + (m * m).sum(axis=1)[None, :]
                )
                # argmin's first occurrence = smallest fine id in the
                # cell (perm is stable within cells); cross-cell ties
                # break on fine id below — together, the exact path's
                # global first-min tie-break
                j = d2.argmin(axis=1)
                dmin = d2[np.arange(len(xs)), j]
                fid = perm_v[glo:ghi][j] + 1
                bd, bi = best_d[mask], best_id[mask]
                upd = (dmin < bd) | ((dmin == bd) & (fid < bi))
                bd[upd] = dmin[upd]
                bi[upd] = fid[upd]
                best_d[mask] = bd
                best_id[mask] = bi
            # a row whose every probed coarse cell is EMPTY of fine
            # members (possible when coarse Lloyd strands a cell) keeps
            # the id-0 sentinel — resolve it with an exact full scan,
            # first-min-by-fine-id on distance ties
            unres = best_id == 0
            if unres.any():
                xs = x[unres]
                xm = np.einsum("nd,kd->nk", xs, fine, optimize=False)
                d2 = (
                    x_sq[unres][:, None]
                    - 2.0 * xm
                    + (fine * fine).sum(axis=1)[None, :]
                )
                dmin = d2.min(axis=1)
                fid_all = perm_v[None, :] + 1
                best_id[unres] = np.where(
                    d2 == dmin[:, None], fid_all, np.iinfo(np.int64).max
                ).min(axis=1)
            out[lo : lo + len(x)] = best_id
        return pd.Series(out)

    return df.withColumn(out_col, nearest2(F.col(vec_col)))


def with_probe_cells(
    df: DataFrame,
    vec_col: str,
    cents: np.ndarray,
    nprobe: int,
    out_col: str = "cells",
) -> DataFrame:
    """Append the array of the ``nprobe`` nearest cell ids, ranked by
    (distance, cell) ascending. A ``__``-prefixed ``vec_col`` is refused
    (ValueError) on both paths, as in ``with_nearest_cell``."""
    _check_vec_col(vec_col)
    if len(cents) <= LITERAL_MAX_CENTROIDS:
        ranked = F.array_sort(
            F.zip_with(
                _dist_arr(vec_col, cents),
                F.sequence(F.lit(1), F.lit(len(cents))),
                lambda d, i: F.struct(d.alias("d"), i.cast("long").alias("cell")),
            )
        )
        return df.withColumn(
            out_col,
            F.transform(F.slice(ranked, 1, nprobe), lambda s: s["cell"]),
        )

    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(
        np.ascontiguousarray(cents, dtype=np.float64)
    )
    n_take = nprobe

    @F.pandas_udf("array<long>")
    def probes(v: pd.Series) -> pd.Series:
        chunks = []
        for _lo, d2 in _dist_chunks(v, bc.value):
            # stable sort keeps index order on distance ties → same
            # (d, cell)-ascending ranking as the literal struct sort
            top = np.argsort(d2, axis=1, kind="stable")[:, :n_take] + 1
            chunks.append(top)
        stacked = np.vstack(chunks) if chunks else np.empty((0, n_take), int)
        return pd.Series(list(stacked))

    return df.withColumn(out_col, probes(F.col(vec_col)))
