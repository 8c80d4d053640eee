"""Distributed Lloyd's k-means — centroid training for the IVF quantizer.

``ivf_knn`` ships with a no-training coarse quantizer (a deterministic
hash-ordered sample). Real IVF indexes train centroids so cells are
balanced and probe recall is higher; this module is that training step,
expressed as the standard Spark iteration shape (the same one MLlib's
KMeans uses underneath):

  * ASSIGN — similarity/assign.with_nearest_cell: centroid distances +
    argmin, scan-local, no shuffle. Centroids ride the plan as literals
    up to LITERAL_MAX_CENTROIDS and as a broadcast numpy matrix behind
    an Arrow-batched pandas_udf above it (plan size must stay O(1) in k).
  * UPDATE — element-wise mean per cell via ``posexplode`` →
    groupBy(cell, pos). The partial aggregate combines map-side, so the
    exchange carries ≤ k×dim×partitions rows regardless of corpus size;
    the k×dim result (a few KB) is collected to the driver to become the
    next round's literals. Driver state is centroids only — never data.

Iterations are bounded (``n_iter``) with early exit when no assignment
changes the mean (cost is non-increasing — Lloyd's invariant). All
randomness is a seeded hash order, so training is deterministic and
retrainable to identical results on any cluster size.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dmshadoop_spark.functions.vectors import as_double


def kmeans_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 16,
    n_iter: int = 5,
    seed: int = 42,
    id_col: str | None = None,
    vectorized: bool | None = None,
    train_sample: int | None = None,
) -> np.ndarray:
    """Train k centroids over ``df[vec_col]``; returns a (k, dim) array.

    Init = deterministic hash-ordered sample (matches ivf_knn's untrained
    quantizer, so ``n_iter=0`` reproduces it exactly). ``vectorized``
    is threaded to the assignment path pick (assign.with_nearest_cell's
    docstring has the trade — don't flip it under pinned outputs).
    ``k=1`` with ``n_iter >= 1`` is the training set's mean, which Lloyd
    reaches in its first round; it is computed by one aggregation with
    the update's expression, so the doubles are the loop's.

    ``train_sample`` (opt-in; None = train on everything, today's
    pinned behavior) bounds the TRAINING set to the first N rows of the
    same seeded hash order the init uses — the faiss
    max_points_per_centroid discipline (its default trains on ≤ 256·k
    points). Lloyd's cost is n_iter passes over the training set, so a
    bounded sample caps training at O(n_iter·sample·k·d) no matter the
    corpus size; callers still assign the FULL corpus once with the
    returned centroids. Deterministic: the sample is a prefix of a
    seeded total order, so retraining reproduces identical centroids on
    any partitioning. Changing a caller from None to a bound CHANGES
    its centroids — never flip it under pinned outputs."""
    order = (
        [F.xxhash64(F.col(id_col), F.lit(seed)).asc(), F.col(id_col).asc()]
        if id_col
        else [F.xxhash64(F.to_json(F.col("_v")), F.lit(seed)).asc()]
    )
    vecs = df.select(
        *( [F.col(id_col)] if id_col else [] ), as_double(vec_col).alias("_v")
    )
    if k == 1 and n_iter > 0:
        # One cell: the first round assigns every training row to it, so
        # the update is the training set's mean, and the second round
        # reproduces that mean and stops. One aggregation with the update's
        # own expression returns the same doubles without the init
        # sort-limit, the materialization or the rounds.
        if train_sample is not None and train_sample > 0:
            vecs = vecs.orderBy(*order).limit(train_sample)
        upd = _cell_means(vecs.select(F.lit(1).alias("cell"), "_v"))
        if upd.empty:  # no rows: no centroid, as the init would give
            return np.array([], dtype=np.float64)
        return upd.sort_values("pos")["m"].to_numpy(dtype=np.float64)[None, :]
    # widen() so the n_iter assignment scans don't run on one core when
    # the source is a single small file (catalog.widen: no-op at scale,
    # where the scan already yields >= parallelism splits)
    from dmshadoop_spark.catalog import widen

    vecs = widen(vecs)
    if train_sample is not None and train_sample > 0:
        from dmshadoop_spark.functions.checkpoint import stabilize

        if train_sample < k:
            raise ValueError(
                f"train_sample={train_sample} < k={k}: the init draws k "
                "seed centroids from the training set, so a smaller "
                "sample would silently return fewer than k centroids"
            )

        # one global sort-limit (TakeOrderedAndProject), materialized so
        # the n_iter Lloyd passes scan the bounded sample, not the corpus
        vecs = stabilize(vecs.orderBy(*order).limit(train_sample))
    elif n_iter > 0:
        # Materialize the loop input once and rebalance when it comes
        # back under-parallel (round 12, guide §2.6): widen() abstains
        # on checkpoint-derived frames (PQ subspace slices), whose
        # single partition ran every interpreted assignment fold on ONE
        # core — at k=256 that was ~1 s/round × m subspaces in the PQ
        # trainer. GATED on the widen split estimate (round-13, r12
        # advice): when the source already yields ≥ parallelism scan
        # splits — the 100 TB case — the loop RE-SCANS the column-pruned
        # source n_iter times instead of pinning a corpus-sized vector
        # column in executor storage (the SCALE.md x39 accumulation
        # class). When the estimator abstains (None: in-memory/UDF-
        # derived lineage, e.g. IVF-PQ residual slices) or the source is
        # small, the checkpoint is bounded by construction and saves
        # n_iter re-executions of the upstream lineage. Values are
        # partitioning-free (DECIMAL update sums) either way.
        # Materialization happens BEFORE the init collect (round 13):
        # the init's global sort-limit is a full pass over the same
        # lineage, so ordering it after the checkpoint saves one
        # upstream execution per training — ×34 trainings in the PQ
        # recall lane. Same rows feed the same seeded order; the
        # checkpoint keeps the id column exactly so the init's
        # id-ordered variant still resolves.
        from dmshadoop_spark.catalog import _estimated_scan_splits
        from dmshadoop_spark.functions.checkpoint import (
            materialized_partitions,
            stabilize,
        )

        dp = df.sparkSession.sparkContext.defaultParallelism
        splits = _estimated_scan_splits(vecs)
        if splits is None or splits < dp:
            vecs = stabilize(vecs)
            if materialized_partitions(vecs) < dp:
                vecs = stabilize(vecs.repartition(dp))
    # Arrow collect (round-10: no O(k·dim) Row objects on the driver —
    # the same footprint fix as components' union-find route): the init
    # prefix and each Lloyd update land as numpy columns; driver state
    # is ONE (k, dim) float64 matrix (~130 MB at k=2M, dim=64), never
    # boxed Python floats.
    init_pdf = vecs.orderBy(*order).limit(k).select("_v").toPandas()
    cents = np.array(init_pdf["_v"].tolist(), dtype=np.float64)
    if len(cents) == 0:  # no rows: no centroid to move
        return cents
    if train_sample is not None and train_sample > 0 and n_iter > 0:
        # bounded train sample: already stabilized above; rebalance the
        # (typically single-partition) sort-limit result so the n_iter
        # assignment scans use the cluster. Partition count comes from
        # the checkpoint capture — no df.rdd planning pass.
        from dmshadoop_spark.functions.checkpoint import (
            materialized_partitions,
            stabilize,
        )

        dp = df.sparkSession.sparkContext.defaultParallelism
        if materialized_partitions(vecs) < dp:
            vecs = stabilize(vecs.select("_v").repartition(dp))

    # Loop physical shape (round 13 — r12 verdict "what's wrong" #2):
    # the former session-global override (shuffle.partitions=1 + AQE
    # off, restored on exit) assumed a single-threaded driver — the
    # stated blocker for overlapping PQ subspace trainings — and pinned
    # ONE reduce task regardless of k (the r12 advice scale concern:
    # k×dim×partitions partial rows through one task). The loop now
    # runs against a loop-tuned session CLONE
    # (functions/loopsession.py): same pinned shape — a plain-AQE
    # conf-free form was implemented and REVERTED after lane A/Bs
    # showed the per-round AQE re-plan + wide-reduce tax (x36 +1.8 s,
    # x35b +0.9 s) — but with zero shared-session mutation (concurrent
    # trainings are safe: the clone's conf is write-once) and the
    # reduce width scaled from the expected k×dim×partitions
    # partial-row load instead of hard-pinned 1. Centroids are
    # bit-identical under any of these shapes (DECIMAL update sums are
    # order-free).
    if n_iter > 0:
        from dmshadoop_spark.functions.checkpoint import (
            materialized_partitions,
        )
        from dmshadoop_spark.functions.loopsession import (
            loop_frame,
            loop_shuffle_partitions,
        )

        dim = int(cents.shape[1]) if cents.ndim == 2 and len(cents) else 1
        n_parts = loop_shuffle_partitions(
            k * dim,
            materialized_partitions(
                vecs,
                default=df.sparkSession.sparkContext.defaultParallelism,
            ),
        )
        vecs = loop_frame(vecs.select("_v"), n_parts)
    return _lloyd_loop(vecs, cents, n_iter, vectorized)


def _lloyd_loop(
    vecs: DataFrame, cents: np.ndarray, n_iter: int, vectorized: bool | None
) -> np.ndarray:
    from dmshadoop_spark.similarity.assign import with_nearest_cell

    for _ in range(n_iter):
        staged = with_nearest_cell(
            vecs.select("_v"), "_v", cents, vectorized=vectorized
        )
        upd = _cell_means(staged)
        new_cents = cents.copy()  # empty cells keep their old centroid
        new_cents[
            upd["cell"].to_numpy(dtype=np.int64) - 1,
            upd["pos"].to_numpy(dtype=np.int64),
        ] = upd["m"].to_numpy(dtype=np.float64)
        if np.array_equal(new_cents, cents):
            break
        cents = new_cents
    return cents


def _cell_means(staged: DataFrame):
    """The Lloyd update: per-(cell, pos) mean ``m`` of ``staged``'s
    ``_v`` rows, collected as pandas.

    DECIMAL sum: double addition is order-dependent, so a plain F.sum
    would make centroids (and every digest downstream of them) depend on
    partitioning — the same bug class as the JPEG einsum bistability
    fixed in round 7. DECIMAL(38,18) is exact and order-independent; cast
    back once per component. The decimal→double cast and the double
    division happen JVM-side — bit-identical to the former driver-side
    float(Decimal)/int (both are round-to-nearest conversion + one IEEE
    divide)."""
    return (
        staged.select("cell", F.posexplode("_v").alias("pos", "x"))
        .groupBy("cell", "pos")
        .agg(
            F.sum(F.col("x").cast("decimal(38,18)")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "cell",
            "pos",
            (F.col("s").cast("double") / F.col("n")).alias("m"),
        )
        .toPandas()
    )
