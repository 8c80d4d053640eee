"""SemDeDup — semantic deduplication over embeddings (Abbas et al. 2023,
"SemDeDup: Data-efficient learning at web-scale through semantic
deduplication", arXiv:2303.09540).

The published recipe, re-expressed as Spark stages:

  1. CLUSTER   — k-means over the embedding column
     (similarity/kmeans.py: deterministic seeded init, broadcast
     centroids, driver state = k×dim only).
  2. PAIR      — exact pairwise cosine WITHIN each cluster at threshold
     ``eps`` (the paper computes the full intra-cluster similarity
     matrix; here each cluster block is triangle-sharded by
     ``blocked_cosine_pairs`` so collected arrays stay bounded no matter
     how hot a cluster gets — results identical for any shard count).
  3. GROUP     — connected components over the ≥ eps pairs
     (dedup/components.py: min-label propagation + pointer jumping).
  4. SURVIVOR  — per duplicate group keep the example with the LOWEST
     cosine to its cluster centroid (the paper's rule: low-similarity
     examples are the informative ones), tie-broken by id.

100 TB shape: clustering is the standard bounded-iteration Lloyd loop
(assignment scan-local, update = one partial-agg shuffle of ≤ k×dim rows
per partition); pair emission never crosses clusters, so the worst
exchange is the intra-cluster triangle — sharded and cap-able the same
way the label-blocked near-dup is; components run on pair keys only
(never vectors); the survivor pick is one window over (component).
On the Spark plan (above the execution rule's bounds, below) everything
after training is a declarative plan — no Python in any per-row loop.

Execution rule: ``semdedup`` runs its PAIR, GROUP and SURVIVOR stages on
the driver when the embeddings decode to at most
``_DRIVER_SEMDEDUP_BYTES`` (n × dim × 8 bytes). k="auto" decides it with
the count it runs anyway to size k; an explicit k decides it after
training with a count that stops one row past the bound — one bounded
job the Spark plan did not run before. Training stays in Spark (k=1 is
one mean aggregation — kmeans_centroids). One Spark projection then
computes every number that depends on Spark's arithmetic — norms,
cells, the rounded centroid cosine — and one Arrow collect brings it
back; the pairs come from the same kernel the vectorized Spark stage
calls (``_block_pairs``, fold or einsum arithmetic by the same pick),
components from ``components._driver_union_find``, and the survivor
order is the window's. The decision set is bit-identical to the Spark
plan's (tests pin each case and the x35-family digests on both paths).
Measured with x35b's parameters on a 4-vCPU host, warm, median of 3
(embeddings of dim 64 from tools/gen_scale.py's replicas):

  n       decoded    k    driver path        Spark path
  2 000   1.0 MiB    4    2.9 s, 13 jobs     4.1 s, 22 jobs
  20 000  9.8 MiB    40   7.9 s, 13 jobs     10.5 s, 22 jobs
  64 000  31.3 MiB   128  17.2 s, 13 jobs    24.0 s, 22 jobs

The driver path won at every size, so 32 MiB is a bound on driver
memory, not a crossover: at 64 000 embeddings the driver process peaked
104–138 MiB above its idle RSS (3.3–4.4× the decoded bytes), against
120 MiB for the Spark path, whose component stage collects the pairs to
the driver as well. Those figures are for bounded cells (k="auto", about
500 rows each). Beyond the embeddings the driver path holds at most
``components.DRIVER_UNION_FIND_MAX_EDGES`` pairs plus one row slice of
one cell: past that many pairs (a small explicit k or a low eps on a
duplicate-heavy corpus) it drops its work and the call runs the Spark
plan, whose component stage leaves the driver at the same bound. Larger
inputs, and that fallback, run the Spark plan as before the rule
existed, but for the bounded count above.

Rows-only by nature (iterative k-means training has no SQL oracle);
determinism is pinned by seeded init + fixed iteration count + explicit
left-fold arithmetic, digest-tested in tests/test_dedup_similarity.py.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from dmshadoop_spark.functions.vectors import as_double, dot, norm_sq


def centroid_frame(
    spark: SparkSession,
    cents: np.ndarray,
    _max_list_elems: int = 2**31 - 1,
) -> DataFrame:
    """(cell, cent array<double>, ncent) frame from a centroid matrix —
    through Arrow, never a Python list-of-lists (round-10, the r9
    verdict's task 4: the old ``[(i+1, [float(x) for x in c], ...)]``
    built k·dim boxed floats on the driver — ~1 GB of PyObjects at
    k=2M, dim=64 — then serialized them through py4j row by row. The
    pyarrow route keeps the matrix as ONE numpy block: the list column
    is built zero-copy from the raveled matrix + an offsets vector, and
    Spark 4 ingests a pyarrow Table natively — independent of the
    session's ``spark.sql.execution.arrow.pyspark.enabled`` setting, so
    this works under the driver's untuned plain session too).
    Value-identical: same cells, same doubles."""
    import pyarrow as pa

    cents64 = np.ascontiguousarray(cents, dtype=np.float64)
    k, dim = cents64.shape
    # pa.ListArray carries int32 offsets, so one array caps at 2^31-1
    # child elements; the advertised large-k path (k=2M, dim≳1100)
    # exceeds that and int32 arange would wrap NEGATIVE silently
    # (round-10 ADVICE). Chunk the list column so every chunk's offset
    # vector stays in int32 range — pa.table accepts a ChunkedArray
    # alongside plain arrays, and Spark's Arrow ingest concatenates
    # chunks; value-identical below the limit (one chunk, same bytes).
    rows_per_chunk = max(1, _max_list_elems // max(dim, 1))
    chunks = []
    for start in range(0, k, rows_per_chunk):
        sub = cents64[start : start + rows_per_chunk]
        offsets = pa.array(
            np.arange(0, (len(sub) + 1) * dim, dim, dtype=np.int64).astype(
                np.int32
            )
        )
        chunks.append(
            pa.ListArray.from_arrays(
                offsets, pa.array(sub.ravel(), type=pa.float64())
            )
        )
    if not chunks:  # k == 0: keep the schema, emit zero rows
        chunks.append(
            pa.ListArray.from_arrays(
                pa.array([0], type=pa.int32()),
                pa.array([], type=pa.float64()),
            )
        )
    tbl = pa.table(
        {
            "cell": pa.array(np.arange(1, k + 1, dtype=np.int64)),
            "cent": pa.chunked_array(chunks),
            "ncent": pa.array(_centroid_norms(cents64)),
        }
    )
    return spark.createDataFrame(
        tbl, "cell long, cent array<double>, ncent double"
    )


def _centroid_norms(cents64: np.ndarray) -> np.ndarray:
    return np.sqrt((cents64 * cents64).sum(axis=1))


def _with_centroid(df: DataFrame, cents: np.ndarray, literal: bool) -> DataFrame:
    """``df`` with its cell's centroid as ``cent`` and ``ncent``. With
    ``literal`` the centroids ride the plan as literals, as the literal
    assignment's do, so no broadcast job runs; otherwise centroid_frame
    is broadcast-joined on cell. Same doubles either way: the literals
    round-trip exactly and the norms are centroid_frame's."""
    from dmshadoop_spark.functions.sqllit import sql_double_array

    if not literal:
        return df.join(broadcast(centroid_frame(df.sparkSession, cents)), "cell")
    cents64 = np.ascontiguousarray(cents, dtype=np.float64)
    mat = "array(" + ",".join(sql_double_array(c) for c in cents64) + ")"
    norms = sql_double_array(_centroid_norms(cents64))
    # the join drops a row whose cell is null or out of range (a NaN
    # distance); element_at would keep or fail on it
    return df.where(F.col("cell").between(1, len(cents))).select(
        "*",
        F.expr(f"element_at({mat}, CAST(cell AS INT))").alias("cent"),
        F.expr(f"element_at({norms}, CAST(cell AS INT))").alias("ncent"),
    )


def _require_integral_ids(id_t: str, id_col: str) -> None:
    if id_t not in ("tinyint", "smallint", "int", "bigint"):
        raise ValueError(
            f"blocked_cosine_pairs(vectorized=True) requires an "
            f"integral id column; {id_col!r} is {id_t}. Use the "
            f"default fold path for non-integer ids."
        )


def _block_pairs(
    ia, A, na, ib, B, nb, threshold: float, intra: bool, fold: bool,
    limit: int | None = None,
):
    """The pair kernel: every (a, b) with cosine >= ``threshold`` between
    the rows of ``A`` (ids ``ia``, norms ``na``) and ``B``, each unordered
    pair once (``intra``: A and B are the same rows, so only a < b), as
    (vec_a, vec_b, cosine) arrays with vec_a < vec_b — or None as soon as
    more than ``limit`` pairs are found, so a dense block cannot hold the
    caller's memory hostage.

    ``fold`` picks the arithmetic: ``vectors.dot``'s left fold over d from
    0.0 (one IEEE product and add per step, the fold path's digits) or
    the fixed-order einsum of the vectorized path (not BLAS matmul — see
    assign.py's bit-stability note; its entries do not depend on the
    block's shape or row order as long as the operands are C-contiguous).
    A zero norm gives -inf, never a pair — the fold path's null cosine;
    a NaN cosine passes the fold path's threshold, as in Spark.
    A is processed in row slices so no (rows, |B|) block exceeds
    ``assign._MAX_DIST_CELLS`` doubles; each entry is computed alone, so
    slicing does not change it."""
    from dmshadoop_spark.similarity import assign

    out = [(ia[:0], ib[:0], np.empty(0))]
    found = 0
    if len(ia) and len(ib):
        A, B = np.ascontiguousarray(A), np.ascontiguousarray(B)
        step = max(1, assign._MAX_DIST_CELLS // len(ib))
        for lo in range(0, len(ia), step):
            a = A[lo : lo + step]
            if fold:
                M = np.zeros((len(a), len(B)))
                for d in range(A.shape[1]):
                    M += a[:, d, None] * B[None, :, d]
            else:
                M = np.einsum("nd,kd->nk", a, B, optimize=False)
            denom = np.outer(na[lo : lo + step], nb)
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = np.where(denom == 0, -np.inf, M / denom)
            mask = cos >= threshold
            if fold:  # Spark orders NaN above every number
                mask |= np.isnan(cos)
            if intra:
                mask &= ia[lo : lo + step, None] < ib[None, :]
            r, c = np.nonzero(mask)
            found += len(r)
            if limit is not None and found > limit:
                return None
            ida, idb = ia[lo + r], ib[c]
            out.append((np.minimum(ida, idb), np.maximum(ida, idb), cos[r, c]))
    return tuple(np.concatenate(col) for col in zip(*out))


def blocked_cosine_pairs(
    df: DataFrame,
    block_col: str,
    id_col: str,
    vec_col: str,
    threshold: float,
    shards: int = 4,
    vectorized: bool = False,
) -> DataFrame:
    """Exact all-pairs cosine ≥ ``threshold`` within each block —
    (block, vec_a, vec_b, cosine), each unordered pair exactly once.

    The triangle-shard pattern, EXACT all-pairs at bounded memory: each
    vector hashes to one of ``shards`` shards (xxhash64 of its id), every
    unordered shard pair {i, j} (including i == j) is a group, and a
    vector in shard s replicates to the ``shards`` groups it can meet a
    partner in. Side A of a group is its shard-i members, side B its
    shard-j members; the A×B product emits each cross-shard pair exactly
    once with no wasted cosine, and a diagonal group (i == j, both sides
    the whole list) keeps only its id-ascending pairs. Each pair lands in
    exactly one group — cross-shard pairs in their {i, j} group,
    intra-shard pairs in (s, s) — so results are IDENTICAL for any shard
    count, and the production shape is the tested shape (no recall bound
    to document, unlike LSH bucketing). A group holds at most
    2·block/shards vectors, so one degenerate block never builds a
    block-sized row: worst-row memory shrinks shards× and the product
    emission shards²×, for a shards× shuffle-replication cost.

    ``vectorized`` (opt-in; False is the pinned default) computes each
    group's A×B cosine block as ONE numpy contraction inside
    applyInPandas instead of an interpreted zip_with/aggregate fold per
    emitted pair — the same CodegenFallback cliff the assignment path
    documents, paid per PAIR here (the round-9 sf1 stage split measured
    the pair stage at 5.0 s; the fold is ~3·dim boxed ops per pair).
    The (|A|,|B|) float block is bounded by (block/shards)² exactly
    like the collected arrays on the default path. Same exchange (one
    grouped shuffle); cosine float arithmetic differs at the last bits
    (matmul accumulation order vs fold order), so any pair whose cosine
    lies within a few ulps of the threshold — not only exact ties — can
    flip membership between the two paths, which can then change
    components and survivor choice downstream. Callers with PINNED
    outputs keep the default; paths that own their operating point
    (semdedup k="auto" — whose x35b digests were pinned AFTER the
    round-9 flip to vectorized, so they pin this arithmetic — and
    semdedup_ingest, which shipped vectorized from birth) opt in.

    ``vectorized`` requires an integral ``id_col`` (the block kernel
    orders pairs with numpy min/max and declares an integer output
    schema); the default fold path handles any orderable id type via
    least/greatest. A non-integral id with vectorized=True raises."""
    base = df.select(
        F.col(block_col).alias("_blk"),
        F.col(id_col).alias("_id"),
        as_double(vec_col).alias("_v"),
    ).withColumn("_nv", F.sqrt(norm_sq(F.col("_v"))))
    staged = base.withColumn(
        "_s", F.pmod(F.xxhash64("_id"), F.lit(shards)).cast("int")
    )
    memberships = F.array(
        *[
            F.struct(
                F.least(F.col("_s"), F.lit(t)).alias("i"),
                F.greatest(F.col("_s"), F.lit(t)).alias("j"),
            )
            for t in range(shards)
        ]
    )
    sharded = staged.select(
        "_blk",
        F.struct("_id", "_v", "_nv", "_s").alias("d"),
        F.explode(memberships).alias("g"),
    )
    if vectorized:
        import pandas as pd

        dts = dict(base.dtypes)
        blk_t, id_t = dts["_blk"], dts["_id"]
        _require_integral_ids(id_t, id_col)
        out_schema = (
            f"`{block_col}` {blk_t}, vec_a {id_t}, vec_b {id_t}, "
            f"cosine double"
        )
        thr = float(threshold)  # close over a plain float, not a Column

        def side(pdf, s):
            rows = pdf[pdf["_s"] == s]
            return (
                rows["_id"].to_numpy(),
                np.array(rows["_v"].tolist(), dtype=np.float64),
                rows["_nv"].to_numpy(dtype=np.float64),
            )

        # unannotated: a partly annotated grouped function makes PySpark
        # warn on every call that it cannot infer the eval type
        def emit(key, pdf):
            blk, i, j = key
            va, vb, cos = _block_pairs(
                *side(pdf, i), *side(pdf, j), thr, intra=i == j, fold=False
            )
            return pd.DataFrame(
                {
                    block_col: pd.Series([blk] * len(va)),
                    "vec_a": va,
                    "vec_b": vb,
                    "cosine": cos,
                }
            )

        flat = sharded.select(
            "_blk",
            F.col("g.i").alias("i"),
            F.col("g.j").alias("j"),
            F.col("d._id").alias("_id"),
            F.col("d._v").alias("_v"),
            F.col("d._nv").alias("_nv"),
            F.col("d._s").alias("_s"),
        )
        return flat.groupBy("_blk", "i", "j").applyInPandas(emit, out_schema)

    grouped = sharded.groupBy("_blk", "g.i", "g.j").agg(
        F.collect_list("d").alias("vecs")
    )
    side_a = F.filter(F.col("vecs"), lambda d: d["_s"] == F.col("i"))
    side_b = F.filter(F.col("vecs"), lambda d: d["_s"] == F.col("j"))
    # DOUBLE EXPLODE, not nested transform/flatten (round-8 sf5 probe
    # finding, the same pathology components.pairs_within documents):
    # the HOF form MATERIALIZED the full |A|×|B| struct array
    # — with every cosine computed through interpreted boxed-double
    # lambdas — per grouped row before the explode could stream it; at
    # sf5 (~780 vectors per shard side) that is ~600k structs per row
    # across 32 concurrent tasks, which killed a 32 GB heap. Two Generate
    # operators stream the pairs: each first-level row carries only the
    # side_b array (bounded by block/shards vectors — shrink it with the
    # shard count), and the per-pair cosine fold is evaluated once per
    # OUTPUT ROW, never accumulated into an array.
    exploded = (
        grouped.select(
            "_blk",
            (F.col("i") == F.col("j")).alias("intra"),
            side_b.alias("vb"),
            F.explode(side_a).alias("x"),
        )
        .select("_blk", "intra", "x", F.explode("vb").alias("y"))
    )
    x, y = F.col("x"), F.col("y")
    return (
        exploded.filter((x["_id"] < y["_id"]) | ~F.col("intra"))
        .select(
            F.col("_blk").alias(block_col),
            F.least(x["_id"], y["_id"]).alias("vec_a"),
            F.greatest(x["_id"], y["_id"]).alias("vec_b"),
            (dot(x["_v"], y["_v"]) / (x["_nv"] * y["_nv"])).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def semdedup_ingest(
    existing: DataFrame,
    batch: DataFrame,
    cents: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    eps: float = 0.35,
    shards: int = 4,
) -> DataFrame:
    """At-ingest semantic dedup: decide each NEW embedding against a
    frozen quantizer and the existing survivor set — the semantic twin
    of the MinHash dedup-at-ingest tier (x21), for corpora that arrive
    continuously instead of being deduped once.

    ``existing`` holds the kept docs so far (id + vector), ``cents`` is
    the frozen centroid matrix they were assigned under (production
    practice: retrain rarely, assign always — retraining per batch
    would reshuffle every historical cell). Returns one decision row
    per BATCH doc: (id, cell, component, cos_centroid, anchored, keep).

    Semantics (deterministic, order-free within the batch):
      1. ANCHOR — a new doc within ``eps`` cosine of ANY existing
         survivor in its cell is anchored: its semantic content is
         already represented.
      2. COMPONENT — new-new pairs within cells (the same triangle-
         sharded exact pair stage the batch path uses) form connected
         components among the batch docs.
      3. DECIDE — a component with ≥1 anchored member keeps NOTHING
         (transitively duplicate of existing content); an unanchored
         component keeps exactly one survivor — lowest cosine to its
         cell centroid, id tie-break (the paper's rule); unanchored
         singletons keep themselves.

    Re-ingesting an already-ingested batch therefore keeps zero docs
    (every doc anchors on its own survivor) — the idempotence test
    pins it. Ids must be globally unique across existing and batch.

    100 TB shape: the anchor check is an equi-join on (cell, salt) —
    the EXISTING side (the big one) never replicates; the batch side
    replicates ``shards``× to meet every existing salt, so a hot cell's
    join fan-in shrinks shards× exactly like the pair stage's triangle
    shards. Anchors aggregate to a distinct id set before touching the
    component stage. Nothing recomputes over history beyond one
    assignment scan of the existing survivors (id, cell) — and a caller
    that persisted cell at ingest time can pass it pre-assigned via a
    ``cell`` column ON THE EXISTING FRAME ONLY to skip even that
    (range-asserted 1..k at runtime; a ``cell`` column on the batch is
    ignored — the batch is always assigned against ``cents`` here, which
    also guarantees one decision row per batch doc through the
    centroid-cosine join).

    Physical choices this surface OWNS (it ships new — no pinned
    digests predate them): assignment always takes the vectorized
    einsum path (the literal HOF path is interpreted k·dim work per
    row — the round-9 probe's cliff — and an ingest quantizer is
    production-sized by definition), and the prepared BATCH side is
    stabilize()d because four downstream stages reuse it (anchor join,
    pair emission, centroid-cosine staging ×2) — re-deriving an
    interpreted assignment per stage made the first sf1 probe of this
    function 4.5× SLOWER than a full rebuild; materializing the small
    side is the 100 TB-sane fix (the big existing side streams through
    exactly once and is never persisted)."""
    from dmshadoop_spark.dedup.components import connected_components
    from dmshadoop_spark.functions.checkpoint import stabilize
    from dmshadoop_spark.similarity.assign import with_nearest_cell

    k = len(cents)

    def prep(df: DataFrame, allow_cell: bool) -> DataFrame:
        # A pre-assigned ``cell`` column is honored only on the EXISTING
        # frame (the docstring's promise — survivors persisted with
        # their cell at a prior ingest). The batch is ALWAYS assigned
        # here, so every batch cell is in 1..k by construction and the
        # centroid-cosine inner join below keeps exactly one decision
        # row per batch doc. Caller-supplied existing cells are range-
        # asserted at runtime (out-of-range would silently disable
        # anchoring for that survivor).
        use_cell = allow_cell and "cell" in df.columns
        base = df.select(
            F.col(id_col).alias("_id"),
            as_double(vec_col).alias("_v"),
            *([F.col("cell")] if use_cell else []),
        ).withColumn("_nv", F.sqrt(norm_sq(F.col("_v"))))
        if use_cell:
            base = base.withColumn(
                "cell",
                F.when(
                    (F.col("cell") >= 1) & (F.col("cell") <= F.lit(k)),
                    F.col("cell"),
                ).otherwise(
                    F.raise_error(
                        F.concat(
                            F.lit(
                                "semdedup_ingest: pre-assigned cell out "
                                f"of range 1..{k} for id "
                            ),
                            F.col("_id").cast("string"),
                        )
                    )
                ),
            )
        else:
            base = with_nearest_cell(
                base, "_v", cents, out_col="cell", vectorized=True
            )
        return base

    ex = prep(existing, allow_cell=True)
    # hint_small: the batch is the small side by contract; stabilize()
    # strips compile-time size stats, so without the re-derived
    # broadcast hint the anchor join would plan as a shuffle join and
    # replicate the EXISTING side's salt column through an exchange.
    nb = stabilize(prep(batch, allow_cell=False), hint_small=True)

    # ANCHOR: salted cell-join — existing stays put, batch replicates
    ex_s = ex.withColumn(
        "_salt", F.pmod(F.xxhash64("_id"), F.lit(shards)).cast("int")
    )
    nb_s = nb.withColumn(
        "_salt",
        F.explode(F.sequence(F.lit(0), F.lit(shards - 1)).cast("array<int>")),
    )
    anchored_ids = (
        nb_s.alias("n")
        .join(ex_s.alias("e"), ["cell", "_salt"])
        .where(
            dot(F.col("n._v"), F.col("e._v"))
            / (F.col("n._nv") * F.col("e._nv"))
            >= F.lit(eps)
        )
        .select(F.col("n._id").alias("_id"))
        .distinct()
    )

    # COMPONENT: new-new pairs within cells, exact triangle-sharded
    # the ingest surface owns its operating point (shipped round 9) —
    # numpy block cosine, not the interpreted per-pair fold
    pairs = blocked_cosine_pairs(
        nb, "cell", "_id", "_v", eps, shards, vectorized=True
    )
    comps = connected_components(pairs, src="vec_a", dst="vec_b")

    cent_df = centroid_frame(nb.sparkSession, cents)
    staged = (
        nb.join(broadcast(cent_df), "cell")
        .select(
            "_id",
            "cell",
            (
                dot(F.col("_v"), F.col("cent"))
                / (F.col("_nv") * F.col("ncent"))
            ).alias("cos_centroid"),
        )
        .join(comps.select(F.col("node").alias("_id"), "comp"), "_id", "left")
        .join(
            anchored_ids.withColumn("_anch", F.lit(True)), "_id", "left"
        )
        .select(
            "_id",
            "cell",
            F.coalesce("comp", F.col("_id")).alias("component"),
            F.round("cos_centroid", 6).alias("cos_centroid"),
            F.coalesce("_anch", F.lit(False)).alias("_anch"),
        )
    )
    # DECIDE: anchored components keep nothing; unanchored keep one
    comp_anchored = staged.groupBy("component").agg(
        F.max("_anch").alias("anchored")
    )
    w = Window.partitionBy("component").orderBy(
        F.asc("cos_centroid"), F.asc("_id")
    )
    return (
        staged.join(comp_anchored, "component")
        .withColumn("_rn", F.row_number().over(w))
        .select(
            F.col("_id").alias(id_col),
            "cell",
            "component",
            "cos_centroid",
            "anchored",
            ((F.col("_rn") == 1) & ~F.col("anchored")).alias("keep"),
        )
    )


# Above this cell count the auto-k path switches assignment to the
# vectorized einsum form (see semdedup() body). 32 is above every
# pinned operating point that could reach the auto path (driver-SF
# auto-k is 1) and below the first probed point where the literal path
# already lost (k=40 at sf1: 149.5s vs 72s at k=8); explicit-k callers
# (x35 k=8, IVF k=16, PQ codebooks k≤256) never see this constant.
SEMDEDUP_VECTORIZED_MIN_K = 32

# The execution rule (module docstring): semdedup runs its pair, component
# and survivor stages on the driver when the embeddings decode to at most
# this many bytes (n × dim × 8). A bound on driver memory, not a measured
# crossover: the driver path was faster at every size probed.
_DRIVER_SEMDEDUP_BYTES = 32 * 1024 * 1024


def auto_k(n: int, target_cell_size: int = 500) -> int:
    """The bounded-cell-size law: k = ceil(n / target_cell_size).

    Intra-cell pair volume is O(n²/k); at FIXED k that is quadratic in
    corpus size (the round-8 sf3→sf5 probe measured exponent 1.62 at
    k=8), while k ∝ n keeps expected cell size — and therefore the pair
    stage's total work — LINEAR in n (the regime the SemDeDup paper
    runs: ~50k clusters over ~5×10⁹ LAION examples ≈ 10⁵ per cell).
    Trade: driver/broadcast state is k×dim doubles (at n=10⁹,
    target 500 ⇒ k=2M ⇒ ~1 GB at dim 64) — for corpora that large,
    raise target_cell_size or train centroids on a sample; the pair
    stage only needs cells bounded, not tiny."""
    return max(1, -(-n // target_cell_size))


def semdedup(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int | str = "auto",
    n_iter: int = 4,
    seed: int = 7,
    eps: float = 0.35,
    shards: int = 4,
    target_cell_size: int = 500,
    assign: str = "exact",
    assign_nprobe: int = 8,
    train_sample: int | None = None,
) -> DataFrame:
    """Per-embedding SemDeDup decision:
    (id, cell, component, cos_centroid, keep) — ``keep`` marks the one
    survivor per semantic duplicate group (lowest centroid cosine, id
    tie-break); non-duplicated embeddings keep themselves.

    ``k="auto"`` (the default since round 9 — the round-8 verdict's top
    task) sizes the clustering by the bounded-cell-size law (auto_k):
    one bounded count() picks k = ceil(n / target_cell_size), so the
    intra-cell pair stage stays linear in corpus size instead of the
    O(n²/k) blow-up a fixed k gives. Pass an explicit int k to
    reproduce a pinned operating point (x35 pins k=8).

    ``assign="coarse"`` (opt-in; "exact" is the default and today's
    pinned behavior) routes the FULL-CORPUS final assignment through the
    two-level coarse-to-fine search (assign.with_nearest_cell_coarse,
    nprobe=``assign_nprobe``) — the scale path for the one remaining
    O(n·k·d) term when k itself is huge (n=10⁹ at target 500 ⇒ k=2M ⇒
    exact assignment is 2M×dim flops PER ROW; coarse-to-fine is
    ~√k/(1+nprobe) times less). Approximate: a row near a cell boundary
    may land in a probed-set-local nearest cell instead of the global
    one — for SemDeDup that only perturbs which block a boundary point
    pairs within, the same trade the paper's own k-means already makes.
    Training always uses the exact path (it runs on the bounded
    train_sample at that scale — kmeans_centroids docstring).

    ``train_sample`` (opt-in; None = full-corpus training, today's
    pinned behavior) bounds Lloyd's training set to a seeded-order
    prefix — threaded straight to kmeans_centroids, whose docstring has
    the determinism contract. Together, ``k="auto"`` +
    ``train_sample`` + ``assign="coarse"`` are the full production
    posture: pair stage linear by the cell bound, training capped at
    O(n_iter·sample·k·d), final assignment O(n·(√k + nprobe·k/√k)·d).
    Changing train_sample changes the trained centroids — never flip it
    under pinned outputs.

    WHICH POSTURE AT WHICH n (round-10 decision table; floors pinned by
    test_semdedup_coarse_posture_agreement_floor and
    test_semdedup_train_sample_survivor_stability, measured two decades
    out in SCALE.md):

      n ≲ 10⁵ (k ≲ 200)      — defaults. Exact assignment is cheap,
                               full training converges fast; the coarse
                               level's √k would be single digits.
      10⁵ ≲ n ≲ 10⁷          — + train_sample=max(256·k_auto, 10⁵).
                               Lloyd's passes stop scaling with the
                               corpus; survivor decisions agree ≥90%
                               with full training on clustered data and
                               the kept fraction moves ≤5% (pinned).
      n ≳ 10⁷ (k ≳ 2·10⁴)    — + assign="coarse" (nprobe 8). The final
                               assignment drops from O(n·k·d) to
                               O(n·(√k + nprobe·k/√k)·d); cell
                               agreement ≥95% on clustered corpora
                               (pinned; observed 0.98-1.0), and a
                               boundary point merely pairs within a
                               neighboring block — the same trade the
                               paper's own k-means already makes.
      n ≳ 10⁹                — also raise target_cell_size (auto_k's
                               docstring: k=2M means a ~1 GB centroid
                               matrix as driver/broadcast state even
                               with the columnar round-10 plumbing).

    The composed posture (auto-k + train_sample + coarse) measured 2.5×
    faster than the default at sf3 (13.7 s vs 34.8 s) with the floors
    above — safe to recommend wherever exact-pinned outputs are not
    required."""
    from dmshadoop_spark.catalog import widen
    from dmshadoop_spark.dedup.components import connected_components
    from dmshadoop_spark.similarity.assign import (
        LITERAL_MAX_CENTROIDS,
        with_nearest_cell,
        with_nearest_cell_coarse,
    )
    from dmshadoop_spark.similarity.kmeans import kmeans_centroids

    n: int | None = None
    vectorized: bool | None = None
    pair_vectorized = False
    if k == "auto":
        # the auto path also owns the PAIR stage's physical form: the
        # numpy block cosine replaces the interpreted per-pair fold
        # (blocked_cosine_pairs docstring has the trade; pair volume is
        # ∝ n at any k under the cell-size bound, so this gate is not
        # k-conditional). Explicit-k callers (x35's pinned k=8 point)
        # keep the fold path — a pair exactly at eps could flip.
        pair_vectorized = True
        # one bounded driver scalar (a count), same class as the
        # convergence checks the component loop already does; it also
        # decides the execution rule (module docstring)
        n = emb.count()
        k = auto_k(n, target_cell_size)
        # the auto path OWNS its operating point, so it may flip the
        # assignment to the vectorized einsum path once the literal
        # path's interpreted zip_with folds (CodegenFallback — k·dim
        # boxed ops per row) would dominate: the round-9 probe measured
        # the literal path 2× SLOWER than fixed k=8 at k=40 and
        # crawling at k=120. Explicit-k callers (the pinned x35 point)
        # keep the default path pick — the two paths' float arithmetic
        # differs, so pinned outputs must never flip.
        vectorized = True if k > SEMDEDUP_VECTORIZED_MIN_K else None
    id_t = emb.select(id_col).dtypes[0][1]
    if pair_vectorized:
        _require_integral_ids(id_t, id_col)

    cents = kmeans_centroids(
        emb, vec_col=vec_col, k=k, n_iter=n_iter, seed=seed, id_col=id_col,
        vectorized=vectorized, train_sample=train_sample,
    )
    if len(cents) == 0:  # no rows, no centroid: no decisions
        return emb.sparkSession.createDataFrame(
            [],
            f"`{id_col}` {id_t}, cell bigint, component {id_t}, "
            "cos_centroid double, keep boolean",
        )

    def assigned_cells(src: DataFrame) -> DataFrame:
        base = src.select(
            F.col(id_col).alias("_id"), as_double(vec_col).alias("_v")
        ).withColumn("_nv", F.sqrt(norm_sq(F.col("_v"))))
        if assign == "coarse":
            return with_nearest_cell_coarse(
                base, "_v", cents, nprobe=assign_nprobe, out_col="cell"
            )
        return with_nearest_cell(
            base, "_v", cents, out_col="cell", vectorized=vectorized
        )

    if _fits_on_driver(emb, n, cents.shape[1]):
        # the centroids ride as literals where the assignment put them
        # in the plan as literals already; no widen(): the one collect
        # gains nothing from it
        literal = not vectorized and len(cents) <= LITERAL_MAX_CENTROIDS
        decided = _semdedup_on_driver(
            _with_centroid(assigned_cells(emb), cents, literal),
            id_col, eps, fold=not pair_vectorized,
        )
        if decided is not None:
            return decided

    # widen(): the full-corpus assignment fold and the pair staging are
    # scan-local CPU work — on the single-file test scan they would run
    # on one core (no-op at scale — catalog.widen docstring)
    assigned = assigned_cells(widen(emb))
    with_cos = _with_centroid(assigned, cents, literal=False).select(
        "_id",
        "_v",
        "cell",
        (
            dot(F.col("_v"), F.col("cent")) / (F.col("_nv") * F.col("ncent"))
        ).alias("cos_centroid"),
    )

    pairs = blocked_cosine_pairs(
        assigned, "cell", "_id", "_v", threshold=eps, shards=shards,
        vectorized=pair_vectorized,
    )
    comps = connected_components(pairs, src="vec_a", dst="vec_b")

    w = Window.partitionBy("component").orderBy(
        F.asc("cos_centroid"), F.asc("_id")
    )
    return (
        with_cos.join(
            comps.select(F.col("node").alias("_id"), "comp"), "_id", "left"
        )
        .select(
            "_id",
            "cell",
            F.coalesce("comp", F.col("_id")).alias("component"),
            F.round("cos_centroid", 6).alias("cos_centroid"),
        )
        .withColumn(
            "keep", F.row_number().over(w) == 1
        )
        .select(
            F.col("_id").alias(id_col),
            "cell",
            "component",
            "cos_centroid",
            "keep",
        )
    )


def _fits_on_driver(emb: DataFrame, n: int | None, dim: int) -> bool:
    """The execution rule: do the embeddings decode to at most
    _DRIVER_SEMDEDUP_BYTES (n × dim × 8)? ``n`` is the row count when
    the caller has one; otherwise a count that stops one row past the
    bound decides, so a large input is not counted in full."""
    max_rows = _DRIVER_SEMDEDUP_BYTES / (8 * dim)
    if n is None:
        # limit() takes an int; the bound's row count is far below 2^31
        n = emb.limit(int(min(max_rows, 2**31 - 2)) + 1).count()
    return n <= max_rows


def _semdedup_on_driver(
    attached: DataFrame, id_col: str, eps: float, fold: bool
) -> DataFrame | None:
    """SemDeDup's PAIR, GROUP and SURVIVOR stages on the driver, over one
    Arrow collect of ``attached`` (_id, _v, _nv, cell and its centroid's
    cent, ncent) projected to (_id, _v, _nv, cell, cos_centroid).

    Spark computes every number that depends on its arithmetic (norms,
    cells, the rounded centroid cosine); the pair stage runs each cell
    through the kernel blocked_cosine_pairs' vectorized groups call (its
    entries do not depend on how a cell is split into groups),
    components are components._driver_union_find's min-id labels, and
    the survivor order is the Spark path's window order. The decision
    set is therefore the Spark path's, bit for bit.

    Returns None, and the caller runs the Spark plan, once the pairs
    exceed components.DRIVER_UNION_FIND_MAX_EDGES: the bound at which
    connected_components leaves the driver too, so a dense cell never
    holds more pairs here than that route would."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from dmshadoop_spark.dedup import components

    tbl = attached.select(
        "_id",
        "_v",
        "_nv",
        "cell",
        F.round(
            dot(F.col("_v"), F.col("cent")) / (F.col("_nv") * F.col("ncent")),
            6,
        ).alias("cos_centroid"),
    ).toArrow()
    n = tbl.num_rows
    ids = tbl["_id"].to_numpy()
    vecs = tbl["_v"].combine_chunks()
    lens = pc.list_value_length(vecs).to_numpy(zero_copy_only=False)
    if np.any(lens != lens[:1]):
        raise ValueError("semdedup: embeddings differ in length")
    V = pc.list_flatten(vecs).to_numpy(zero_copy_only=False).reshape(n, -1)
    # a null element nulls the norm and, in Spark, every cosine of the
    # row: as a zero norm it pairs with nothing here too
    nv = tbl["_nv"].fill_null(0.0).to_numpy()
    cells = tbl["cell"].to_numpy()

    # Components never span cells, so each cell's PAIR and GROUP stages
    # run together and only one cell's pairs are held at a time.
    component = ids.copy()  # unpaired rows label themselves
    budget = components.DRIVER_UNION_FIND_MAX_EDGES
    order = np.argsort(cells, kind="stable")
    for grp in np.split(order, np.flatnonzero(np.diff(cells[order])) + 1):
        # PAIR: the whole cell as one intra block, each pair once
        found = _block_pairs(
            ids[grp], V[grp], nv[grp], ids[grp], V[grp], nv[grp], eps,
            intra=True, fold=fold, limit=budget,
        )
        if found is None:
            return None
        budget -= len(found[0])
        # GROUP: min-id component labels
        nodes, comps = components._driver_union_find(found[0], found[1])
        if len(nodes):
            at = np.searchsorted(nodes, ids[grp]).clip(max=len(nodes) - 1)
            hit = nodes[at] == ids[grp]
            component[grp[hit]] = comps[at[hit]]
    # SURVIVOR: first row per component by (cos_centroid asc, nulls
    # first, then id asc) — the Spark path's window order
    cos = tbl["cos_centroid"]
    null = cos.is_null().to_numpy()
    comp_code = np.unique(component, return_inverse=True)[1]
    by = np.lexsort((
        np.unique(ids, return_inverse=True)[1],
        np.where(null, 0.0, cos.to_numpy()),
        ~null,
        comp_code,
    ))
    first = np.ones(n, dtype=bool)
    first[1:] = comp_code[by][1:] != comp_code[by][:-1]
    keep = np.zeros(n, dtype=bool)
    keep[by[first]] = True
    return attached.sparkSession.createDataFrame(
        pa.table(
            {
                id_col: tbl["_id"],
                "cell": tbl["cell"],
                "component": pa.array(
                    component, type=tbl.schema.field("_id").type
                ),
                "cos_centroid": cos,
                "keep": pa.array(keep),
            }
        )
    )
