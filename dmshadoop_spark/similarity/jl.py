"""JL-projected, SQ8-coded candidate generation with exact rerank — the
composed ANN tier (round-7 verdict task 4).

The Johnson-Lindenstrauss sign projection (the ±1 "database-friendly"
variant of Achlioptas 2003, the same md5-derived matrix x37 puts under a
full value oracle) maps d_in-dim embeddings to d_out dims with distances
preserved in expectation; SQ8 (similarity/sq8.py) then stores the
projected vectors as 8-bit codes. The composition is the way a user runs
the two pieces: **candidate generation scans only the small index**
(d_out uint8 codes + two doubles per row — at 64→16 that is a 32× lighter
scan than the float64 corpus), then the **exact rerank reads the full
d_in-dim column for candidate rows only**.

100 TB plan: the index is a stored table in production (one per-row
projection pass to build — zero shuffles, no training, no driver state;
here an eager stabilize() stands in for the stored copy, so the plan
provably never touches the wide column during candidate scoring —
pinned by tests/test_plans.py). Queries broadcast in both stages; the
candidate set is (expand·k) rows per query, so the rerank is a
broadcast-hash join against the corpus scan — one pass, no shuffle of
the corpus. Everything is JVM-side codegen expressions; determinism is
the repo-wide contract (explicit left folds, ties broken on neighbor_id).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from dmshadoop_spark.functions.checkpoint import stabilize
from dmshadoop_spark.functions.vectors import as_double, dot, norm_sq
from dmshadoop_spark.similarity.sq8 import sq8_dequant, with_sq8
from dmshadoop_spark.similarity.topk import local_topk


def jl_sign(i: int, k: int) -> float:
    """±1 from the parity of the first hex digit of md5('jl:i:k') — THE
    projection-matrix formula (queries x37's DuckDB oracle re-derives it
    entry-by-entry with its own md5())."""
    h = hashlib.md5(f"jl:{i}:{k}".encode()).hexdigest()
    return 1.0 if "0123456789abcdef".index(h[0]) % 2 == 0 else -1.0


def jl_project(vec_col: str, d_in: int = 64, d_out: int = 16) -> Column:
    """array<double> of the d_out JL projections of a d_in-dim vector
    column (by NAME) — matrix as plan literals, one scan-local left
    fold per output dim, scaled by 1/sqrt(d_out).

    Rendered as ONE SQL string through one ``F.expr`` call (round 12 —
    functions/sqllit.py): the per-element ``F.lit`` form cost
    d_in×d_out py4j round trips (~1 s of driver time per call for the
    64×16 default) before any execution. Same fold tree, same doubles
    (repr round-trips exactly) — projections bit-identical."""
    from dmshadoop_spark.functions.sqllit import sql_double, sql_double_array

    c = f"`{vec_col}`"
    scale = sql_double(d_out**-0.5)
    terms = ",".join(
        f"(aggregate(zip_with({c},"
        f"{sql_double_array(jl_sign(i, k) for i in range(d_in))},"
        f"(x,s)->x*s),0.0D,(acc,x)->acc+x)) * {scale}"
        for k in range(d_out)
    )
    return F.expr(f"array({terms})")


def jl_sq8_index(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    d_in: int = 64,
    d_out: int = 16,
    checkpoint: bool = True,
    vectorized: bool = False,
) -> DataFrame:
    """(neighbor_id, codes, mn, scale) — the stored candidate index: JL
    projection SQ8-coded, d_out ints + two doubles per row. The eager
    stabilize() materializes it once so downstream scoring plans scan
    the index, never the wide source column (a production run persists
    this as its own table; a cluster run that must survive executor loss
    sets sc.setCheckpointDir(...) — stabilize then upgrades to reliable
    .checkpoint(); unset, it uses executor-local localCheckpoint).

    ``vectorized`` (opt-in; False is the pinned default) computes the
    projection as ONE numpy matmul per Arrow batch instead of d_out
    interpreted zip_with/aggregate folds per row — the same
    CodegenFallback cliff semdedup's assignment stage documents, here
    costing ~2·d_in·d_out boxed ops per corpus row (measured 2.3 s for
    2 000×64→32 at sf0.1 — the dominant term of the whole search).
    Matmul accumulation order differs from the fold at the last float
    bits, so projections within an ulp of an SQ8 bucket edge can code
    differently and shift candidates at the margin: callers whose
    outputs are digest-pinned (x5_knn_jl_sq8's recall audit, x37's
    oracle) keep the fold; paths that own their operating point
    (x5_knn_jl_sq8_prod, which shipped with this flag) opt in. The
    SAME md5-derived sign matrix and SQ8 coding either way."""
    if vectorized:
        import numpy as np

        sgn = np.array(
            [[jl_sign(i, k) for i in range(d_in)] for k in range(d_out)],
            dtype=np.float64,
        ).T  # (d_in, d_out)
        scale = d_out**-0.5
        id_t = dict(corpus.select(id_col).dtypes)[id_col]

        def project(batches):
            import pandas as pd

            for pdf in batches:
                if not len(pdf):
                    continue
                V = np.array(pdf["_v"].tolist(), dtype=np.float64)
                P = np.einsum("nd,dk->nk", V, sgn, optimize=False) * scale
                yield pd.DataFrame(
                    {"neighbor_id": pdf["_id"], "p": list(P)}
                )

        proj = corpus.select(
            F.col(id_col).alias("_id"), as_double(vec_col).alias("_v")
        ).mapInPandas(
            project, f"neighbor_id {id_t}, p array<double>"
        )
    else:
        proj = corpus.select(
            F.col(id_col).alias("neighbor_id"),
            as_double(vec_col).alias("_v"),
        ).select("neighbor_id", jl_project("_v", d_in, d_out).alias("p"))
    coded = with_sq8(proj, "p").drop("p")
    return stabilize(coded) if checkpoint else coded


def auto_expand(
    n: int,
    k: int,
    frac: float = 0.25,
    floor: int = 16,
    max_cands: int = 262_144,
) -> int:
    """The measured recall law for the candidate budget (round-8 verdict
    task 4): on THIS repo's synthetic corpus — uniform random vectors,
    the WORST case for any contractive pre-filter because cosine margins
    are near zero — recall@k is a function of the candidate FRACTION,
    not the candidate count. Measured (d_out=32, k=5):

        fraction 16%:  recall 0.800 (n=500) / 0.825 (n=500) / 0.775 (n=2000)
        fraction 25%:  recall 0.875 (n=500) / 0.925 (n=500) / 0.875 (n=2000)
        fixed 80 cands: 0.825 at n=500 → 0.575 at n=2000 (decays with N)

    So a fixed ``expand`` silently loses recall as the corpus grows, and
    the honest default keeps a constant fraction: expand =
    max(floor, ceil(frac·n / k)). On margin-less data this is
    information-theoretically unavoidable — the approximate scores carry
    too little signal to rank a o(n) candidate set reliably.

    ``max_cands`` keeps the PLAN sane at production n (review finding):
    an uncapped 25% of 10⁸ vectors would neutralize the local-topk
    prune and push the per-query candidate set past Spark's broadcast
    limits in the rerank. The ceiling (256k candidates/query ≈ a few MB
    of (id, score) rows broadcast per query) restores the bounded-
    candidate contract; past it, recall on margin-less data decays with
    n/max_cands — that is the data's information limit, not a plan
    defect, and no candidate-generation index can beat it. REAL
    embedding corpora are clustered (margins exist), where a fixed or
    log-growing budget holds recall — measured: the 50-cluster corpus
    scores recall@5 = 1.0 at fixed expand=8 where the random corpus
    gives 0.575 (test_jl_sq8_fixed_budget_holds_on_clustered_corpus);
    callers with such data should pass an explicit ``expand`` and
    re-measure recall on their corpus."""
    want = max(floor, -(-int(frac * n) // k))
    return max(floor, min(want, max_cands // k))


def jl_sq8_knn(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "q_emb",
    k: int = 5,
    expand: int | str = "auto",
    d_in: int = 64,
    d_out: int = 16,
    vectorized_index: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Returns (topk, candidates).

    ``expand="auto"`` (default) sizes the candidate budget by the
    measured constant-fraction recall law (auto_expand) — one bounded
    count() of the corpus picks it.

    Stage 1 — candidate generation: queries project to d_out dims (full
    precision), the index dequantizes inside the scoring projection
    (asymmetric ADC, same discipline as x5_knn_sq8), and the best
    expand·k candidates per query survive (local-then-merge prune + one
    deterministic row_number window).

    Stage 2 — exact rerank: the candidate ids broadcast-join the corpus,
    the full d_in-dim cosine re-scores them, top-k wins. ``candidates``
    is stage 1's output (query_id, neighbor_id, approx_cosine) so
    callers can audit the reduction factor."""
    if expand == "auto":
        expand = auto_expand(corpus.count(), k)
    n_cand = expand * k
    index = jl_sq8_index(
        corpus, id_col, vec_col, d_in, d_out, vectorized=vectorized_index
    )
    dq = index.select(
        "neighbor_id",
        sq8_dequant(F.col("codes"), F.col("mn"), F.col("scale")).alias("dv"),
    ).select("neighbor_id", "dv", F.sqrt(norm_sq(F.col("dv"))).alias("ndv"))
    # The query projection is |queries| rows and feeds BOTH stages —
    # checkpoint it so neither stage re-plans the caller's query-extraction
    # scan (with it, the wide source column is read from storage exactly
    # once per search: the rerank).
    q = (
        queries.select(query_id_col, as_double(query_vec_col).alias("_qfull"))
        .select(
            query_id_col,
            "_qfull",
            jl_project("_qfull", d_in, d_out).alias("_qp"),
        )
        .transform(stabilize)
    )
    qp = q.select(
        query_id_col,
        "_qp",
        F.sqrt(norm_sq(F.col("_qp"))).alias("_nqp"),
    )
    # Zero-norm guard (round-8 ADVICE 3): a constant projection (SQ8
    # scale 0 → zero dequantized vector) or zero-norm query would divide
    # by zero → NaN, and Spark orders NaN ABOVE all doubles in DESC
    # sorts, so garbage would outrank real candidates. F.when nulls the
    # cosine instead — NULLs sort LAST under desc, so such rows lose.
    scored = (
        dq.crossJoin(broadcast(qp))
        .filter(F.col("neighbor_id") != F.col(query_id_col))
        .select(
            query_id_col,
            "neighbor_id",
            F.when(
                (F.col("_nqp") > 0) & (F.col("ndv") > 0),
                dot(F.col("_qp"), F.col("dv"))
                / (F.col("_nqp") * F.col("ndv")),
            ).alias("approx_cosine"),
        )
    )
    pruned = local_topk(
        scored, [query_id_col], "approx_cosine", "neighbor_id", n_cand
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("approx_cosine"), F.asc("neighbor_id")
    )
    candidates = (
        pruned.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n_cand)
        .drop("_rn")
    )
    # exact rerank: candidates are (expand·k)·|queries| rows — broadcast
    # them against the corpus scan (the ONLY stage reading the wide col)
    full = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double(vec_col).alias("_v")
    ).select("neighbor_id", "_v", F.sqrt(norm_sq(F.col("_v"))).alias("_nv"))
    qfull = q.select(
        query_id_col, "_qfull", F.sqrt(norm_sq(F.col("_qfull"))).alias("_nqf")
    )
    rescored = (
        full.join(
            broadcast(candidates.select(query_id_col, "neighbor_id")),
            ["neighbor_id"],
        )
        .join(broadcast(qfull), [query_id_col])
        .select(
            query_id_col,
            "neighbor_id",
            # same zero-norm/NaN guard as the candidate stage
            F.when(
                (F.col("_nqf") > 0) & (F.col("_nv") > 0),
                dot(F.col("_qfull"), F.col("_v"))
                / (F.col("_nqf") * F.col("_nv")),
            ).alias("cosine"),
        )
    )
    wk = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    topk = (
        rescored.withColumn("_rn", F.row_number().over(wk))
        .filter(F.col("_rn") <= k)
        .select(query_id_col, "neighbor_id", "cosine")
    )
    return topk, candidates
