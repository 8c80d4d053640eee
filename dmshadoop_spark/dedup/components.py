"""Connected components over near-duplicate pair graphs.

Pair emission (exact Jaccard, MinHash LSH, SimHash) yields EDGES; dedup
needs CLUSTERS — transitively closed groups with one canonical survivor
(A≈B and B≈C must collapse to one cluster even when A≉C directly). This
is the last stage of every production near-dup pipeline.

Algorithm: iterative min-label propagation with pointer jumping.
Each round does (1) propagate: every node takes the minimum label among
itself and its neighbors — one join + one min-aggregate; (2) jump:
``comp(node) := comp(comp(node))`` — one self-join, halving label-chain
depth. Plain propagation needs O(diameter) rounds; the jump step makes
long chains collapse in O(log n), the same doubling trick as the
large-star/small-star MapReduce formulation (Kiveris et al.) and classic
parallel union-find. Near-dup graphs are dense clique-ish clusters with
tiny diameters, so practical round counts are 2-4.

Scale posture per round: two shuffles on node id (uniform — ids, not
content) plus one convergence aggregate. Lineage is truncated every
round with ``stabilize`` — functions/checkpoint.py picks reliable vs
executor-local storage (iterative plans otherwise grow an
exponentially deep DAG); convergence is detected by the label-sum
invariant — labels only ever decrease, so an unchanged sum means a
fixed point, one cheap aggregate instead of a full old-vs-new join.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dmshadoop_spark.functions.checkpoint import stabilize


def pairs_within(lists: DataFrame, col: str) -> DataFrame:
    """(a, b) for every pair of distinct elements within each row's array
    ``col``, each unordered pair once with ``a < b`` — the one pair
    emission under every bucket/posting-list stage (Hamming banding,
    MinHash LSH buckets, n-gram and frame-hash postings).

    Two streamed Generate operators and one codegen'd filter: a row
    never holds more than its own list. The nested ``transform``/
    ``flatten`` form built the whole n² struct array per row through
    interpreted lambdas: slower warm on x2_ngram_jaccard (~1.7 s vs
    ~1.6 s at sf0.1) and much slower on the first run at a new data size
    (interpreted lambdas need a C2 JIT that a small warmup never
    triggers), and its |A|×|B| form killed a 32 GB heap at sf5 (see
    ``blocked_cosine_pairs``). Elements compare as values (structs field
    by field), so ``a < b`` orients each pair and drops an element
    paired with itself or with an equal copy of itself."""
    return (
        lists.select(col, F.explode(col).alias("a"))
        .select("a", F.explode(col).alias("b"))
        .filter(F.col("a") < F.col("b"))
    )


# Below this many (undirected, deduplicated) edge rows, components are
# solved with a driver-side union-find instead of the distributed loop.
# Rationale (round-9 stage split, sf0.1): the distributed loop costs
# ~0.45 s of FIXED scheduling per round (9 AQE jobs) × 10-21 rounds —
# 8.7 s on a 1 782-edge graph whose union-find answer takes
# microseconds. Driver footprint (round-10 ADVICE fix): the edges come
# back through Arrow as two numpy int64 columns — 2 × 2M × 8 B = 32 MB
# at the threshold, plus a transient ~60 MB tolist() during the
# union-find loop and a parent dict of ≤2M int entries (~150 MB peak on
# a pathological all-distinct-node graph). That is real but bounded and
# well inside a default 1-2 GB driver; the earlier Row-object collect
# was 3-5× heavier, which is why the route now goes through Arrow
# rather than lowering the threshold. Production-scale graphs route to
# the distributed loop unchanged. The two paths produce IDENTICAL
# labels (min node id per component — exact, order-free), pinned by
# test_components_driver_and_distributed_paths_agree.
DRIVER_UNION_FIND_MAX_EDGES = 1_000_000


def _driver_union_find(a: np.ndarray, b: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Union-find with path compression over the edges ``zip(a, b)``;
    returns (node, min-id-in-component) as two arrays of ``a``'s dtype,
    sorted by node — the exact contract of the distributed loop."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for x, y in zip(a.tolist(), b.tolist()):
        parent.setdefault(x, x)
        parent.setdefault(y, y)
        rx, ry = find(x), find(y)
        if rx != ry:
            parent[max(rx, ry)] = min(rx, ry)
    comp_min: dict = {}
    for node in parent:
        r = find(node)
        if r not in comp_min or node < comp_min[r]:
            comp_min[r] = node
    nodes = sorted(parent)
    return (
        np.array(nodes, dtype=a.dtype),
        np.array([comp_min[find(x)] for x in nodes], dtype=a.dtype),
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    driver_max_edges: int = DRIVER_UNION_FIND_MAX_EDGES,
) -> DataFrame:
    """Return (node, component) for every node appearing in ``edges``;
    ``component`` is the minimum node id in the node's connected component
    — deterministic, no RNG. Nodes must be integral and non-null.

    Physical strategy is size-routed: edge sets at or under
    ``driver_max_edges`` (after undirected dedup) collect to the driver
    and solve with union-find — microseconds vs ~0.5 s of scheduling
    per distributed round; larger graphs run the min-label-propagation
    + pointer-jumping loop below. Identical results either way."""
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    # lineage truncation is load-bearing (round-7 sf1 probe finding): every
    # propagation round joins against ``und``, and without the checkpoint
    # each round RE-EXECUTES the caller's whole edge-generating plan —
    # for x35_semdedup that was the 24-second pair-emission subtree,
    # re-run ~10 times. The edge set itself is the bounded candidate
    # output (same size contract as ``labels`` below).
    # RELIABILITY TRADE (round-7 ADVICE; operable since round 9): the
    # stabilize() helper picks the form — reliable .checkpoint() when
    # the session has sc.setCheckpointDir(...) set (survives executor
    # loss), executor-local localCheckpoint otherwise (strictly better
    # in local mode and for bounded test SFs: no distributed-FS
    # round-trip). One standard Spark knob switches every iterative
    # operator in the repo at once.
    und = (
        e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .transform(stabilize)
    )
    # und holds each undirected edge twice; the count is free post-
    # checkpoint (it is the materialization row count)
    if und.count() <= 2 * driver_max_edges:
        import pyarrow as pa

        # Arrow both ways: the edges come back as two numpy columns and
        # the labels go out as one Arrow table of the caller's id type —
        # never Row objects or pickled tuples (the footprint math in
        # DRIVER_UNION_FIND_MAX_EDGES's comment depends on it).
        tbl = und.toArrow()
        nodes, comps = _driver_union_find(
            tbl["a"].to_numpy(), tbl["b"].to_numpy()
        )
        id_t = tbl.schema.field("a").type  # the caller's id type
        return edges.sparkSession.createDataFrame(
            pa.table(
                {
                    "node": pa.array(nodes, type=id_t),
                    "comp": pa.array(comps, type=id_t),
                }
            )
        )
    labels = (
        und.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
        .transform(stabilize)
    )
    prev_sum = labels.agg(F.sum(F.col("comp").cast("decimal(38,0)"))).collect()[0][0]
    for _ in range(max_iter):
        nbr = (
            und.join(
                labels.select(F.col("node").alias("b"), "comp"), "b"
            )
            .groupBy("a")
            .agg(F.min("comp").alias("nbr_comp"))
        )
        stepped = labels.join(
            nbr.select(F.col("a").alias("node"), "nbr_comp"), "node", "left"
        ).select(
            "node",
            F.least(F.col("comp"), F.coalesce("nbr_comp", F.col("comp"))).alias("comp"),
        )
        # pointer jumping: follow the label one hop (labels are node
        # ids). One jump per round is the measured sweet spot: a
        # round-9 experiment with TWO jumps per round (compounding to
        # ~4x chain-depth reduction) cut round counts but the extra
        # self-join per round cost MORE than the rounds it saved —
        # ingest-probe components went 11.2s -> 14.2s and the full
        # rebuild 16.2s -> 18.8s — so it was reverted. The driver-side
        # loop holds only a round counter and one number either way.
        jumped = stepped.join(
            stepped.select(
                F.col("node").alias("pnode"), F.col("comp").alias("pcomp")
            ),
            stepped["comp"] == F.col("pnode"),
            "left",
        ).select("node", F.coalesce("pcomp", "comp").alias("comp"))
        labels = jumped.transform(stabilize)
        cur_sum = labels.agg(
            F.sum(F.col("comp").cast("decimal(38,0)"))
        ).collect()[0][0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels


def dedup_survivors(
    docs: DataFrame,
    components: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Collapse each near-dup cluster to its canonical (min-id) document:
    docs not in any component survive as-is; within a component only the
    node equal to the component label survives."""
    comp = components.select(
        F.col("node").alias(id_col), F.col("comp").alias("__comp")
    )
    joined = docs.join(comp, id_col, "left")
    return joined.filter(
        F.col("__comp").isNull() | (F.col(id_col) == F.col("__comp"))
    ).drop("__comp")
