"""Exact-substring deduplication (Lee et al. 2022, "Deduplicating
Training Data Makes Language Models Better" — the ExactSubstr tier).

Whole-doc hashing (x1), shingle-Jaccard (x2), MinHash (x2b) and
winnowing (x23) all DECIDE AT DOCUMENT GRANULARITY: a doc is either a
duplicate or it isn't. The paper's second dedup tier is finer: any
token SPAN of length ≥ L that occurs in more than one document is
excised from the documents themselves, keeping each doc's unique
remainder. C4/RefinedWeb/FineWeb-class pipelines run this *in
addition to* MinHash — boilerplate (licenses, navigation chrome,
quoted passages) survives document-level dedup because the documents
around it differ, and span excision is the only tier that removes it.

The paper builds one giant suffix array over the concatenated corpus —
exact, but a single sequential data structure. The Spark-shaped
equivalent used here decomposes into relational stages with the same
output:

  1. TOKENIZE      — one corpus scan; the repo-wide single-space
                     tokenizer (functions/text.py contract).
  2. SHINGLE-HASH  — every position p emits the 128-bit hash of the
                     L-token window starting at p. A span of length
                     m ≥ L duplicated across docs produces m-L+1
                     consecutive duplicated windows, so window-level
                     detection reconstructs full spans exactly.
                     Computed in one Arrow-batched mapInPandas pass:
                     per-token blake2b-64, then a sliding polynomial
                     combination over two independent odd bases mod
                     2^64 (numpy uint64 wraparound — vectorized, no
                     per-pair Python). Zero shuffles; the corpus never
                     replicates L× as literal shingle STRINGS — each
                     position ships 16 hash bytes, not ~L tokens
                     (that 20-30× shuffle-byte saving is the reason
                     detection runs on hashes; collision probability
                     is the usual two-independent-64-bit ~2^-128
                     argument the repo's digest machinery documents).
  3. DETECT        — groupBy(h1, h2) with agg(min(doc) <> max(doc)):
                     map-side combinable (partial aggregation eats
                     repeats BEFORE the exchange, so a million-doc
                     boilerplate shingle crosses the wire once per
                     input partition, not once per occurrence — the
                     skew guard x2 needs a df-cap for is structural
                     here, no cap and no silent recall loss), and
                     min<>max is exactly "≥ 2 distinct docs" without
                     a count-distinct expand.
  4. MARK + MERGE  — occurrences left-semi join the duplicated keys
                     (same partitioning as stage 3 — exchange reuse),
                     then classic gaps-and-islands per doc: running
                     max of span end, a break when the next window
                     starts past end+1, running sum of breaks = island
                     id, min/max per island = merged maximal spans.
                     Only MARKED positions (the duplicated minority)
                     reach the window stage.
  5. EXCISE        — merged spans collapse to one interval-array row
                     per affected doc and join back to the token-array
                     form of the corpus; tokens are dropped with an
                     index-aware filter((x, i) -> ...) lambda. Docs
                     with no duplicated span take the join as a
                     left-join miss and pass through byte-identical.
                     The per-token exists() over the doc's merged
                     interval list is interpreted (CodegenFallback),
                     but the list is a handful of merged spans — the
                     k·dim cliff the assignment path documents needs
                     k in the hundreds; n_spans per doc is single
                     digits by construction (merged, disjoint, ≥ L
                     tokens apart).

Semantics (deterministic, order-free):
  * A window is DUPLICATED iff it occurs in ≥ 2 distinct documents;
    repeats within a single document do not mark (the paper's
    cross-document criterion).
  * keep="all": every occurrence of a duplicated window is excised —
    both copies lose the span (the fixture-pinned contract: two docs
    sharing one long span both keep exactly their unique tails).
    keep="first": the paper's all-but-one rule — the lexicographically
    smallest (doc, pos) occurrence stays (substring_dedup docstring).
    substring_dedup_fixpoint iterates either rule until no duplicated
    span remains; substring_decontaminate excises spans shared with a
    separate benchmark corpus instead of within-corpus duplicates.
  * Output accounting per doc: orig/kept/removed token counts and the
    merged-span count — removal is never silent.

100 TB audit: stages shuffle (a) 16-byte hash keys + (doc, pos) for
detection — uniform by construction (hashes), (b) marked positions by
doc id — the duplicated minority only, (c) the interval rows (one per
affected doc) joining the corpus — broadcastable when small, AQE
otherwise. No stage is quadratic in anything; the only corpus-sized
exchange is (a), which is the suffix-array sort's relational twin and
carries ~32 bytes/token.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dmshadoop_spark import generations
from dmshadoop_spark.functions.checkpoint import stabilize
from dmshadoop_spark.functions.text import tokenize

# Two independent odd bases for the sliding polynomial combination —
# odd => invertible mod 2^64, so distinct windows of per-token hashes
# collide with probability ~2^-64 per base, ~2^-128 combined.
_BASE1 = np.uint64(0x9E3779B97F4A7C15)
_BASE2 = np.uint64(0xC2B2AE3D27D4EB4F)


# Per-token hashes are cached across documents within a worker batch:
# token frequency is Zipfian, so the cache converts the hot loop from
# one blake2b per token OCCURRENCE to one per DISTINCT token (the sf5
# probe measured the hash stage as the dominant term before this).
# Same hash values, bit-identical output; the cap bounds worker memory
# on adversarially-unique vocabularies.
_TOKEN_CACHE_MAX = 1_000_000


def _window_hashes(tokens, L: int, cache=None):
    """(h1, h2) uint64 arrays for every L-token window of ``tokens``."""
    n = len(tokens)
    if n < L:
        return (np.empty(0, np.uint64), np.empty(0, np.uint64))
    if cache is None:
        cache = {}
    miss = cache.get
    th = np.empty(n, dtype=np.uint64)
    for i, t in enumerate(tokens):
        h = miss(t)
        if h is None:
            h = int.from_bytes(
                hashlib.blake2b(t.encode("utf-8"), digest_size=8).digest(),
                "little",
            )
            if len(cache) < _TOKEN_CACHE_MAX:
                cache[t] = h
        th[i] = h
    sw = np.lib.stride_tricks.sliding_window_view(th, L)
    out = []
    for base in (_BASE1, _BASE2):
        # powers mod 2^64 via Python ints (numpy scalar ops warn on the
        # intended wraparound; the ARRAY ops below wrap silently)
        b, p, pws = int(base), 1, []
        for _ in range(L):
            pws.append(p)
            p = (p * b) & 0xFFFFFFFFFFFFFFFF
        pw = np.array(pws, dtype=np.uint64)
        out.append((sw * pw[::-1]).sum(axis=1, dtype=np.uint64))
    return out[0], out[1]


_INTEGRAL_TYPES = ("tinyint", "smallint", "int", "bigint")


def _require_integral_id(docs: DataFrame, id_col: str) -> None:
    """Every substring-dedup path packs doc ids into int64 numpy blocks
    (``_occurrence_table``'s ``np.full(..., dtype=np.int64)`` and the
    ``'_id long'`` mapInPandas schema), so a string/decimal id fails
    deep inside a Python worker with an opaque cast error (round-10
    ADVICE). Validate up front with a clear message — the same contract
    ``blocked_cosine_pairs(vectorized=True)`` enforces
    (semdedup.py)."""
    id_t = dict(docs.dtypes).get(id_col)
    if id_t not in _INTEGRAL_TYPES:
        raise ValueError(
            f"substring dedup requires an integral id column (doc ids "
            f"travel through int64 numpy blocks in the occurrence "
            f"table); {id_col!r} is {id_t}. Derive one first, e.g. "
            f"xxhash64(id) or monotonically_increasing_id(), and join "
            f"back after excision."
        )


def _token_table(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(_id, t) — the repo tokenizer over ``text_col``; null text ≡ empty
    text (one "" token, passes through excision untouched). Raises
    ValueError on non-integral ``id_col`` — see
    ``_require_integral_id``; the restriction applies to EVERY path
    (both keep variants, decontaminate, fixpoint), not only
    keep='first'."""
    _require_integral_id(docs, id_col)
    return docs.select(
        F.col(id_col).alias("_id"),
        tokenize(F.coalesce(F.col(text_col), F.lit(""))).alias("t"),
    )


def _occurrence_table(toks: DataFrame, L: int) -> DataFrame:
    """(_id, pos, h1, h2) — one row per L-token window, hashed in one
    Arrow pass (module docstring stage 2). NOT stabilized; callers that
    consume it more than once checkpoint it themselves."""

    def emit(batches):
        import pandas as pd

        cache: dict = {}  # per-task token-hash cache, shared across docs
        for pdf in batches:
            ids, poss, h1s, h2s = [], [], [], []
            for did, t in zip(pdf["_id"], pdf["t"]):
                h1, h2 = _window_hashes(list(t), L, cache)
                m = len(h1)
                if m:
                    ids.append(np.full(m, did, dtype=np.int64))
                    poss.append(np.arange(m, dtype=np.int64))
                    h1s.append(h1)
                    h2s.append(h2)
            if ids:
                yield pd.DataFrame(
                    {
                        "_id": np.concatenate(ids),
                        "pos": np.concatenate(poss),
                        # reinterpret as signed for Spark's long
                        "h1": np.concatenate(h1s).view(np.int64),
                        "h2": np.concatenate(h2s).view(np.int64),
                    }
                )

    return toks.mapInPandas(emit, "_id long, pos long, h1 long, h2 long")


def _merge_marked_islands(marked: DataFrame) -> DataFrame:
    """Gaps-and-islands over (_id, pos, end) marked windows →
    (_id, s, e) maximal merged spans."""
    w_prev = (
        Window.partitionBy("_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        marked.withColumn(
            "brk",
            (
                F.col("pos")
                > F.coalesce(F.max("end").over(w_prev), F.lit(-2)) + 1
            ).cast("int"),
        )
        .withColumn("g", F.sum("brk").over(w_run))
        .groupBy("_id", "g")
        .agg(F.min("pos").alias("s"), F.max("end").alias("e"))
    )


def _excise(toks: DataFrame, islands: DataFrame, id_col: str) -> DataFrame:
    """Shared assembly (module docstring stage 5): merged spans collapse
    to one interval-array row per affected doc, join the token-array
    corpus, and tokens drop through an index-aware filter; untouched
    docs pass through as a left-join miss."""
    ivals = islands.groupBy("_id").agg(
        F.sort_array(F.collect_list(F.struct("s", "e"))).alias("ivals"),
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.col("e") - F.col("s") + 1).alias("removed"),
    )
    out = toks.join(ivals, "_id", "left")
    kept_t = F.when(
        F.col("ivals").isNull(), F.col("t")
    ).otherwise(
        F.expr(
            "filter(t, (x, i) -> not exists(ivals, v -> i >= v.s and i <= v.e))"
        )
    )
    return out.select(
        F.col("_id").alias(id_col),
        F.concat_ws(" ", kept_t).alias("clean_text"),
        F.size("t").cast("long").alias("orig_tokens"),
        (F.size("t") - F.coalesce(F.col("removed"), F.lit(0)))
        .cast("long")
        .alias("kept_tokens"),
        F.coalesce(F.col("removed"), F.lit(0))
        .cast("long")
        .alias("removed_tokens"),
        F.coalesce(F.col("n_spans"), F.lit(0)).cast("long").alias("n_spans"),
    )


_OCC_SCHEMA = "_id long, pos long, h1 long, h2 long"
# on-disk schema: same rows plus the hash-prefix bucket partition column
_OCC_SCHEMA_B = "_id long, pos long, h1 long, h2 long, b int"
_OCC_BUCKETS = 64  # fallback bucket count; stored per-generation in _meta.json

# Adaptive bucket sizing (round 12, guide §6): every per-commit cost of
# the index — build/append file count, hardlink count, and the probe's
# per-bucket file opens — is O(buckets), while probe pruning only needs
# buckets ∝ data. A CONSTANT 64 is wrong at both ends: at test SFs it
# writes/links/opens 64 near-empty files per commit (measured ~2 s of
# x42's 5 s), and at 100 TB it would leave multi-TB buckets. The count
# is derived from the source's optimizer size estimate (file-size based
# for parquet scans — no extra job): one bucket per ~64 MB of source
# text keeps compacted bucket files in the guide's 128 MB–1 GB window
# (the index carries ~4× the source bytes at 32 B/window), floored at 8
# and capped at 65 536 directories, rounded to a power of two so the
# layout is stable under small growth. Buckets travel in _meta.json, so
# mixed-bucket generations can never disagree with their files; results
# are bucket-count-independent by construction (b only routes storage).
_OCC_AUTO_BUCKET_SRC_BYTES = 64 * 1024 * 1024
_OCC_AUTO_BUCKET_MIN = 8
_OCC_AUTO_BUCKET_MAX = 65536


def _auto_buckets(src: DataFrame) -> int:
    """Bucket count from ``src``'s compile-time size estimate; falls
    back to ``_OCC_BUCKETS`` when no estimate is available (in-memory
    relations report Long.MaxValue-ish defaults — treated as absent)."""
    try:
        est = int(
            str(
                src._jdf.queryExecution()
                .optimizedPlan()
                .stats()
                .sizeInBytes()
            )
        )
    except Exception:
        return _OCC_BUCKETS
    if est <= 0 or est >= 2**62:  # unknown / session-default estimate
        return _OCC_BUCKETS
    raw = max(
        _OCC_AUTO_BUCKET_MIN,
        min(
            _OCC_AUTO_BUCKET_MAX,
            -(-est // _OCC_AUTO_BUCKET_SRC_BYTES),
        ),
    )
    return 1 << (raw - 1).bit_length()  # next power of two

# ---------------------------------------------------------------------------
# Occurrence-index storage (round-11 verdict task 2). Layout v2 — MVCC
# generations of a HASH-PREFIX-BUCKETED table, each committed through
# dmshadoop_spark/generations.py (the protocol and its guarantees live
# there):
#
#   <index>/gen=N/_meta.json          {"format":2,"buckets":NB,"min_len":L}
#   <index>/gen=N/_SUCCESS
#   <index>/gen=N/b=<pmod(h1,NB)>/part-*.parquet
#
# Every mutation (build, per-batch append, compact) is one generation
# commit, so a crash mid-append can never leave the index missing part
# of an accepted batch's windows: either the whole batch is indexed or
# the index is byte-identical to before (the failed ingest call raises
# and the caller retries the batch).
#
# CARRIED GENERATIONS (round 13, r12 verdict task 4): an append's new
# generation holds ONLY the batch's new bucket files; the files it
# shares with the previous snapshot are recorded as a `"carries"` list
# of generation numbers in its _meta.json (the resolved chain, not a
# recursive pointer; generations.carries reads it and raises on a
# corrupt manifest), and the reader unions the chain's directory
# scans. Until round 12 the append HARDLINKED every carried bucket file
# into the staging dir — O(total index files) metadata ops per commit,
# ~65k hardlinks per batch at the bucket cap (the scale-killer class
# the r12 verdict flagged). Now commit metadata is O(1): new files +
# one meta write + one rename; file COUNTS are unchanged (appends
# added ≤1 file/bucket/batch under both layouts — compact_index folds
# either way, and a compacted generation is self-contained, which
# bounds chain length by the compaction cadence). The bucket partition
# column still makes the per-batch probe PRUNE: each chain member's
# scan reads only the `b=` directories the batch's hashes map to
# (plan-asserted PartitionFilters), so probe IO stays bounded by the
# batch's bucket footprint, not the whole index.
# ---------------------------------------------------------------------------


def _occ_meta(path: str) -> dict | None:
    """The CURRENT generation's metadata — buckets and min_len travel
    inside the generation dir so they commit atomically with the data
    (a re-bucketing compact can never leave meta and files disagreeing,
    which would silently mis-prune the probe). None when nothing is
    committed; raises on a corrupt manifest (``generations.manifest``)."""
    gen = generations.current(path)
    return None if gen is None else generations.manifest(path, gen)


def _occ_with_bucket(occ: DataFrame, nb: int) -> DataFrame:
    return occ.withColumn(
        "b", F.pmod(F.col("h1"), F.lit(int(nb))).cast("int")
    )


def _occ_stage(occ_b: DataFrame, nb: int, L: int, sort: bool = False,
               wide: bool = True, carries: list[int] | None = None):
    """The stage callback of an index commit: it writes a bucketed
    occurrence frame + its _meta.json into the staging dir.
    Repartitioning on ``b`` co-locates each bucket's rows, so a commit
    adds at most ONE file per bucket (hashes are uniform, so buckets
    are skew-free by construction). ``wide=True`` (builds/compacts)
    uses nb tasks for full-table parallelism; ``wide=False`` (per-batch
    appends) keeps the session's shuffle-partition count — a small
    batch must not pay nb-task scheduling for a handful of rows (the
    growth probe measured the 256-task append tax exceeding the scan
    savings at small scale). ``sort`` additionally orders rows by
    (h1, h2) within each bucket so compacted files carry tight parquet
    row-group stats. ``carries`` (sorted) lists the generations the new
    one reads besides its own files."""
    part = (
        occ_b.repartition(int(nb), "b") if wide else occ_b.repartition("b")
    )
    if sort:
        part = part.sortWithinPartitions("b", "h1", "h2")

    def stage(staging: str) -> None:
        # the staging dir exists already: append into it
        part.write.mode("append").partitionBy("b").parquet(staging)
        meta = {"format": 2, "buckets": int(nb), "min_len": int(L)}
        if carries:
            meta["carries"] = carries
        generations.write_manifest(staging, meta)

    return stage


def _index_committed(path: str | None) -> bool:
    return path is not None and _occ_meta(path) is not None


def _occ_validate_min_len(meta: dict, L: int, path: str) -> None:
    if meta.get("min_len") != L:
        raise ValueError(
            f"occurrence index at {path} was built with "
            f"min_len={meta.get('min_len')}, queried with min_len={L}; "
            f"the index is bound to (corpus, tokenizer, min_len)"
        )


def read_occurrence_index(spark, path: str) -> DataFrame:
    """Reader over the committed occurrence index's CURRENT snapshot:
    (_id, pos, h1, h2, b) with ``b`` the hash-prefix partition column
    (filters on ``b`` prune at the directory level). The snapshot is
    the current generation's own files plus the generations its meta
    ``carries`` (appends commit only the batch's new files — see the
    layout comment); each chain member is one partitioned directory
    scan, so bucket pruning applies per member."""
    chain = generations.snapshot(path)
    if not chain:
        raise ValueError(f"no committed occurrence index at {path}")
    out = None
    for g in chain:
        part = spark.read.schema(_OCC_SCHEMA_B).parquet(
            generations.gen_path(path, g)
        )
        out = part if out is None else out.unionByName(part)
    return out


def _read_occ_buckets(spark, path: str, hit: list[int]) -> DataFrame:
    """Reader over ONLY the given hash-prefix buckets of the current
    snapshot (chain-aware). Passing the hit ``b=`` directories as the
    read paths bounds the driver-side FILE LISTING by the batch's
    bucket footprint too: ``read_occurrence_index`` lists every
    partition directory of every chain member before pruning — at a
    4096-bucket index that listing alone cost ~6 s of every tiny-batch
    probe (round-13 breakdown), dwarfing the actual pruned scan."""
    chain = generations.snapshot(path)
    if not chain:
        raise ValueError(f"no committed occurrence index at {path}")
    out = None
    for g in chain:
        gp = generations.gen_path(path, g)
        dirs = [
            d
            for d in (os.path.join(gp, f"b={b}") for b in hit)
            if os.path.isdir(d)
        ]
        if not dirs:
            continue
        part = (
            spark.read.schema(_OCC_SCHEMA_B)
            .option("basePath", gp)
            .parquet(*dirs)
        )
        out = part if out is None else out.unionByName(part)
    if out is None:
        return spark.createDataFrame([], _OCC_SCHEMA_B)
    return out


def _index_probe(spark, index_table: str, batch_hashes: DataFrame,
                 nb: int) -> DataFrame:
    """The per-batch membership probe: which of the batch's distinct
    (h1, h2) windows already exist in the index. The batch side is the
    BROADCAST build side (≤ the batch's distinct windows); the index
    side reads ONLY the buckets the batch's hashes map to — a bounded
    driver collect of ≤ nb small ints picks the ``b=`` directories to
    read (listing AND scan bounded by the batch's bucket footprint; the
    residual IN-filter keeps the partition pruning plan-asserted by
    test_index_probe_prunes_buckets)."""
    hit = sorted(
        r["b"]
        for r in _occ_with_bucket(batch_hashes, nb)
        .select("b")
        .distinct()
        .collect()
    )
    idx = _read_occ_buckets(spark, index_table, hit)
    return (
        idx.where(F.col("b").isin(hit))
        .select("h1", "h2")
        .join(F.broadcast(batch_hashes), ["h1", "h2"], "left_semi")
        .distinct()
    )


def _occ_via_index(spark, toks: DataFrame, L: int, index_table: str | None):
    """The occurrence table, materialized: from the committed
    ``index_table`` when present (hash scan skipped), persisted TO it
    when given-but-empty, else localCheckpoint via ``stabilize``."""
    if _index_committed(index_table):
        _occ_validate_min_len(_occ_meta(index_table), L, index_table)
        return read_occurrence_index(spark, index_table).select(
            "_id", "pos", "h1", "h2"
        )
    occ = _occurrence_table(toks, L)
    if index_table is not None:
        nb = _auto_buckets(toks)
        generations.commit(
            index_table, _occ_stage(_occ_with_bucket(occ, nb), nb, L)
        )
        return read_occurrence_index(spark, index_table).select(
            "_id", "pos", "h1", "h2"
        )
    return stabilize(occ)


def build_occurrence_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 50,
    mode: str = "overwrite",
    buckets: int | None = None,
) -> DataFrame:
    """Materialize the corpus's window-hash occurrence table as a REAL
    hash-prefix-bucketed MVCC parquet table (layout comment above) and
    return a reader over it (round-10 verdict tasks 2 + 7). Two uses:

      * ``substring_dedup(..., index_table=path)`` reuses it instead of
        re-hashing the corpus — and a real table also replaces the
        same-session localCheckpoint whose executor-storage
        accumulation SCALE.md's x39 note flags (blocks pinned until
        eviction storms; a parquet table is bounded, shareable across
        sessions, and vacuumable).
      * ``substring_ingest`` probes it per batch (reading only the
        batch's hash buckets) and appends accepted remainders
        atomically, keeping it ≡ the occurrence table of
        corpus ∪ accepted batches.

    A rebuild over an existing index commits as the NEXT generation
    (mode="overwrite", the default) and vacuums the superseded ones;
    mode="error" refuses to touch a committed index. The table is bound
    to (corpus, tokenizer, min_len) — enforced: probes with a different
    min_len raise. Maintenance: ``compact_index`` /
    ``vacuum_index``."""
    L = int(min_len)
    nb = int(buckets) if buckets is not None else _auto_buckets(docs)
    cur = generations.current(path)
    if cur is not None and mode in ("error", "errorifexists"):
        raise ValueError(f"occurrence index already committed at {path}")
    occ = _occurrence_table(_token_table(docs, id_col, text_col), L)
    generations.commit(path, _occ_stage(_occ_with_bucket(occ, nb), nb, L))
    if cur is not None:
        vacuum_index(path, keep_last=1)
    return read_occurrence_index(docs.sparkSession, path)


def compact_index(spark, path: str, buckets: int | None = None) -> int:
    """OPTIMIZE for the occurrence index: rewrite the current generation
    as ONE (h1, h2)-sorted file per bucket, committed as the next
    generation. Per-batch appends add ≤ one small file per bucket per
    batch; compaction folds them back so the probe's per-bucket read is
    one sequential sorted file with tight row-group stats — the same
    scheduled-maintenance role DocumentStore.compact plays for data
    files. ``buckets`` re-buckets (meta updates atomically with the
    rewrite); default keeps the current bucket count. Returns the new
    generation number; superseded generations stay time-travelable
    until ``vacuum_index``."""
    meta = _occ_meta(path)
    if meta is None:
        raise ValueError(f"no committed occurrence index at {path}")
    nb = int(buckets) if buckets is not None else int(meta["buckets"])
    occ = read_occurrence_index(spark, path).select(
        "_id", "pos", "h1", "h2"
    )
    return generations.commit(
        path,
        _occ_stage(
            _occ_with_bucket(occ, nb), nb, int(meta["min_len"]), sort=True
        ),
    )


def vacuum_index(path: str, keep_last: int = 1) -> list[int]:
    """Drop committed index generations that are neither among the
    newest ``keep_last`` nor CARRIED by one of them (a kept append
    generation reads its carried ancestors' files, so those directories
    must survive — ``generations.vacuum``). Returns the removed
    generation numbers."""
    return generations.vacuum(path, keep_last)


def substring_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 50,
    keep: str = "all",
    index_table: str | None = None,
) -> DataFrame:
    """Excise cross-document duplicated token spans of ≥ ``min_len``
    tokens; one output row per input doc:
    (id, clean_text, orig_tokens, kept_tokens, removed_tokens, n_spans).

    ``keep`` picks the paper variant:
      * "all" (default) — every occurrence of a duplicated span is
        excised; the shared content disappears from the corpus.
      * "first" — the paper's all-but-one rule at window granularity:
        each duplicated window names the lexicographically smallest
        (doc, pos) occurrence its CANONICAL copy, and a token position
        is excised only when no window covering it is canonical right
        there — so the min-id document keeps the shared span and every
        other occurrence loses it. Deterministic (no RNG, total order
        on (doc, pos)); requires integral doc ids like the rest of the
        hashed path.

    See the module docstring for the algorithm and scale audit; "first"
    adds one explode of the MARKED minority to token granularity
    (duplicated-window count × L rows — never corpus-sized).

    SINGLE-PASS semantics (same as the paper's tooling): excising a
    middle span joins its flanks, and the joined text can form a NEW
    ≥L-token window that duplicates another document — such
    juncture-created duplicates are not re-detected within one pass.
    Pipelines wanting a fixpoint re-run the operator on its own output
    until removed_tokens is zero; duplicates present in the INPUT are
    always removed in one pass.

    ``index_table`` (round-10 verdict task 7): a path. When it holds a
    committed occurrence table (``build_occurrence_index``), the hash
    scan is SKIPPED and detection reads the table — re-running the
    operator against an unchanged corpus costs zero tokenize/hash work.
    When the path is empty, the freshly computed occurrence table is
    persisted there (becoming the materialization point — no
    checkpoint) before detection proceeds. The table must match
    (docs, min_len); that binding is the caller's contract."""
    L = int(min_len)
    if L < 2:
        raise ValueError("min_len must be ≥ 2")
    if keep not in ("all", "first"):
        raise ValueError(f"keep must be 'all' or 'first', got {keep!r}")
    toks = _token_table(docs, id_col, text_col)

    # occ feeds BOTH the detection agg and the mark semi-join; without
    # materialization each consumer re-runs the scan + tokenize + Arrow
    # hashing subtree (the round-3 repeated-fact-scan audit class —
    # SCALE.md #5). Stabilized (or persisted as the index_table), the
    # corpus is hashed exactly once; the materialized (id, pos, h1, h2)
    # table is ~32 bytes/token. The final excision join below re-scans
    # documents for the token arrays instead of persisting them — 2
    # pruned column scans total, cheaper at 100 TB than storing a
    # tokenized copy of the corpus.
    occ = _occ_via_index(docs.sparkSession, toks, L, index_table)
    dup = (
        occ.groupBy("h1", "h2")
        .agg(
            F.min("_id").alias("_a"),
            F.max("_id").alias("_b"),
            F.min(F.struct("_id", "pos")).alias("_canon"),
        )
        .where(F.col("_a") != F.col("_b"))
    )
    if keep == "all":
        marked = occ.join(
            dup.select("h1", "h2"), ["h1", "h2"], "left_semi"
        ).select("_id", "pos", (F.col("pos") + F.lit(L - 1)).alias("end"))
        islands = _merge_marked_islands(marked)
    else:  # keep == "first" — the paper's all-but-one semantic
        # every marked occurrence explodes to the L token positions it
        # covers (volume = duplicated windows × L only — the marked
        # minority, never the corpus); a position survives excision iff
        # SOME covering window's canonical occurrence is right here.
        marked = occ.join(
            dup.select("h1", "h2", "_canon"), ["h1", "h2"]
        ).select(
            "_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(L - 1))
            ).alias("p"),
            (
                (F.col("_canon._id") == F.col("_id"))
                & (F.col("_canon.pos") == F.col("pos"))
            ).alias("is_canon"),
        )
        exc = (
            marked.groupBy("_id", "p")
            .agg(F.max("is_canon").alias("canon_cov"))
            .where(~F.col("canon_cov"))
        )
        # consecutive excised positions → maximal spans (p − row_number
        # is constant within a run)
        w_rn = Window.partitionBy("_id").orderBy("p")
        islands = (
            exc.withColumn("g", F.col("p") - F.row_number().over(w_rn))
            .groupBy("_id", "g")
            .agg(F.min("p").alias("s"), F.max("p").alias("e"))
        )
    return _excise(toks, islands, id_col)


def substring_decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str | None = None,
    min_len: int = 50,
    index_table: str | None = None,
) -> DataFrame:
    """Substring-level eval decontamination: excise from every TRAIN
    document each token span of ≥ ``min_len`` tokens that also appears
    ANYWHERE in the ``benchmark`` corpus — the eval-set counterpart of
    exact-substring dedup (the GPT-3 appendix / Lee et al. 2022
    decontamination discipline; x9/x22 do this at whole-shingle
    membership granularity, this operator removes the overlapping SPAN
    itself and keeps the document's unique remainder). One output row
    per train doc, same accounting contract as ``substring_dedup``.

    Shape: the benchmark side reduces to its DISTINCT window-hash set
    (16 bytes per distinct window — eval sets are tiny next to training
    corpora, so the semi join's build side is naturally small and AQE
    broadcasts it); the train side is one hash scan + the shared
    gaps-and-islands excision. Within-train duplication is NOT touched
    here — compose with ``substring_dedup`` for that. Single-pass
    juncture semantics as in ``substring_dedup``: spans present in the
    input are always removed; a juncture-created overlap needs a
    re-run.

    ``index_table`` (round 12): a committed occurrence index of the
    TRAIN corpus (build_occurrence_index — same caller contract as
    ``substring_dedup(index_table=)``) replaces the train hash scan
    entirely, and — because the benchmark's distinct windows are the
    TINY side — the index read prunes to the benchmark's hit buckets:
    this is the point-probe regime the bucketed layout exists for, IO
    ~(bench windows / buckets) of the index instead of a full corpus
    hash pass per decontamination run (re-screening a 100 TB corpus
    against each new eval set is the production recurrence)."""
    L = int(min_len)
    if L < 2:
        raise ValueError("min_len must be ≥ 2")
    toks = _token_table(train, id_col, text_col)
    bench_toks = _token_table(
        benchmark, id_col, bench_text_col or text_col
    )
    bench_windows = (
        _occurrence_table(bench_toks, L).select("h1", "h2").distinct()
    )
    if _index_committed(index_table):
        _occ_validate_min_len(_occ_meta(index_table), L, index_table)
        nb = int(_occ_meta(index_table)["buckets"])
        bench_windows = stabilize(bench_windows)  # hashed once, used twice
        hit = sorted(
            r["b"]
            for r in _occ_with_bucket(bench_windows, nb)
            .select("b").distinct().collect()
        )
        occ = (
            read_occurrence_index(train.sparkSession, index_table)
            .where(F.col("b").isin(hit))
            .select("_id", "pos", "h1", "h2")
        )
        bench_windows = F.broadcast(bench_windows)
    else:
        occ = _occurrence_table(toks, L)
    marked = occ.join(bench_windows, ["h1", "h2"], "left_semi").select(
        "_id", "pos", (F.col("pos") + F.lit(L - 1)).alias("end")
    )
    islands = _merge_marked_islands(marked)
    return _excise(toks, islands, id_col)


def substring_dedup_fixpoint(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 50,
    keep: str = "all",
    max_passes: int = 5,
) -> DataFrame:
    """Iterate ``substring_dedup`` until no duplicated span remains (or
    ``max_passes``) — closing the single-pass juncture gap the one-pass
    docstring documents: excising a middle span joins its flanks, and
    the joined text can itself duplicate another document; each pass
    re-detects over the previous pass's output.

    Returns one row per doc: (id, clean_text, orig_tokens, kept_tokens,
    removed_tokens, n_passes) — orig from the ORIGINAL input,
    kept/removed against it, and n_passes the number of passes that
    actually removed something (identical for every row: it is a
    corpus-level property). Convergence is certain: every productive
    pass strictly shrinks total corpus tokens, and a pass that removes
    nothing is the fixpoint (the loop re-checks nothing after it).

    Scale posture: each pass is the full one-pass pipeline (linear,
    measured — SCALE.md round 10) plus one bounded driver scalar (the
    cumulative removed-token sum); inter-pass frames are stabilize()d so
    pass k+1 scans materialized text, not a k-deep lineage. The per-doc
    removed-token accumulator rides INSIDE the stabilized step frame
    (column ``_r``) — the round-10 audit flagged the previous
    chain-of-joins accumulator, whose lineage grew linearly in passes;
    folded, every pass carries exactly one materialized frame. Real
    corpora converge in 1-2 passes — junctures need the excised span's
    exact flanks to reproduce elsewhere."""
    cur = docs.select(
        F.col(id_col).alias("_id"),
        F.coalesce(F.col(text_col), F.lit("")).alias("_text"),
        F.lit(0).cast("long").alias("_r"),
    )
    orig = None
    prev_total = 0
    passes = 0
    for _ in range(max_passes):
        out = substring_dedup(cur, "_id", "_text", min_len, keep)
        if orig is None:
            orig = stabilize(out.select("_id", "orig_tokens"))
        step = stabilize(
            out.select(
                "_id",
                F.col("clean_text").alias("_text"),
                "removed_tokens",
            )
            .join(cur.select("_id", "_r"), "_id")
            .select(
                "_id",
                "_text",
                (F.col("_r") + F.col("removed_tokens")).alias("_r"),
            )
        )
        total = step.agg(F.sum("_r")).first()[0] or 0
        cur = step
        if total == prev_total:  # this pass removed nothing: fixpoint
            break
        prev_total = total
        passes += 1
    # cur holds the fixpoint text + the exact per-doc removed accumulator
    # (recounting tokens of "" would miscount the empty-text convention
    # where "" tokenizes to one empty token)
    out = cur.select(
        "_id", F.col("_text").alias("clean_text"), "_r"
    ).join(orig, "_id")
    return out.select(
        F.col("_id").alias(id_col),
        "clean_text",
        "orig_tokens",
        (F.col("orig_tokens") - F.coalesce(F.col("_r"), F.lit(0)))
        .cast("long")
        .alias("kept_tokens"),
        F.coalesce(F.col("_r"), F.lit(0)).cast("long").alias("removed_tokens"),
        F.lit(passes).cast("long").alias("n_passes"),
    )


def substring_ingest(
    batch: DataFrame,
    index_table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 50,
    keep: str = "all",
) -> DataFrame:
    """O(batch) at-ingest twin of ``substring_dedup`` (round-10 verdict
    task 2 — every other dedup tier has one: x21 minhash, x22 decontam,
    x35d semantic). Excises from each INCOMING document every token
    span of ≥ ``min_len`` tokens that (a) already appears in the
    indexed corpus or (b) appears in more than one batch document, then
    appends the accepted remainders' window hashes to the index. The
    corpus is never rewritten; returns the ``substring_dedup``-shaped
    accounting frame for the batch.

    ``keep``: "all" excises every occurrence (corpus content wins
    everywhere; batch-internal duplicated spans vanish from the batch);
    "first" applies the paper's all-but-one rule WITHIN the batch — a
    batch-duplicated window's lexicographically smallest (doc, pos)
    occurrence survives, but corpus-matched windows are always excised
    (the corpus already holds a canonical copy).

    Scale shape (the O(batch) contract): the batch tokenizes and hashes
    once; the index is probed with ONE scan carrying the batch's
    distinct window hashes as a BROADCAST left-semi build side — the
    index never shuffles and never sorts, and the scan reads ONLY the
    hash-prefix buckets the batch's windows map to (static partition
    pruning via a bounded ≤ buckets driver collect — round-11 verdict
    task 2), so per-batch index IO is the batch's bucket footprint,
    not the whole table (the x21 banded-probe posture, plus pruning).
    Batch-internal detection and excision run entirely on batch-sized
    frames. The append recomputes hashes over the CLEAN text, so after
    every ingest the index is exactly the occurrence table of
    corpus ∪ accepted batches — the fold-equivalence x21 pins for
    minhash, pinned here by test_substring_ingest_fold_equivalence.
    Re-ingesting an already-accepted batch is idempotent: every
    remainder window is in the index, so docs with ≥ min_len remaining
    tokens are fully excised and NOTHING new is appended (fragments
    shorter than min_len carry no windows — below the operator's
    granularity, as in the one-shot form).

    A missing/empty ``index_table`` is an empty corpus: the first batch
    self-dedups (cross-doc within the batch) and founds the index."""
    L = int(min_len)
    if L < 2:
        raise ValueError("min_len must be ≥ 2")
    if keep not in ("all", "first"):
        raise ValueError(f"keep must be 'all' or 'first', got {keep!r}")
    spark = batch.sparkSession
    toks = _token_table(batch, id_col, text_col)
    # one hash pass over the batch; feeds the index probe, batch-dup
    # detection, the mark join, and (via excision) the index append
    occ = stabilize(_occurrence_table(toks, L))
    meta = _occ_meta(index_table)
    if meta is not None:
        _occ_validate_min_len(meta, L, index_table)
        nb = int(meta["buckets"])
        # broadcast the BATCH side so the index is scanned once and
        # never shuffled — and scanned PRUNED: only the buckets the
        # batch's hashes map to are read (see _index_probe)
        corpus_hits = _index_probe(
            spark, index_table, occ.select("h1", "h2").distinct(), nb
        )
    else:
        nb = _auto_buckets(toks)
        corpus_hits = spark.createDataFrame([], "h1 long, h2 long")
    dup = (
        occ.groupBy("h1", "h2")
        .agg(
            F.min("_id").alias("_a"),
            F.max("_id").alias("_b"),
            F.min(F.struct("_id", "pos")).alias("_canon"),
        )
        .where(F.col("_a") != F.col("_b"))
        .select("h1", "h2", "_canon")
    )
    if keep == "all":
        hits = (
            corpus_hits.unionByName(dup.select("h1", "h2")).distinct()
        )
        marked = occ.join(hits, ["h1", "h2"], "left_semi").select(
            "_id", "pos", (F.col("pos") + F.lit(L - 1)).alias("end")
        )
        islands = _merge_marked_islands(marked)
    else:  # keep == "first": all-but-one within the batch, corpus wins
        flags = dup.join(
            corpus_hits.withColumn("_corpus", F.lit(True)),
            ["h1", "h2"],
            "full_outer",
        ).select(
            "h1",
            "h2",
            "_canon",
            F.coalesce(F.col("_corpus"), F.lit(False)).alias("_corpus"),
        )
        marked = occ.join(flags, ["h1", "h2"]).select(
            "_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(L - 1))
            ).alias("p"),
            (
                (~F.col("_corpus"))
                & F.col("_canon").isNotNull()
                & (F.col("_canon._id") == F.col("_id"))
                & (F.col("_canon.pos") == F.col("pos"))
            ).alias("is_canon"),
        )
        exc = (
            marked.groupBy("_id", "p")
            .agg(F.max("is_canon").alias("canon_cov"))
            .where(~F.col("canon_cov"))
        )
        w_rn = Window.partitionBy("_id").orderBy("p")
        islands = (
            exc.withColumn("g", F.col("p") - F.row_number().over(w_rn))
            .groupBy("_id", "g")
            .agg(F.min("p").alias("s"), F.max("p").alias("e"))
        )
    out = stabilize(_excise(toks, islands, id_col))
    # fold step: the accepted remainders' windows join the index so the
    # next batch sees corpus ∪ everything accepted so far. The append
    # is one generation commit — a crash leaves the index exactly as
    # before (the failed call raises; re-ingesting the batch is
    # idempotent-safe by construction).
    # Only docs the excision actually TOUCHED need a second hash pass
    # (round 12, guide §4: the Arrow pass is the expensive per-row
    # term): an untouched doc's clean tokens are exactly its original
    # tokens, so its window rows are already in the materialized batch
    # ``occ`` — reuse them via an id semi-join and rehash only the
    # excised docs (whose positions shifted and whose junctures can
    # form new windows). Bit-identical rows either way.
    untouched = out.where(F.col("removed_tokens") == 0).select(
        F.col(id_col).alias("_id")
    )
    clean_occ = occ.join(untouched, "_id", "left_semi").unionByName(
        _occurrence_table(
            _token_table(
                out.where(F.col("removed_tokens") > 0), id_col, "clean_text"
            ),
            L,
        )
    )
    # the new generation holds ONLY the batch's files; the previous
    # snapshot rides along as a carried-generation list (O(1) commit
    # metadata — the pre-r13 layout hardlinked every carried bucket
    # file here, O(total index files) per batch)
    chain = generations.snapshot(index_table)
    write = _occ_stage(
        _occ_with_bucket(clean_occ, nb), nb, L, wide=False, carries=chain
    )

    def stage(staging: str) -> bool:
        write(staging)
        # idempotent re-ingest: nothing accepted carries a new window —
        # no commit (the index already equals corpus ∪ accepted batches)
        return not chain or any(
            e.startswith("b=") for e in os.listdir(staging)
        )

    generations.commit(index_table, stage)
    return out
