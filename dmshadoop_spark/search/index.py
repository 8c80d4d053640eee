"""Full-text search library (SURVEY.md §2.9) — the finished form of the
reference's unfinished Solr delegation (src/DMS.py:345-356, README.md:24
"Search (Working on)").

``build_inverted_index`` materializes the derived index table once per
corpus snapshot (tokenize → explode → partial-count → shuffle on term);
``tfidf_search`` answers queries from it with an ``isin`` filter on the
query's terms — the per-query cost is proportional to the posting lists
touched, not the corpus. This is the library behind queries t2-t5.
DocumentStore.search does not use it: the store writes a postings file
beside every data file and answers from those on the driver
(dms/store.py).

Execution rule: ``tfidf_search`` answers on the driver when all four of
these hold, and runs its Spark plan otherwise:

  * ``n_docs`` is an int > 0 (Spark's ``ln`` gives null at n ≤ 0);
  * Spark's cache holds ``index``'s plan and has fully materialized it
    (``persist()`` then an action). A frame derived from the index has a
    plan, and no cache entry, of its own;
  * that cache's in-memory size (``sizeInBytesStats``) is at most
    ``_DRIVER_INDEX_BYTES``;
  * the postings copy held for ``index`` was taken from that same cache
    entry (its RDD id; ids are never reused within an application and
    change on unpersist/re-persist, so a stale copy is never served).

The first search of such an index collects its (term, doc_id, tf,
doc_freq) rows once through Arrow — one job — and keeps them, grouped
by term, in a map keyed weakly on the frame. Every frame that the same
cache entry serves (equal plans, say two ``build_inverted_index(docs)``
calls) shares that one copy, which is freed with the last of them.
That search and every later one are scored in numpy and returned through
``createDataFrame(pyarrow.Table)``, a local relation: collecting it
starts no job. Like a search server's in-memory index, the gain is in
several searches per persisted index. The numbers are the Spark plan's:
``idf = ln(n / doc_freq)`` by the JVM's ``StrictMath.log`` (numpy's log
differs in the last bits), ``tf * idf`` summed per doc_id, HALF_UP to 4
decimals on the double's shortest decimal form as Spark's ``Round``
does, ranked by (score desc, doc_id asc nulls first). Only the order in
which a document's terms are summed may differ, as it may between two
runs of the Spark plan; that moves a rounded score only when the sum
sits within a few ulps of a rounding boundary.

Measured on a 4-vCPU host: 8 three-term searches after ``persist();
count()`` of the documents of testdata sf0.1 and of tools/gen_scale.py's
replicas of it; warm figures, first-in-process figures in brackets:

  corpus  postings  cache      8 searches       first driver  driver
                               Spark / driver   search        RSS growth
  sf0.1   116k      3.6 MiB    3.2 / 0.7 s      0.39 s        +6-13 MiB
  ×10     1.16M     36.0 MiB   4.5 / 0.8 s      0.51 s        +95-105 MiB
  ×18     2.09M     64.8 MiB   4.7 / 1.3 s      0.90 (2.0) s  +86-177 MiB
                                  (just over the bound: Spark path)
  ×40     4.65M     144.1 MiB  5.8 / 2.5 s      1.82 (2.9) s  +209-352 MiB

A Spark search took 0.38-0.70 s warm (2 jobs), a driver search after the
first 39-97 ms, and both paths gave the same answers everywhere. The
first driver search costs about one Spark search at 36 MiB and 2.6 at
144 MiB, so the driver path loses only to an index searched once or
twice; ``_DRIVER_INDEX_BYTES`` = 64 MiB holds that first search under
about 1.5 Spark searches and the driver's extra memory under about
0.2 GiB.

Jobs the Spark plan starts per search, counted at sf0.01 and sf0.1: an
int ``n_docs`` search is 2 jobs over a persisted index and 4 over an
unpersisted one; the DataFrame ``n_docs`` form (t4b) is 6, plus one
schema-inference job when t4b's ``load_table`` first reads the file.
"""

from __future__ import annotations

import threading
import weakref
from decimal import ROUND_HALF_UP, Context, Decimal

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast
from pyspark.sql.types import DoubleType, StructField, StructType

from dmshadoop_spark.functions.text import tokenize

# Cached in-memory size at or under which a persisted index is searched on
# the driver; a bound on the first search's collect and on driver memory
# (module docstring).
_DRIVER_INDEX_BYTES = 64 << 20

# index frame -> (cache RDD id, postings copy), one copy per cache RDD id
# however many frames it serves; see _held_postings
_HELD: "weakref.WeakKeyDictionary[DataFrame, tuple[int, _Postings]]" = (
    weakref.WeakKeyDictionary()
)
_HELD_LOCK = threading.Lock()


def build_inverted_index(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(term, doc_id, tf) postings plus per-term doc_freq.

    Persist the result as a Parquet table partitioned/sorted by term for
    production use; rebuilding is one batch job (freshness = snapshot
    cadence, SURVEY §4.2).
    """
    from pyspark.sql import Window

    tokens = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode_outer(tokenize(F.col(text_col))).alias("term"),
    ).filter(F.col("term").isNotNull())
    postings = tokens.groupBy("term", "doc_id").agg(
        F.count(F.lit(1)).alias("tf")
    )
    # doc_freq as a window over the postings aggregate, NOT a second
    # aggregate branch joined back: the join form duplicates the whole
    # scan→explode→agg subtree because the inferred isnotnull(term) breaks
    # exchange-reuse canonical equality (SCALE.md finding #5). This form
    # is one scan, one agg exchange, one term-hash window exchange.
    return postings.withColumn(
        "doc_freq", F.count(F.lit(1)).over(Window.partitionBy("term"))
    )


def merge_postings(index: DataFrame, delta_docs: DataFrame,
                   id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Incrementally fold new documents into an existing inverted index
    without re-tokenizing the old corpus.

    Tokenize ONLY the delta, union with the existing (term, doc_id, tf)
    postings, re-sum tf per key (a re-ingested doc_id merges instead of
    duplicating), and recompute doc_freq as the usual window over the
    merged postings. Cost is O(delta tokens) + one shuffle over the merged
    postings — at 100 TB the index refresh touches the day's new documents
    plus the (much smaller, already-aggregated) postings table, not the
    corpus. Result is row-identical to a full rebuild over old∪new docs
    (pinned by tests/test_operators.py::test_merge_postings_equals_rebuild).
    """
    from pyspark.sql import Window

    delta = build_inverted_index(delta_docs, id_col, text_col)
    merged = (
        index.select("term", "doc_id", "tf")
        .unionByName(delta.select("term", "doc_id", "tf"))
        .groupBy("term", "doc_id")
        .agg(F.sum("tf").cast("long").alias("tf"))
    )
    return merged.withColumn(
        "doc_freq", F.count(F.lit(1)).over(Window.partitionBy("term"))
    )


def positional_index(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(term, doc_id, positions) — the phrase-capable index variant.
    Positions are 0-based token offsets, sorted for deterministic arrays.
    Same build cost profile as build_inverted_index: one scan, one
    explode, one shuffle on (term, doc_id)."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode_outer(tokenize(F.col(text_col))).alias("pos", "term"),
    ).filter(F.col("term").isNotNull())
    return toks.groupBy("term", "doc_id").agg(
        F.sort_array(F.collect_list("pos")).alias("positions")
    )


def phrase_search(index: DataFrame, phrase: str, k: int = 10) -> DataFrame:
    """Exact phrase match FROM the positional index (the feature the
    reference deferred to Solr, src/DMS.py:350): join the k phrase terms
    (a broadcast literal), shift each term's positions back by its phrase
    offset, and intersect — a position p survives iff term_i appears at
    p+i for every i, i.e. the full phrase starts at p. Candidate set is
    only the postings of the phrase's terms; the corpus is never
    rescanned. Returns (doc_id, n_hits) ranked by hits then doc_id."""
    terms = [t for t in phrase.lower().split() if t]
    if not terms:
        return index.select("doc_id").limit(0).withColumn(
            "n_hits", F.lit(0).cast("long")
        )
    spark = index.sparkSession
    qdf = spark.range(1).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("offset"), F.lit(t).alias("term")
                    )
                    for i, t in enumerate(terms)
                ]
            )
        ).alias("q")
    ).select("q.offset", "q.term")
    cand = index.join(broadcast(qdf), "term").select(
        "doc_id",
        F.transform(
            F.col("positions"), lambda p: p - F.col("offset")
        ).alias("shifted"),
    )
    per_doc = (
        cand.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.collect_list("shifted").alias("arrs"),
        )
        # every (offset, term) slot must have matched a posting
        .filter(F.col("n_parts") == len(terms))
    )
    hits = F.size(
        F.aggregate(
            F.slice(F.col("arrs"), 2, F.size("arrs") - 1),
            F.element_at("arrs", 1),
            lambda acc, a: F.array_intersect(acc, a),
        )
    )
    return (
        per_doc.select("doc_id", hits.cast("long").alias("n_hits"))
        .filter(F.col("n_hits") > 0)
        .orderBy(F.desc("n_hits"), F.asc("doc_id"))
        .limit(k)
    )


def boolean_search(
    index: DataFrame,
    must: list[str],
    must_not: list[str] | None = None,
    k: int = 10,
) -> DataFrame:
    """Boolean AND/NOT query FROM the inverted/positional index: one
    groupBy over the (few) matching postings — presence of every `must`
    term, absence of every `must_not` term, scored by total tf of the
    `must` terms. No corpus rescans, no joins; the NOT terms ride the
    same aggregation instead of an anti-join."""
    must_not = must_not or []
    tf = (
        F.size("positions")
        if "positions" in index.columns
        else F.col("tf")
    )
    cand = index.filter(F.col("term").isin(*(must + must_not)))
    agg = cand.groupBy("doc_id").agg(
        F.count_distinct(
            F.when(F.col("term").isin(*must), F.col("term"))
        ).alias("n_must"),
        F.max(
            F.when(F.col("term").isin(*must_not), 1).otherwise(0)
            if must_not
            else F.lit(0)
        ).alias("has_neg"),
        F.sum(
            F.when(F.col("term").isin(*must), tf).otherwise(0)
        ).alias("score"),
    )
    return (
        agg.filter(
            (F.col("n_must") == len(must)) & (F.col("has_neg") == 0)
        )
        .select("doc_id", F.col("score").cast("long").alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def tfidf_search(
    index: DataFrame,
    n_docs: int | DataFrame,
    query: str,
    k: int = 10,
) -> DataFrame:
    """Top-k (doc_id, score) for a whitespace query, TF-IDF scored.

    ``n_docs`` is either a plain int or a 1-row DataFrame with an
    ``n_docs`` column (e.g. ``docs.agg(count(*))``): the DataFrame form
    folds the corpus count into the plan as a broadcast cross join, so no
    driver-side action computes it first (t4b's search is 6 jobs at
    sf0.01; on parquet that count branch reads zero data columns).

    ``index`` is ``build_inverted_index``'s (or ``merge_postings``')
    output: ``tf`` and ``doc_freq`` are counts, never null.

    Deterministic: score rounded to 4 decimals before ranking, ties broken
    on doc_id — the same contract as query t4. A persisted, materialized
    small index with an int ``n_docs`` is answered on the driver (module
    docstring, "Execution rule"); the answer is the Spark plan's.
    """
    terms = [t for t in query.lower().split() if t]
    if not terms:
        return index.select("doc_id").limit(0).withColumn(
            "score", F.lit(0.0)
        )
    if isinstance(n_docs, int) and n_docs > 0:
        held = _held_postings(index)
        if held is not None:
            return held.search(index, float(n_docs), terms, k)
    matched = index.filter(F.col("term").isin(*terms))
    if isinstance(n_docs, DataFrame):
        matched = matched.crossJoin(broadcast(n_docs))
        n_expr = F.col("n_docs").cast("double")
    else:
        n_expr = F.lit(float(n_docs))
    idf = F.log(n_expr / F.col("doc_freq").cast("double"))
    scored = matched.groupBy("doc_id").agg(
        F.round(F.sum(F.col("tf") * idf), 4).cast("double").alias("score")
    )
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def _held_postings(index: DataFrame) -> "_Postings | None":
    """The driver copy of ``index``'s postings when the execution rule
    allows one, collecting it on the first use of its cache entry (a copy
    taken through another frame that the entry serves is shared); None
    sends the search to the Spark plan."""
    cached = (
        index.sparkSession._jsparkSession.sharedState()
        .cacheManager().lookupCachedData(index._jdf)
    )
    if cached.isEmpty():
        return None
    builder = cached.get().cachedRepresentation().cacheBuilder()
    if not builder.isCachedColumnBuffersLoaded():
        return None
    if builder.sizeInBytesStats().value() > _DRIVER_INDEX_BYTES:
        return None
    rdd_id = builder.cachedColumnBuffers().id()
    with _HELD_LOCK:
        held = next((h for rid, h in _HELD.values() if rid == rdd_id), None)
        if held is not None:
            _HELD[index] = (rdd_id, held)
            return held
    held = _Postings(
        index.select("term", "doc_id", "tf", "doc_freq").toArrow()
    )
    with _HELD_LOCK:
        _HELD[index] = (rdd_id, held)
    return held


class _Postings:
    """One index's postings on the driver, grouped by term: the rows of
    term ``w`` are ``rows.take(order[start:stop])`` for
    ``(start, stop) = spans[w]``."""

    def __init__(self, table: pa.Table):
        codes = pc.dictionary_encode(table.column("term").combine_chunks())
        ids = codes.indices.to_numpy(zero_copy_only=False)
        counts = np.bincount(ids, minlength=len(codes.dictionary))
        stops = np.cumsum(counts)
        self.spans = dict(zip(
            codes.dictionary.to_pylist(),
            zip((stops - counts).tolist(), stops.tolist()),
        ))
        self.order = np.argsort(ids, kind="stable")
        self.rows = table.select(["doc_id", "tf", "doc_freq"]).combine_chunks()

    def search(self, index: DataFrame, n: float, terms: list[str],
               k: int) -> DataFrame:
        spans = [self.spans[w] for w in set(terms) if w in self.spans]
        rows = self.rows.take(np.concatenate(
            [self.order[a:b] for a, b in spans] or [np.empty(0, np.int64)]
        ))
        # one ln per distinct doc_freq (one per term), by the JVM's
        # StrictMath as Spark's Log computes it
        df = rows.column("doc_freq").to_numpy(zero_copy_only=False)
        ratios, inverse = np.unique(n / df.astype(np.float64),
                                    return_inverse=True)
        ln = index.sparkSession._jvm.java.lang.StrictMath.log
        idf = pa.array(np.array([ln(float(r)) for r in ratios])[inverse])
        sums = pa.table({
            "doc_id": rows.column("doc_id"),
            "s": pc.multiply(pc.cast(rows.column("tf"), pa.float64()), idf),
        }).group_by("doc_id").aggregate([("s", "sum")])
        raw = sums.column("s_sum").to_numpy()
        # rounding moves a score by at most 5e-5, so nothing further below
        # the k-th raw score can reach the k-th rounded one
        floor = np.partition(raw, -k)[-k] - 1e-4 if len(raw) > k else -np.inf
        keep = raw >= floor
        top = sorted(
            zip(sums.column("doc_id").filter(pa.array(keep)).to_pylist(),
                map(_round4, raw[keep].tolist())),
            key=lambda r: (-r[1], r[0] is not None, r[0]),  # nulls first
        )[:k]
        doc_field = index.schema["doc_id"]
        schema = StructType([doc_field, StructField("score", DoubleType())])
        table = pa.table({
            "doc_id": pa.array([d for d, _ in top],
                               rows.schema.field("doc_id").type),
            "score": pa.array([s for _, s in top], pa.float64()),
        })
        return index.sparkSession.createDataFrame(table, schema=schema)


def _round4(x: float) -> float:
    """Spark's ``round(x, 4)`` of a double: HALF_UP on the double's
    shortest decimal form (``BigDecimal(Double.toString(x))``), which
    Python's ``round`` and ``pc.round`` (binary value) do not give —
    0.12345 rounds to 0.1235. Enough digits for any finite double; + 0.0
    drops the sign of a negative zero, which a BigDecimal has not."""
    return float(
        Decimal(repr(x)).quantize(_SCALE_4, context=_EXACT_HALF_UP)
    ) + 0.0


_SCALE_4 = Decimal("0.0001")
_EXACT_HALF_UP = Context(prec=400, rounding=ROUND_HALF_UP)


def parse_query_string(q: str) -> tuple[dict[str, str], list[str]]:
    """Solr query-string syntax: split ``field:value`` clauses from bare
    full-text terms (the one /select feature the reference exposes that
    t3-t10 don't cover — ``q=title:term``, src/DMS.py:350).
    ``"lang:en scan fast"`` → ({"lang": "en"}, ["scan", "fast"]); all
    clauses are implicitly ANDed, Solr's default operator."""
    fields: dict[str, str] = {}
    terms: list[str] = []
    for tok in q.split():
        if ":" in tok:
            f, v = tok.split(":", 1)
            fields[f] = v
        else:
            terms.append(tok.lower())
    return fields, terms


def field_scoped_search(
    docs: DataFrame, q: str, text_col: str = "text", k: int = 10
) -> DataFrame:
    """Field-scoped boolean search over a documents table: ``field:value``
    clauses become plain column predicates — they push down to the scan
    (and prune partitions when the table is laid out by that field, the
    100 TB case) — and bare terms must ALL appear in the tokenized text,
    scored by their total term frequency.

    Plan: entirely scan-local (tokenize once per row, one size(filter())
    per term — no explode, no join, no index build); the only exchange is
    the final top-k sort. The inverted-index path (boolean_search) wins
    when the term set is rare; this direct form wins when field filters
    are selective, which is exactly when Solr's fq= would be used."""
    fields, terms = parse_query_string(q)
    out = docs
    for f, v in fields.items():
        out = out.filter(F.col(f) == v)
    if not terms:
        return out.select("doc_id", F.lit(0).cast("long").alias("score")) \
                  .orderBy(F.asc("doc_id")).limit(k)
    out = out.withColumn("_toks", tokenize(text_col))

    def tf_of(term: str):
        # NB: a two-arg lambda (even via default args) makes F.filter pass
        # the element INDEX as the second argument — keep arity 1
        return F.size(F.filter("_toks", lambda x: x == F.lit(term)))

    tfs = [tf_of(t) for t in terms]
    score = tfs[0]
    cond = tfs[0] > 0
    for tf in tfs[1:]:
        score = score + tf
        cond = cond & (tf > 0)
    return (
        out.filter(cond)
        .select("doc_id", score.cast("long").alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )
