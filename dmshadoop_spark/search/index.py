"""Full-text search library (SURVEY.md §2.9) — the finished form of the
reference's unfinished Solr delegation (src/DMS.py:345-356, README.md:24
"Search (Working on)").

``build_inverted_index`` materializes the derived index table once per
corpus snapshot (tokenize → explode → partial-count → shuffle on term);
``tfidf_search`` answers queries from it with a broadcast join — the
per-query cost is proportional to the posting lists touched, not the
corpus. This is the library behind queries t2-t5. DocumentStore.search
does not use it: the store writes a postings file beside every data file
and answers from those on the driver (dms/store.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from dmshadoop_spark.functions.text import tokenize


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
    folds the corpus count into the plan as a broadcast cross join — one
    job, no driver-side action — and on parquet that count branch is
    metadata-only (reads zero data columns).

    Deterministic: score rounded to 4 decimals before ranking, ties broken
    on doc_id — the same contract as query t4.
    """
    terms = [t for t in query.lower().split() if t]
    if not terms:
        return index.select("doc_id").limit(0).withColumn(
            "score", F.lit(0.0)
        )
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
