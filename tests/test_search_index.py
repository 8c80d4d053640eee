"""search/index.py's tfidf_search: the driver path over a persisted small
index gives the Spark plan's answers, starts one job per cached index and
none per later query, and never serves a copy of a stale cache entry."""

from __future__ import annotations

import math
import uuid

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from dmshadoop_spark.search import index as ix


def _jobs_started(spark, call):
    """Run ``call`` under its own Spark job group; return its result and
    how many jobs it started (the listener bus is drained first)."""
    sc = spark.sparkContext
    group = f"search-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "tfidf_search")
    try:
        out = call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _answer(index, n_docs, query, k):
    return [tuple(r) for r in ix.tfidf_search(index, n_docs, query, k).collect()]


def _persisted_index(spark, rows, id_type):
    docs = spark.createDataFrame(rows, f"doc_id {id_type}, text string")
    index = ix.build_inverted_index(docs)
    index.persist()
    index.count()
    return index


_WORDS = ["scan", "merge", "Scan", "ünï", "日本", "a", "b", "c"]
_TEXT = st.one_of(
    st.none(),
    st.lists(st.sampled_from(_WORDS + [""]), max_size=8).map(" ".join),
)


@pytest.mark.parametrize("id_type", ["bigint", "string"])
def test_driver_path_matches_spark_plan(spark, monkeypatch, id_type):
    """Every query answers the same (doc_id, score) list, in order, with
    the bound at 0 (Spark plan) and at infinity (driver): empty, null,
    Unicode and double-spaced texts; null and duplicate ids; repeated,
    unknown and uppercase query terms; k past the matches and ties at the
    k boundary; n_docs of 0 and below the largest doc_freq."""

    @settings(max_examples=12, deadline=None)
    @given(
        docs=st.lists(
            st.tuples(st.one_of(st.none(), st.integers(0, 6)), _TEXT),
            min_size=1, max_size=14,
        ),
        queries=st.lists(
            st.lists(st.sampled_from(_WORDS + ["SCAN", "zzz"]), min_size=1,
                     max_size=4).map(" ".join),
            min_size=1, max_size=3,
        ),
        k=st.integers(1, 6),
        n_shift=st.sampled_from([0, -1, None]),
    )
    @example(  # ties at the k boundary: three docs score the same
        docs=[(1, "scan"), (2, "scan"), (3, "scan"), (4, "merge b"),
              (None, "scan  scan"), (5, None), (6, "")],
        queries=["scan scan merge zzz", "SCAN"], k=2, n_shift=None,
    )
    @example(docs=[(1, "scan"), (1, "scan merge")], queries=["scan merge"],
             k=3, n_shift=0)
    def check(docs, queries, k, n_shift):
        rows = [(None if d is None else (d if id_type == "bigint" else f"d{d}"), t)
                for d, t in docs]
        index = _persisted_index(spark, rows, id_type)
        try:
            # n_shift None: the corpus size; 0: n_docs = 0 (null idf);
            # -1: n_docs = 1, below every doc_freq past 1 (negative idf)
            n_docs = len(rows) if n_shift is None else n_shift + 1
            for query in queries:
                got = {}
                for bound in (0, math.inf):
                    monkeypatch.setattr(ix, "_DRIVER_INDEX_BYTES", bound)
                    got[bound] = _answer(index, n_docs, query, k)
                assert got[0] == got[math.inf], (query, k, n_docs)
        finally:
            index.unpersist()

    check()


_TIES = [
    float(f"{sign}{whole}.{frac:04d}5")
    for sign in ("", "-")
    for whole in (0, 1, 12)
    for frac in (0, 1, 1234, 4999, 9999)
]


def test_round4_equals_spark_round(spark):
    """``_round4`` is Spark's ``round(x, 4)`` on doubles: hypothesis
    doubles plus constructed HALF_UP ties (x.xxxx5 in shortest form)."""
    values = list(_TIES) + [0.12345, -0.0, 5e-324, 1e300, -2.5e-5]

    @settings(max_examples=30, deadline=None)
    @given(st.lists(st.floats(allow_nan=False, allow_infinity=False),
                    min_size=1, max_size=40))
    def check(xs):
        xs = xs + values
        df = spark.createDataFrame([(i, x) for i, x in enumerate(xs)],
                                   "i int, x double")
        want = dict(df.select("i", F.round("x", 4).alias("r")).collect())
        got = {i: ix._round4(x) for i, x in enumerate(xs)}
        assert [repr(got[i]) for i in range(len(xs))] == \
            [repr(want[i]) for i in range(len(xs))]

    check()
    assert ix._round4(0.12345) == 0.1235


def test_persisted_index_starts_one_job_then_none(spark):
    """After persist(); count(), the first search collects the postings
    (one job) and every later search starts no job."""
    rows = [(i, " ".join(["scan"] * (i % 3 + 1) + ["merge"] * (i % 2)))
            for i in range(40)]
    index = _persisted_index(spark, rows, "bigint")
    try:
        jobs = [_jobs_started(spark, lambda q=q: _answer(index, 40, q, 5))[1]
                for q in ("scan", "merge scan", "zzz", "scan")]
        assert jobs == [1, 0, 0, 0]
    finally:
        index.unpersist()


def test_spark_path_cases_start_spark_jobs(spark, sf_dir, monkeypatch):
    """Each case the execution rule sends to Spark runs the Spark plan
    (2 jobs or more): an uncached index, a cached one not yet
    materialized, a frame derived from a cached index, a DataFrame
    n_docs, n_docs of 0 and below 0, and a cache over the bound."""
    from dmshadoop_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()
    n_frame = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    # Spark's cache serves any frame whose plan matches a cached one, so
    # each case gets a plan of its own (ids are >= 0: same rows)
    uncached = ix.build_inverted_index(docs.filter(F.col("doc_id") >= 0))
    unmaterialized = ix.build_inverted_index(
        docs.filter(F.col("doc_id") >= -1)).persist()
    cached = ix.build_inverted_index(docs).persist()
    cached.count()
    try:
        cases = {
            "uncached": (uncached, n),
            "not materialized": (unmaterialized, n),
            "derived": (cached.filter(F.col("tf") > 0), n),
            "DataFrame n_docs": (cached, n_frame),
            "n_docs 0": (cached, 0),
            "n_docs -3": (cached, -3),
        }
        want = _answer(uncached, n, "scan merge", 5)
        assert want
        for name, (index, n_docs) in cases.items():
            got, jobs = _jobs_started(
                spark, lambda: _answer(index, n_docs, "scan merge", 5))
            assert jobs >= 2, name
            if name not in ("n_docs 0", "n_docs -3"):
                assert got == want, name
            assert index not in ix._HELD, name  # no postings copy taken
        # a copy already held is not served past the bound either
        assert _jobs_started(spark, lambda: _answer(cached, n, "scan", 5))[1] == 1
        monkeypatch.setattr(ix, "_DRIVER_INDEX_BYTES", 0)
        assert _jobs_started(spark, lambda: _answer(cached, n, "scan", 5))[1] >= 2
    finally:
        unmaterialized.unpersist()
        cached.unpersist()


def test_changed_input_is_searched_after_re_persist(spark, tmp_path):
    """A copy held for one cache entry is never served for the next: an
    index over a parquet dir is persisted and searched; the dir is
    overwritten, the path refreshed, the index unpersisted, persisted and
    counted again; the search then scores the new documents."""
    path = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, "scan"), (2, "scan merge"), (3, "merge")],
        "doc_id bigint, text string",
    ).write.parquet(path)
    index = ix.build_inverted_index(spark.read.parquet(path))
    index.persist()
    index.count()
    try:
        assert _answer(index, 3, "scan", 5) == [(1, 0.4055), (2, 0.4055)]
        spark.createDataFrame(
            [(7, "scan scan"), (8, "merge"), (9, "merge")],
            "doc_id bigint, text string",
        ).write.mode("overwrite").parquet(path)
        spark.catalog.refreshByPath(path)
        index.unpersist()
        index.persist()
        index.count()
        got, jobs = _jobs_started(spark, lambda: _answer(index, 3, "scan", 5))
        assert got == [(7, 2.1972)]  # 2 ln 3
        assert jobs == 1  # a fresh copy of the new cache entry
    finally:
        index.unpersist()


def test_frames_of_one_cache_entry_share_one_copy(spark, monkeypatch):
    """Two build_inverted_index(docs) frames have equal plans, so one
    persisted cache entry serves both: their searches collect the
    postings once (one job in all) and hold one shared copy."""
    rows = [(i, " ".join(["scan"] * (i % 3 + 1) + ["merge"] * (i % 2)))
            for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    first = ix.build_inverted_index(docs).persist()
    first.count()
    second = ix.build_inverted_index(docs)
    collected = []
    init = ix._Postings.__init__

    def counted(self, table):
        collected.append(table.num_rows)
        init(self, table)

    monkeypatch.setattr(ix._Postings, "__init__", counted)
    try:
        want, jobs_first = _jobs_started(
            spark, lambda: _answer(first, 40, "merge scan", 5))
        got, jobs_second = _jobs_started(
            spark, lambda: _answer(second, 40, "merge scan", 5))
        assert (jobs_first, jobs_second) == (1, 0)
        assert got == want
        assert len(collected) == 1
        assert ix._HELD[first][1] is ix._HELD[second][1]
    finally:
        first.unpersist()
