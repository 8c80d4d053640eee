"""Round-13 pins for the loop-tuned session clone
(functions/loopsession.py): the GD/Lloyd loops' pinned physical shape
must come from an isolated clone — zero shared-session mutation, safe
under concurrent trainings — with the reduce width scaled by load."""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import functions as F


def test_loop_frame_same_rows_and_no_parent_mutation(spark):
    from dmshadoop_spark.functions.loopsession import loop_frame

    before = (
        spark.conf.get("spark.sql.shuffle.partitions"),
        spark.conf.get("spark.sql.adaptive.enabled"),
    )
    df = spark.range(100).select(
        "id", (F.col("id") % 7).alias("g"), F.rand(1).alias("v")
    )
    out = loop_frame(df, 1)
    # clone-bound frame: same rows, different session, pinned conf
    assert out.sparkSession is not spark
    assert out.sparkSession.conf.get("spark.sql.shuffle.partitions") == "1"
    assert (
        out.sparkSession.conf.get("spark.sql.adaptive.enabled") == "false"
    )
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, df.collect())
    )
    # parent session untouched, and the hand-off view cleaned up
    assert (
        spark.conf.get("spark.sql.shuffle.partitions"),
        spark.conf.get("spark.sql.adaptive.enabled"),
    ) == before
    assert not [
        t
        for t in spark.catalog.listTables("global_temp")
        if t.name.startswith("_loop_")
    ]


def test_loop_frame_clone_is_cached_and_concurrent(spark):
    from dmshadoop_spark.functions.loopsession import loop_frame

    df = spark.range(50).select("id", (F.col("id") * 2).alias("v"))

    def agg_sum(_):
        out = loop_frame(df, 1)
        return out.groupBy((F.col("id") % 3).alias("k")).agg(
            F.sum("v").alias("s")
        ).orderBy("k").collect()

    with ThreadPoolExecutor(max_workers=4) as pool:
        results = list(pool.map(agg_sum, range(8)))
    assert all(r == results[0] for r in results)
    # one clone per (context, width): repeated calls reuse the session
    a = loop_frame(df, 1).sparkSession
    b = loop_frame(df, 1).sparkSession
    assert a is b
    c = loop_frame(df, 2).sparkSession
    assert c is not a


def test_loop_clones_are_keyed_on_application_id(spark):
    """The clone cache is keyed on the application id, which names one
    SparkContext for good, not on ``id()`` of the context object."""
    from dmshadoop_spark.functions import loopsession

    clone = loopsession.loop_frame(spark.range(3), 3).sparkSession
    key = (spark.sparkContext.applicationId, 3)
    assert loopsession._CLONES[key] is clone


def test_loop_shuffle_partitions_law():
    from dmshadoop_spark.functions.loopsession import (
        loop_shuffle_partitions,
    )

    # every current operating point pins to 1 (the measured-fast shape)
    assert loop_shuffle_partitions(65, 32) == 1
    assert loop_shuffle_partitions(256 * 8, 32) == 1
    assert loop_shuffle_partitions(256 * 64, 200) == 1
    # and genuine reduce load widens instead of serializing one task
    # (the r12 advice case: k=2M, dim=64, thousands of partitions)
    assert loop_shuffle_partitions(2_000_000 * 64, 2000) > 1000
    assert loop_shuffle_partitions(0, 0) == 1


def test_train_logreg_leaves_session_conf_alone(spark):
    """The r10–r12 form mutated the shared session for the loop's
    duration (single-threaded-driver assumption); the clone form must
    never touch it — even mid-loop there is nothing to restore."""
    from dmshadoop_spark.functions.checkpoint import stabilize
    from dmshadoop_spark.operators.logreg import (
        _train_logreg_loop,
        train_logreg,
    )

    feat = stabilize(
        spark.range(300).select(
            (F.col("id") % 3 == 0).cast("int").alias("y"),
            F.expr(
                "transform(sequence(1, 6), j -> cast((id * j) % 7 as double))"
            ).alias("x"),
        )
    )
    before = dict(
        (k, spark.conf.get(k))
        for k in (
            "spark.sql.shuffle.partitions",
            "spark.sql.adaptive.enabled",
        )
    )
    tuned = train_logreg(feat, dim=6, n_iter=3)
    after = dict((k, spark.conf.get(k)) for k in before)
    assert after == before
    # and the clone-planned loop is bit-identical to the parent-session
    # loop (DECIMAL gradient sums are order/width-free)
    plain = _train_logreg_loop(feat, "y", "x", 6, 3, 4.0)
    assert tuned == plain
