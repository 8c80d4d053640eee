"""Round-12 optimization pins: SQL-rendered literal fragments must be
bit-identical to the per-element Column forms they replaced
(functions/sqllit.py — the py4j construction-tax fix), and the
occurrence-index auto-bucket law must stay floored/capped/stable."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F


TRICKY_DOUBLES = [
    0.0,
    -0.0,
    1.0,
    -1.0,
    0.1,
    1 / 3,
    2**-1074,          # min subnormal
    -(2**-1074),
    1.7976931348623157e308,   # max double
    5e-324,
    123456789.123456789,
    math.pi,
    -math.e,
    1e-7,
    -2.5e-300,
    float(np.float64(0.30000000000000004)),
]


def test_sql_double_bit_round_trip(spark):
    """Every rendered double literal must parse back to the identical
    bits — compare through the JVM parser against F.lit."""
    from dmshadoop_spark.functions.sqllit import sql_double

    exprs = [F.expr(sql_double(x)).alias(f"e{i}") for i, x in enumerate(TRICKY_DOUBLES)]
    lits = [F.lit(float(x)).alias(f"l{i}") for i, x in enumerate(TRICKY_DOUBLES)]
    row = spark.range(1).select(*exprs, *lits).collect()[0]
    for i, x in enumerate(TRICKY_DOUBLES):
        got, ref = row[f"e{i}"], row[f"l{i}"]
        assert got == ref or (got != got and ref != ref), (i, x, got, ref)
        # sign of zero matters for bit-identity of downstream folds
        assert math.copysign(1.0, got) == math.copysign(1.0, ref), (i, x)


def test_sql_str_escapes_round_trip(spark):
    from dmshadoop_spark.functions.sqllit import sql_str

    cases = [
        "plain",
        "with 'quotes'",
        "back\\slash",
        "tab\there",
        "new\nline",
        "cr\rhere",
        "mixed \\' \n \t end",
        "unicode é — ✓",
        "",
    ]
    exprs = [F.expr(sql_str(s)).alias(f"s{i}") for i, s in enumerate(cases)]
    row = spark.range(1).select(*exprs).collect()[0]
    for i, s in enumerate(cases):
        assert row[f"s{i}"] == s, (i, s, row[f"s{i}"])


def test_dist_arr_matches_per_element_form(spark):
    """The one-expr transform distance array must be bit-identical to the
    per-element lit()/fold construction it replaced."""
    from dmshadoop_spark.similarity.assign import _dist_arr

    rng = np.random.RandomState(7)
    cents = rng.randn(5, 6)
    rows = [([float(v) for v in rng.randn(6)],) for _ in range(40)]
    df = spark.createDataFrame(rows, "v array<double>")

    def legacy(vcol, cents):
        def l2sq(cent_col):
            return F.aggregate(
                F.zip_with(vcol, cent_col, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )

        return F.array(
            *[
                l2sq(F.array(*[F.lit(float(x)) for x in row]))
                for row in cents
            ]
        )

    got = df.select(_dist_arr("v", cents).alias("d")).collect()
    ref = df.select(legacy(F.col("v"), cents).alias("d")).collect()
    assert all(g["d"] == r["d"] for g, r in zip(got, ref))


def test_margin_and_jl_project_match_legacy(spark):
    from dmshadoop_spark.operators.logreg import _margin
    from dmshadoop_spark.similarity.jl import jl_project, jl_sign

    rng = np.random.RandomState(3)
    w = [float(x) for x in rng.randn(6)]
    bias = 0.37
    rows = [([float(v) for v in rng.randn(6)],) for _ in range(25)]
    df = spark.createDataFrame(rows, "x array<double>")

    legacy_margin = F.lit(float(bias)) + F.aggregate(
        F.zip_with(
            F.array(*[F.lit(float(v)) for v in w]),
            F.col("x"),
            lambda a, b: a * b,
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    got = df.select(_margin("x", w, bias).alias("m")).collect()
    ref = df.select(legacy_margin.alias("m")).collect()
    assert all(g["m"] == r["m"] for g, r in zip(got, ref))

    d_in, d_out = 6, 4
    scale = F.lit(d_out**-0.5)
    legacy_proj = F.array(
        *[
            F.aggregate(
                F.zip_with(
                    F.col("x"),
                    F.array(*[F.lit(jl_sign(i, k)) for i in range(d_in)]),
                    lambda x, s: x * s,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            * scale
            for k in range(d_out)
        ]
    )
    got = df.select(jl_project("x", d_in, d_out).alias("p")).collect()
    ref = df.select(legacy_proj.alias("p")).collect()
    assert all(g["p"] == r["p"] for g, r in zip(got, ref))


def test_auto_buckets_law(spark):
    """floor 8, power of two, capped, and falls back to the flat default
    when no estimate exists."""
    from dmshadoop_spark.dedup.substring import (
        _OCC_AUTO_BUCKET_MAX,
        _OCC_BUCKETS,
        _auto_buckets,
    )

    tiny = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    nb = _auto_buckets(tiny)
    assert nb >= 8 and (nb & (nb - 1)) == 0
    # a frame with session-default (unknown) stats keeps the flat default
    class _Boom:
        def __getattr__(self, _):
            raise RuntimeError("no plan")

    assert _auto_buckets(_Boom()) == _OCC_BUCKETS
    assert _OCC_AUTO_BUCKET_MAX & (_OCC_AUTO_BUCKET_MAX - 1) == 0


def test_sql_double_nonfinite_round_trip(spark):
    """Round-13 (r12 verdict task 5 / advice): non-finite doubles must
    render to parseable SQL that evaluates back to the same value —
    the repr branch emitted 'infD'/'nanD', a ParseException at
    expression-build time (a diverging GD weight or NaN centroid would
    crash mid-loop)."""
    from dmshadoop_spark.functions.sqllit import sql_double

    cases = [float("inf"), float("-inf"), float("nan")]
    exprs = [F.expr(sql_double(x)).alias(f"e{i}") for i, x in enumerate(cases)]
    lits = [F.lit(x).alias(f"l{i}") for i, x in enumerate(cases)]
    row = spark.range(1).select(*exprs, *lits).collect()[0]
    for i, x in enumerate(cases):
        got, ref = row[f"e{i}"], row[f"l{i}"]
        assert got == ref or (got != got and ref != ref), (i, x, got, ref)
    # and inside an array context (how _dist_arr / _margin embed them)
    arr = spark.range(1).select(
        F.expr(
            "array(" + ",".join(sql_double(x) for x in cases) + ")"
        ).alias("a")
    ).collect()[0]["a"]
    assert arr[0] == float("inf") and arr[1] == float("-inf")
    assert arr[2] != arr[2]


def test_assert_escaped_literals_off(spark):
    """sql_str's escapes are only live under the default parser mode;
    the assert must fire under escapedStringLiterals=true (silent key
    corruption otherwise) and pass under the default."""
    from dmshadoop_spark.functions.sqllit import (
        assert_escaped_literals_off,
    )

    assert_escaped_literals_off(spark)  # default mode: no-op
    spark.conf.set("spark.sql.parser.escapedStringLiterals", "true")
    try:
        with pytest.raises(ValueError, match="escapedStringLiterals"):
            assert_escaped_literals_off(spark)
    finally:
        spark.conf.unset("spark.sql.parser.escapedStringLiterals")


def test_dist_arr_rejects_reserved_vec_col(spark):
    """Backticks do not prevent lambda-variable capture: a vector column
    named like a rendered lambda variable would be silently shadowed
    (all-zero distances). The renderer uses __-prefixed variables and
    refuses __-prefixed column names."""
    from dmshadoop_spark.similarity.assign import _dist_arr, with_nearest_cell

    cents = np.ones((2, 3))
    with pytest.raises(ValueError, match="reserved"):
        _dist_arr("__cent", cents)
    # a column named plain 'c' (the OLD lambda variable) must now work
    df = spark.createDataFrame(
        [([0.9, 1.0, 1.1],), ([5.0, 5.0, 5.0],)], "c array<double>"
    )
    got = [
        r["cell"]
        for r in with_nearest_cell(df, "c", np.array([[1.0, 1.0, 1.0], [5.0, 5.0, 5.0]]))
        .select("cell")
        .collect()
    ]
    assert got == [1, 2]


def test_reserved_vec_col_is_refused_on_the_vectorized_path(spark, monkeypatch):
    """with_nearest_cell and with_probe_cells refuse a __-prefixed vector
    column before they pick a path: the pandas-UDF path (vectorized=True,
    or more centroids than LITERAL_MAX_CENTROIDS) refuses it as the
    literal path does, while a plain name still assigns on that path."""
    from dmshadoop_spark.similarity import assign

    cents = np.array([[1.0, 1.0, 1.0], [5.0, 5.0, 5.0]])
    rows = [([0.9, 1.0, 1.1],), ([5.0, 5.0, 5.0],)]
    df = spark.createDataFrame(rows, "__v array<double>")
    with pytest.raises(ValueError, match="reserved"):
        assign.with_nearest_cell(df, "__v", cents, vectorized=True)
    monkeypatch.setattr(assign, "LITERAL_MAX_CENTROIDS", 0)
    with pytest.raises(ValueError, match="reserved"):
        assign.with_nearest_cell(df, "__v", cents)
    with pytest.raises(ValueError, match="reserved"):
        assign.with_probe_cells(df, "__v", cents, 1)
    plain = spark.createDataFrame(rows, "v array<double>")
    got = assign.with_nearest_cell(plain, "v", cents, vectorized=True)
    assert [r["cell"] for r in got.select("cell").collect()] == [1, 2]
    got = assign.with_probe_cells(plain, "v", cents, 2)
    assert [r["cells"] for r in got.select("cells").collect()] == [[1, 2], [2, 1]]
