"""Additional TPC-H-shaped queries (SURVEY.md §7 step 5 — the operators the
oracle can check hardest). Q6 showcases pure scan+pushdown; Q10 the
revenue-per-customer join with returned-item filter.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from dmshadoop_spark.catalog import load_table
from dmshadoop_spark.functions.numeric import dec2, dec4, money
from dmshadoop_spark.registry import query


@query(
    "q6_forecast_revenue",
    oracle="""
    SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                          * CAST(l_discount AS DECIMAL(18,4))), 2) AS DOUBLE)
               AS revenue,
           count(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark, sf_dir):
    """TPC-H Q6 shape: every predicate reaches the parquet scan (shipdate
    range via row-group stats, discount/quantity via filters) — zero
    shuffle besides the single-row final aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    ts = li.schema["l_shipdate"].dataType
    cond = (
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast(ts))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast(ts))
        & (F.col("l_discount") >= 0.03)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.filter(cond).agg(
        money(F.sum(dec2("l_extendedprice") * dec4("l_discount"))).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_items"),
    )


@query(
    "q10_returned_items",
    oracle="""
    SELECT c_custkey, c_name, n_name,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                          * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2)
                AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    """,
)
def q10_returned_items(spark, sf_dir):
    """TPC-H Q10 shape: returned-item revenue per customer. The returnflag
    filter prunes the fact scan before the join; nation broadcasts,
    customer joins unhinted (it scales with SF)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    nation = load_table(spark, sf_dir, "nation")
    # customer scales with SF: unhinted (AQE decides); nation is fixed-size.
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    )
    revenue = dec2("l_extendedprice") * (F.lit(1) - dec4("l_discount"))
    return joined.groupBy("c_custkey", "c_name", "n_name").agg(
        money(F.sum(revenue)).alias("revenue")
    )


@query(
    "t4b_index_search",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    postings AS (
        SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY term, doc_id
    ),
    dfreq AS (
        SELECT term, count(*) AS doc_freq FROM postings GROUP BY term
    ),
    n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT p.doc_id,
           CAST(ROUND(SUM(p.tf * ln(CAST(n.n_docs AS DOUBLE)
                                    / CAST(d.doc_freq AS DOUBLE))), 4)
                AS DOUBLE) AS score
    FROM postings p JOIN dfreq d USING (term) CROSS JOIN n
    WHERE p.term IN ('scan', 'merge')
    GROUP BY p.doc_id
    ORDER BY score DESC, doc_id LIMIT 10
    """,
)
def t4b_index_search(spark, sf_dir):
    """Search answered FROM the materialized inverted index (search/index.py)
    — the library path, vs t4's inline pipeline. The corpus count folds
    into the plan as a 1-row broadcast (metadata-only parquet count), so
    no driver-side action runs before the search. Measured at sf0.01 and
    sf0.1: collecting the answer is 6 jobs, and building the frame is one
    schema-inference job the first time ``load_table`` reads the file."""
    from dmshadoop_spark.search import build_inverted_index, tfidf_search

    docs = load_table(spark, sf_dir, "documents")
    index = build_inverted_index(docs)
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    return tfidf_search(index, n_docs=n, query="scan merge", k=10)


@query(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
    )
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark, sf_dir):
    """TPC-H Q4 shape: EXISTS as a left-semi join with a correlated
    non-equi conjunct. Spark keeps only o_orderkey/o_orderdate on the
    probe side and builds the lineitem key set — no payload duplication,
    one shuffle on orderkey."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    shipped_late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > orders.o_orderdate),
        "left_semi",
    )
    return shipped_late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


@query(
    "q14_promo_revenue",
    oracle="""
    SELECT CAST(ROUND(
               100.00 * SUM(CASE WHEN p_type = 'PROMO'
                   THEN CAST(l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l_discount AS DECIMAL(18,4)))
                   ELSE CAST(0 AS DECIMAL(18,2)) END)
               / SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                     * (1 - CAST(l_discount AS DECIMAL(18,4)))), 4)
           AS DOUBLE) AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    """,
)
def q14_promo_revenue(spark, sf_dir):
    """TPC-H Q14 shape: conditional aggregate over a fact⋈dim join. The
    CASE runs map-side inside the partial aggregate; the final exchange
    carries two decimal sums. Decimal division keeps the ratio exact
    until one terminal round."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    rev = dec2("l_extendedprice") * (F.lit(1) - dec4("l_discount"))
    zero = F.lit(0).cast("decimal(18,2)")
    joined = li.join(part, li.l_partkey == part.p_partkey)
    return joined.agg(
        money(
            F.lit(100.00)
            * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(zero))
            / F.sum(rev),
            4,
        ).alias("promo_revenue_pct")
    )


@query(
    "q18_large_orders",
    oracle="""
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
           CAST(SUM(l_quantity) AS DOUBLE) AS total_qty
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey HAVING SUM(l_quantity) > 300
    )
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def q18_large_orders(spark, sf_dir):
    """TPC-H Q18 shape: HAVING-filtered IN-subquery as a pre-aggregated
    semi join. The quantity rollup happens BEFORE joining customer/orders
    (the aggregate shrinks lineitem by ~4×; joining first would shuffle
    the fat side twice). Top-100 via TakeOrderedAndProject."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 300)
    )
    joined = (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
    )
    return (
        joined.select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.col("total_qty").cast("double").alias("total_qty"),
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


@query(
    "q19_disjunctive_filter",
    oracle="""
    SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                          * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2)
                AS DOUBLE) AS revenue,
           count(*) AS n_items
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 20)
       OR (p_brand = 'Brand#13' AND p_size BETWEEN 10 AND 30
           AND l_quantity BETWEEN 10 AND 30)
       OR (p_brand = 'Brand#20' AND p_size BETWEEN 20 AND 50
           AND l_quantity BETWEEN 20 AND 40)
    """,
)
def q19_disjunctive_filter(spark, sf_dir):
    """TPC-H Q19 shape: disjunctive mixed-table predicates. Catalyst
    factors the single-table conjuncts out of the OR (l_quantity range
    and p_size/p_brand ranges reach their scans as pushed filters); the
    residual OR evaluates post-join."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = li.join(part, li.l_partkey == part.p_partkey)
    b = F.col("p_brand")
    s = F.col("p_size")
    q = F.col("l_quantity")
    cond = (
        ((b == "Brand#1") & s.between(1, 15) & q.between(1, 20))
        | ((b == "Brand#13") & s.between(10, 30) & q.between(10, 30))
        | ((b == "Brand#20") & s.between(20, 50) & q.between(20, 40))
    )
    rev = dec2("l_extendedprice") * (F.lit(1) - dec4("l_discount"))
    return j.filter(cond).agg(
        money(F.sum(rev)).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@query(
    "q7_volume_shipping",
    oracle="""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           EXTRACT(year FROM l_shipdate) AS l_year,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                          * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2)
                AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark, sf_dir):
    """TPC-H Q7 shape: bilateral trade volume between two nations by year.
    Both nation joins broadcast (25 rows, SF-invariant); their name filters
    then prune the supplier/customer build sides BEFORE the two fact-side
    shuffles, so only ~2/25 of each dim participates. The disjunctive
    nation-pair predicate evaluates post-join (references both sides)."""
    li = load_table(spark, sf_dir, "lineitem")
    ts = li.schema["l_shipdate"].dataType
    li = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast(ts))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast(ts))
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    n1 = broadcast(nation.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    ).filter(F.col("supp_nation").isin("NATION_1", "NATION_2")))
    n2 = broadcast(nation.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    ).filter(F.col("cust_nation").isin("NATION_1", "NATION_2")))
    j = (
        li.join(supp.join(n1, supp.s_nationkey == F.col("s_nkey")),
                li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust.join(n2, cust.c_nationkey == F.col("c_nkey")),
              orders.o_custkey == cust.c_custkey)
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    rev = dec2("l_extendedprice") * (F.lit(1) - dec4("l_discount"))
    return (
        j.withColumn("l_year", F.year("l_shipdate").cast("long"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(money(F.sum(rev)).alias("revenue"))
    )


@query(
    "q8_market_share",
    oracle="""
    SELECT o_year,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_2' THEN volume
                         ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
             / CAST(SUM(volume) AS DOUBLE) AS mkt_share
    FROM (
        SELECT EXTRACT(year FROM o_orderdate) AS o_year,
               CAST(l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l_discount AS DECIMAL(18,4))) AS volume,
               n1.n_name AS supp_nation
        FROM lineitem
        JOIN part     ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        JOIN region    ON n2.n_regionkey = r_regionkey
        WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    ) all_nations
    GROUP BY o_year
    """,
)
def q8_market_share(spark, sf_dir):
    """TPC-H Q8 shape: one nation's share of regional market volume by
    year. Region membership prunes the customer side through two
    broadcast hops (region→nation→customer) before the fact shuffle; the
    share ratio divides two exact decimal sums as one IEEE double op
    (decimal÷decimal would hit engine-specific scale truncation)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    ts = orders.schema["o_orderdate"].dataType
    orders = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast(ts))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast(ts))
    )
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n1 = broadcast(nation.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    ))
    n2 = broadcast(
        nation.join(broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select(F.col("n_nationkey").alias("c_nkey"))
    )
    j = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp.join(n1, supp.s_nationkey == F.col("s_nkey")),
              li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust.join(n2, cust.c_nationkey == F.col("c_nkey")),
              orders.o_custkey == cust.c_custkey)
    )
    vol = dec2("l_extendedprice") * (F.lit(1) - dec4("l_discount"))
    zero = F.lit(0).cast("decimal(18,2)")
    return (
        j.withColumn("o_year", F.year("o_orderdate").cast("long"))
        .groupBy("o_year")
        .agg(
            (
                F.sum(F.when(F.col("supp_nation") == "NATION_2", vol).otherwise(zero))
                .cast("double")
                / F.sum(vol).cast("double")
            ).alias("mkt_share")
        )
    )


@query(
    "q9_product_profit",
    oracle="""
    SELECT n_name AS nation, EXTRACT(year FROM l_shipdate) AS o_year,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                          * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2)
                AS DOUBLE) AS sum_profit
    FROM lineitem
    JOIN part     ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%bolt%'
    GROUP BY n_name, o_year
    """,
)
def q9_product_profit(spark, sf_dir):
    """TPC-H Q9 shape (adapted: the testdata has no partsupp, so profit
    omits the supplycost term — documented deviation). Part-name LIKE
    prunes the fact rows at the first join; supplier nation arrives by
    broadcast. Group by (nation, year) over the surviving ~1/6 of
    lineitem."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%bolt%"))
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    j = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(broadcast(nation), supp.s_nationkey == nation.n_nationkey)
    )
    rev = dec2("l_extendedprice") * (F.lit(1) - dec4("l_discount"))
    return (
        j.select(
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").cast("long").alias("o_year"),
            rev.alias("profit"),
        )
        .groupBy("nation", "o_year")
        .agg(money(F.sum("profit")).alias("sum_profit"))
    )


@query(
    "q12_priority_shipping",
    oracle="""
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_linestatus
    """,
)
def q12_priority_shipping(spark, sf_dir):
    """TPC-H Q12 shape (adapted: no l_shipmode column — grouped by
    l_linestatus instead, same conditional-count structure). The
    shipdate filter reaches the lineitem scan; the CASE counts fold
    map-side so the final exchange carries 2 longs per group."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    ts = li.schema["l_shipdate"].dataType
    li = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast(ts))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast(ts))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "q13_customer_distribution",
    oracle="""
    SELECT c_count, count(*) AS custdist
    FROM (
        SELECT c_custkey, count(o_orderkey) AS c_count
        FROM customer LEFT OUTER JOIN orders
          ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
        GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    """,
)
def q13_customer_distribution(spark, sf_dir):
    """TPC-H Q13 shape: two-level aggregation — orders per customer
    (left outer join keeps order-less customers as count 0), then the
    histogram of those counts. First agg shuffles on custkey; the
    second input is |customers| rows, one tiny exchange."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "5-LOW"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(
    "q15_top_supplier",
    oracle="""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                   * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name,
           CAST(ROUND(total_revenue, 2) AS DOUBLE) AS total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
)
def q15_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape: supplier(s) with the maximum quarterly revenue.
    The revenue aggregate reduces lineitem to |suppliers| rows ONCE;
    the scalar max comes from a global window over that result rather
    than a second aggregate branch. (The obvious crossJoin(max) form
    scans lineitem twice: the join side's partial aggregate picks up an
    inferred isnotnull(l_suppkey) the max side lacks, so the two
    exchanges never canonicalize equal and ReuseExchange/AQE stage
    reuse both miss — measured, see SCALE.md.) The unpartitioned window
    funnels only |suppliers| rows through one task, which is bounded
    (SF×10k) while lineitem is not. Equality compares exact decimals,
    so ties are engine-independent."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    ts = li.schema["l_shipdate"].dataType
    rev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast(ts))
            & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast(ts))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.sum(dec2("l_extendedprice") * (F.lit(1) - dec4("l_discount"))).alias(
                "total_revenue"
            )
        )
    )
    top = rev.withColumn(
        "max_revenue", F.max("total_revenue").over(Window.partitionBy())
    ).filter(F.col("total_revenue") == F.col("max_revenue"))
    supp = load_table(spark, sf_dir, "supplier")
    return (
        top.join(broadcast(supp), F.col("supplier_no") == supp.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            money(F.col("total_revenue")).alias("total_revenue"),
        )
    )


@query(
    "q16_supplier_count",
    oracle="""
    SELECT p_brand, p_type, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#2' AND p_type <> 'ECONOMY'
      AND p_size IN (1, 5, 10, 15, 20, 25)
      AND l_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p_brand, p_type, p_size
    """,
)
def q16_supplier_count(spark, sf_dir):
    """TPC-H Q16 shape (adapted: lineitem stands in for the absent
    partsupp as the part↔supplier relation; the excluded-supplier
    predicate keys on negative acctbal instead of the comment column).
    NOT IN on a never-null key = left-anti join against a broadcast
    exclusion set; count(DISTINCT) expands to the standard two-phase
    distinct aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#2")
        & (F.col("p_type") != "ECONOMY")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25)
    )
    bad_supp = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    return (
        li.join(broadcast(bad_supp), li.l_suppkey == bad_supp.s_suppkey, "left_anti")
        .join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "q17_small_quantity_revenue",
    oracle="""
    SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) / 7.0, 2)
                AS DOUBLE) AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#3'
      AND l_quantity < (
          SELECT 0.2 * avg(l_quantity) FROM lineitem l2
          WHERE l2.l_partkey = p_partkey
      )
    """,
)
def q17_small_quantity_revenue(spark, sf_dir):
    """TPC-H Q17 shape: correlated scalar-aggregate subquery (per-part
    average quantity) decorrelated into an aggregate + equi-join. The
    per-part averages shrink lineitem to |parts| rows and broadcast;
    only the brand's parts survive into the threshold comparison.
    l_quantity is integral, so the double average is exact and
    order-independent."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    per_part_avg = (
        li.join(broadcast(part.select("p_partkey")), li.l_partkey == F.col("p_partkey"))
        .groupBy(F.col("l_partkey").alias("avg_pkey"))
        .agg((F.lit(0.2) * F.avg("l_quantity")).alias("qty_threshold"))
    )
    j = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(broadcast(per_part_avg), li.l_partkey == F.col("avg_pkey"))
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
    )
    return j.agg(
        (F.sum(dec2("l_extendedprice")) / F.lit(7.0)).alias("avg_yearly")
    ).select(F.round("avg_yearly", 2).cast("double").alias("avg_yearly"))


@query(
    "q21_waiting_supplier",
    oracle="""
    SELECT s_name, count(*) AS numwait
    FROM lineitem l1
    JOIN orders   ON o_orderkey = l1.l_orderkey
    JOIN supplier ON s_suppkey = l1.l_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
      AND n_name = 'NATION_3'
      AND EXISTS (
          SELECT 1 FROM lineitem l2
          WHERE l2.l_orderkey = l1.l_orderkey
            AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
          SELECT 1 FROM lineitem l3
          WHERE l3.l_orderkey = l1.l_orderkey
            AND l3.l_suppkey <> l1.l_suppkey
            AND l3.l_returnflag = 'R'
      )
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
)
def q21_waiting_supplier(spark, sf_dir):
    """TPC-H Q21 shape (adapted: l_returnflag='R' proxies the absent
    receipt-after-commit "late" predicate): suppliers who were the SOLE
    late supplier on a multi-supplier finalized order. EXISTS/NOT
    EXISTS over lineitem self-joins on l_orderkey — all three legs
    share one shuffle key, so Spark co-partitions them in a single
    exchange chain rather than re-shuffling per leg."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_3"
    )
    l1 = li.filter(F.col("l_returnflag") == "R").alias("l1")
    l2 = li.select("l_orderkey", "l_suppkey").alias("l2")
    l3 = (
        li.filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_suppkey")
        .alias("l3")
    )
    j = (
        l1.join(orders, F.col("l1.l_orderkey") == orders.o_orderkey)
        .join(supp, F.col("l1.l_suppkey") == supp.s_suppkey)
        .join(broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(
            l2,
            (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
            & (F.col("l1.l_suppkey") != F.col("l2.l_suppkey")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l1.l_orderkey") == F.col("l3.l_orderkey"))
            & (F.col("l1.l_suppkey") != F.col("l3.l_suppkey")),
            "left_anti",
        )
    )
    return (
        j.groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )


@query(
    "q22_global_sales",
    oracle="""
    WITH eligible AS (
        SELECT c_custkey, c_acctbal, c_nationkey % 5 AS cntrycode
        FROM customer
        WHERE c_nationkey IN (1, 2, 11, 12, 21)
    )
    SELECT cntrycode, count(*) AS numcust,
           CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE)
               AS totacctbal
    FROM eligible e
    WHERE c_acctbal > (
        SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
               / CAST(count(*) AS DOUBLE)
        FROM eligible WHERE c_acctbal > 0
    )
    AND NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = e.c_custkey
          AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
    )
    GROUP BY cntrycode
    """,
)
def q22_global_sales(spark, sf_dir):
    """TPC-H Q22 shape (adapted: cntrycode derives from c_nationkey, and
    the "no orders" test is scoped to orders after 2000 — every testdata
    customer has SOME order): above-average-balance customers with no
    recent orders. The scalar average broadcasts as a 1-row join; the
    anti join's build side is pre-filtered by the pushed orderdate
    predicate. Average = exact decimal sum ÷ count in one IEEE double
    division (identical in DuckDB)."""
    cust = load_table(spark, sf_dir, "customer")
    eligible = cust.filter(
        F.col("c_nationkey").isin(1, 2, 11, 12, 21)
    ).select(
        "c_custkey", "c_acctbal", (F.col("c_nationkey") % 5).alias("cntrycode")
    )
    avg_bal = broadcast(
        eligible.filter(F.col("c_acctbal") > 0).agg(
            (
                F.sum(dec2("c_acctbal")).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("avg_bal")
        )
    )
    orders = load_table(spark, sf_dir, "orders")
    ts = orders.schema["o_orderdate"].dataType
    recent = orders.filter(
        F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast(ts)
    ).select("o_custkey")
    return (
        eligible.crossJoin(avg_bal)
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, eligible.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("cntrycode")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            money(F.sum(dec2("c_acctbal"))).alias("totacctbal"),
        )
    )


@query(
    "q20_promotion_suppliers",
    oracle="""
    SELECT s_name, s_acctbal
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name IN ('NATION_1', 'NATION_6')
      AND s_suppkey IN (
          SELECT l_suppkey
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE p_type = 'PROMO'
            AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
            AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
          GROUP BY l_suppkey, l_partkey
          HAVING SUM(l_quantity) > 50
      )
    ORDER BY s_name
    """,
)
def q20_promotion_suppliers(spark, sf_dir):
    """TPC-H Q20 shape (adapted: lineitem⋈part stands in for the absent
    partsupp availability relation): suppliers in two nations who moved
    more than a threshold quantity of any PROMO part in 1996. The inner
    block aggregates lineitem down to (suppkey, partkey) BEFORE the
    HAVING filter, and the outer IN is a left-semi join against just the
    surviving suppkeys — supplier rows never duplicate, and the fact
    table is touched exactly once."""
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_6")
    )
    li = load_table(spark, sf_dir, "lineitem")
    ts = li.schema["l_shipdate"].dataType
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_type") == "PROMO"
    )
    movers = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast(ts))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast(ts))
        )
        .join(part.select("p_partkey"), li.l_partkey == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 50)
        .select("l_suppkey")
        .distinct()
    )
    return (
        supp.join(broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(movers, supp.s_suppkey == movers.l_suppkey, "left_semi")
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


@query(
    "q2_top_supplier_per_nation",
    oracle="""
    WITH ranked AS (
        SELECT n_name, s_name, s_acctbal,
               max(s_acctbal) OVER (PARTITION BY n_nationkey) AS best
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE'
    )
    SELECT n_name, s_name, s_acctbal
    FROM ranked WHERE s_acctbal = best
    ORDER BY n_name, s_name
    """,
)
def q2_top_supplier_per_nation(spark, sf_dir):
    """TPC-H Q2 shape (adapted: no partsupp, so the correlated-min-cost
    subquery becomes correlated-max-acctbal per nation within a region —
    the identical decorrelation problem). One pass: the per-group scalar
    comes from a window over the region-pruned supplier slice, never a
    second aggregate branch (SCALE.md finding #5). Region→nation prune by
    broadcast before any supplier rows move."""
    from pyspark.sql import Window

    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "EUROPE"
    )
    dims = broadcast(
        nation.join(broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("n_nationkey", "n_name")
    )
    sliced = supp.join(dims, supp.s_nationkey == dims.n_nationkey)
    w = Window.partitionBy("n_nationkey")
    return (
        sliced.withColumn("best", F.max("s_acctbal").over(w))
        .filter(F.col("s_acctbal") == F.col("best"))
        .select("n_name", "s_name", "s_acctbal")
        .orderBy("n_name", "s_name")
    )


@query(
    "q11_important_parts",
    oracle="""
    WITH per_part AS (
        SELECT l_partkey,
               SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS part_value
        FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE n_name = 'NATION_7'
        GROUP BY l_partkey
    ),
    with_total AS (
        SELECT l_partkey, part_value,
               SUM(part_value) OVER () AS total_value
        FROM per_part
    )
    SELECT l_partkey,
           CAST(ROUND(part_value, 2) AS DOUBLE) AS part_value
    FROM with_total
    WHERE CAST(part_value AS DOUBLE) > CAST(total_value AS DOUBLE) * 0.002
    ORDER BY part_value DESC, l_partkey
    """,
)
def q11_important_parts(spark, sf_dir):
    """TPC-H Q11 shape (adapted: lineitem value flow stands in for the
    absent partsupp stock value): parts whose value through one nation's
    suppliers exceeds a fraction of that nation's total. The
    HAVING-vs-global-scalar comparison uses a window over the per-part
    aggregate — lineitem is scanned once, and the unpartitioned window
    sees only |parts| already-reduced rows (SCALE.md finding #5). The
    fraction comparison casts both exact decimal sums to double and
    multiplies by the same literal — one identical IEEE op per engine,
    so the threshold cut is bit-stable."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_7"
    )
    national = supp.join(broadcast(nation), supp.s_nationkey == nation.n_nationkey)
    per_part = (
        li.join(national.select("s_suppkey"), li.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum(dec2("l_extendedprice")).alias("part_value"))
    )
    w = Window.partitionBy()
    return (
        per_part.withColumn("total_value", F.sum("part_value").over(w))
        .filter(
            F.col("part_value").cast("double")
            > F.col("total_value").cast("double") * F.lit(0.002)
        )
        .select("l_partkey", money(F.col("part_value")).alias("part_value"))
        .orderBy(F.desc("part_value"), F.asc("l_partkey"))
    )
