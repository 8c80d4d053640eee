"""Sources, sinks, DDL, and UDF/UDAF surface — SURVEY.md §2.1 S4/S6-S8/S10
and §2.11 UD3/UD4, plus TPC-H-style completeness queries (Q5 shape, pivot,
cube).

The sink queries exercise real write paths (append / rewrite-excluding-
predicate / upsert) against a scratch directory and verify by re-reading —
the "indirect oracle" pattern SURVEY §2.1 prescribes, since the oracle can
only see the source tables.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast, pandas_udf

from dmshadoop_spark.catalog import load_table
from dmshadoop_spark.functions.numeric import dec2, dec4, money
from dmshadoop_spark.operators.zorder import zorder_write
from dmshadoop_spark.registry import query


def _scratch(tag: str) -> str:
    """Per-process reusable scratch dir (workdirs.scratch_dir): repeated
    bench/correctness invocations overwrite one footprint instead of
    accumulating mkdtemp copies, while the returned dir stays alive for
    lazily-read result DataFrames."""
    from dmshadoop_spark.workdirs import scratch_dir

    return scratch_dir(f"sink_{tag}")


# --------------------------------------------------------------------------
# §2.1 sources / sinks / DDL
# --------------------------------------------------------------------------


@query("s4_binary_ingest")  # binary source → rows-only per SURVEY §2.1
def s4_binary_ingest(spark, sf_dir):
    """Binary blob ingest via the binaryFile source — the Spark-native form
    of the reference's open().read() + WebHDFS create_file path
    (src/DMS.py:106-121). Surfaces exactly the FileStatus fields the
    reference stored (path, modificationTime, length) plus content; here we
    ingest the sf dir's own parquet files as opaque blobs and emit
    per-file metadata + a content checksum."""
    from dmshadoop_spark.functions.digest import with_sorted_digest
    from dmshadoop_spark.multimodal import ingest_binary_dir

    raw = ingest_binary_dir(spark, sf_dir, glob="*.parquet")
    files = raw.select(
        F.element_at(F.split("path", "/"), -1).alias("file_name"),
        F.col("length"),
        F.md5("content").alias("content_md5"),
    )
    return with_sorted_digest(files, "file_name", "length", "content_md5")


@query(
    "s6_append_sink",
    oracle="SELECT 2 * count(*) AS n_rows FROM documents",
)
def s6_append_sink(spark, sf_dir):
    """Append sink (insert-new-version rows, src/DMS.py:125-165): two
    append writes to a scratch parquet dataset, verified by re-reading."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    out = os.path.join(_scratch("append"), "t")
    docs.write.mode("append").parquet(out)
    docs.write.mode("append").parquet(out)
    return spark.read.parquet(out).agg(F.count(F.lit(1)).alias("n_rows"))


@query(
    "s7_delete_sink",
    oracle="SELECT count(*) AS n_rows FROM documents WHERE lang <> 'en'",
)
def s7_delete_sink(spark, sf_dir):
    """Delete sink as rewrite-excluding-predicate (plain Parquet has no row
    deletes; src/DMS.py:299,305 deleted row+blob — Delta/Iceberg DELETE is
    the production path)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    base = _scratch("delete")  # one vend per invocation — a second vend wipes
    out = os.path.join(base, "t")
    docs.write.parquet(out)
    kept = spark.read.parquet(out).filter(F.col("lang") != "en")
    out2 = os.path.join(base, "t2")
    kept.write.parquet(out2)
    return spark.read.parquet(out2).agg(F.count(F.lit(1)).alias("n_rows"))


@query(
    "s8_overwrite_upsert",
    oracle="""
    SELECT count(*) AS n_rows,
           CAST(-1 AS BIGINT) AS updated_n_chars
    FROM documents
    """,
)
def s8_overwrite_upsert(spark, sf_dir):
    """Upsert = (old minus key) ∪ new, atomically swapped — the working
    version of the reference's dead update() (src/DMS.py:202-277, bug).
    Verifies both the total row count and the updated value round-trip."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    base = _scratch("upsert")
    out = os.path.join(base, "t")
    docs.write.parquet(out)
    current = spark.read.parquet(out)
    replacement = spark.createDataFrame(
        [(1, -1)], "doc_id long, n_chars long"
    )
    upserted = current.join(
        replacement, "doc_id", "left_anti"
    ).unionByName(replacement)
    out2 = os.path.join(base, "t2")
    upserted.write.parquet(out2)
    back = spark.read.parquet(out2)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.max(F.when(F.col("doc_id") == 1, F.col("n_chars"))).alias(
            "updated_n_chars"
        ),
    )


@query(
    "s10_catalog_ddl",
    oracle="SELECT lang, count(*) AS cnt FROM documents GROUP BY lang",
)
def s10_catalog_ddl(spark, sf_dir):
    """Catalog DDL — the reference's create-if-not-exists table bootstrap
    (t.exists()/t.create, src/DMS.py:44-45) as view DDL + SQL over the
    registered relation."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "dms_documents_ddl"
    )
    assert spark.catalog.tableExists("dms_documents_ddl")
    return spark.sql(
        "SELECT lang, count(*) AS cnt FROM dms_documents_ddl GROUP BY lang"
    )


@query(
    "s22_deletion_vector",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
           CAST(3 AS BIGINT) AS tombstone_rows,
           CAST(0 AS BIGINT) AS unshared_data_files
    FROM documents WHERE doc_id NOT IN (1, 2, 3)
    """,
)
def s22_deletion_vector(spark, sf_dir):
    """Merge-on-read delete (round-10 verdict task 1): ingest the
    documents table into a DocumentStore, delete three documents through
    the deletion-vector path, and read back through the tombstone
    anti-join. The oracle replays the deletes as NOT IN over the source
    table AND pins the physical layout facts as constants:
    ``tombstone_rows = 3`` (one (name, version) key per deleted doc —
    O(deletes), never O(data)) and ``unshared_data_files = 0`` (every
    data file of the delete commit is inode-shared with the previous
    generation — ZERO data rewritten, vs the reference's per-document
    row+blob delete, src/DMS.py:279-311, and vs the pre-round-11
    rewrite-excluding-predicate). Value check: surviving row count and
    total content bytes round-trip exactly."""
    from dmshadoop_spark.dms.store import DocumentStore

    docs = load_table(spark, sf_dir, "documents").select(
        F.concat(F.lit("doc-"), F.col("doc_id")).alias("name"),
        F.encode("text", "UTF-8").alias("content"),
    )
    store = DocumentStore(spark, os.path.join(_scratch("dv"), "store"))
    store.bulk_ingest(docs)
    for i in (1, 2, 3):
        assert store.delete(f"doc-{i}")
    lay = store.layout()
    return (
        store.df()
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("length").cast("long").alias("total_bytes"),
        )
        .withColumn(
            "tombstone_rows", F.lit(lay["tombstone_rows"]).cast("long")
        )
        .withColumn(
            "unshared_data_files",
            F.lit(
                lay["data_files"] - lay["data_files_shared_with_prev"]
            ).cast("long"),
        )
    )


@query(
    "s23_delete_where",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
           CAST((SELECT count(*) FROM documents WHERE lang = 'de')
                AS BIGINT) AS n_deleted,
           CAST(0 AS BIGINT) AS unshared_data_files
    FROM documents WHERE lang <> 'de'
    """,
)
def s23_delete_where(spark, sf_dir):
    """Predicate-shaped bulk merge-on-read delete (round 11): ingest the
    documents table into a DocumentStore with the language as the name
    prefix (the document key carries routing facts, as real stores
    do), tombstone every German document in ONE delete_where commit —
    the key set is computed BY the predicate scan in Spark, collected to
    the driver as (name, version) pairs only and written as one
    tombstone part — and read back through the tombstone anti-join. The oracle replays the predicate as SQL
    and pins: surviving rows + exact byte total, the tombstoned-key
    count returned by the API, and zero data files rewritten (every
    data file of the delete commit inode-shared with the previous
    generation)."""
    from dmshadoop_spark.dms.store import DocumentStore

    docs = load_table(spark, sf_dir, "documents").select(
        F.concat(F.col("lang"), F.lit("/doc-"), F.col("doc_id")).alias(
            "name"
        ),
        F.encode("text", "UTF-8").alias("content"),
    )
    store = DocumentStore(spark, os.path.join(_scratch("dvw"), "store"))
    store.bulk_ingest(docs)
    n_deleted = store.delete_where(F.col("name").startswith("de/"))
    lay = store.layout()
    return (
        store.df()
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("length").cast("long").alias("total_bytes"),
        )
        .withColumn("n_deleted", F.lit(n_deleted).cast("long"))
        .withColumn(
            "unshared_data_files",
            F.lit(
                lay["data_files"] - lay["data_files_shared_with_prev"]
            ).cast("long"),
        )
    )


@query(
    "p3_regex_predicate",
    oracle="""
    SELECT doc_id, lang FROM documents
    WHERE regexp_matches(lang, '^(en|de)$')
    """,
)
def p3_regex_predicate(spark, sf_dir):
    """Standalone regex predicate (RegexStringComparator, src/DMS.py:363)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.filter(F.col("lang").rlike("^(en|de)$")).select("doc_id", "lang")


# --------------------------------------------------------------------------
# §2.11 UD3 (grouped-agg pandas UDAF) / UD4 (vectorized scalar pandas UDF)
# --------------------------------------------------------------------------


@query(
    "ud3_grouped_agg_udaf",
    oracle="""
    SELECT c_nationkey, median(c_acctbal) AS median_acctbal
    FROM customer GROUP BY c_nationkey
    """,
)
def ud3_grouped_agg_udaf(spark, sf_dir):
    """Custom UDAF via pandas GROUPED_AGG (Arrow-batched): exact median —
    an aggregate Spark has no built-in exact form for."""
    import numpy as np
    from pyspark.sql.functions import PandasUDFType

    # functionType passed explicitly: `from __future__ import annotations`
    # stringifies type hints, which pandas_udf inference can't read.
    exact_median = pandas_udf(
        lambda v: float(np.median(v)), "double", PandasUDFType.GROUPED_AGG
    )

    cust = load_table(spark, sf_dir, "customer")
    return cust.groupBy("c_nationkey").agg(
        exact_median("c_acctbal").alias("median_acctbal")
    )


@query(
    "ud4_pandas_scalar",
    oracle="""
    SELECT doc_id, reverse(text) AS text_rev, length(text) AS n
    FROM documents WHERE doc_id < 50
    """,
)
def ud4_pandas_scalar(spark, sf_dir):
    """Vectorized scalar pandas UDF (Arrow batches, ~10-100× the row-at-a-
    time Python UDF) — the pattern every custom text transform uses."""
    from pyspark.sql.functions import PandasUDFType

    rev = pandas_udf(
        lambda s: s.map(lambda x: x[::-1]), "string", PandasUDFType.SCALAR
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return docs.select(
        "doc_id",
        rev("text").alias("text_rev"),
        F.length("text").cast("long").alias("n"),
    )


# --------------------------------------------------------------------------
# TPC-H completeness: Q5 shape, pivot, cube
# --------------------------------------------------------------------------


@query(
    "q5_local_supplier_volume",
    oracle="""
    SELECT n_name,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                          * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2)
                AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
)
def q5_local_supplier_volume(spark, sf_dir):
    """TPC-H Q5 shape: 6-table join with a local-supplier equality — facts
    shuffle on orderkey once; all dims broadcast."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(broadcast(region), nation.n_regionkey == region.r_regionkey)
        .filter(F.col("r_name") == "ASIA")
    )
    revenue = dec2("l_extendedprice") * (F.lit(1) - dec4("l_discount"))
    return joined.groupBy("n_name").agg(money(F.sum(revenue)).alias("revenue"))


@query(
    "a_pivot",
    oracle="""
    SELECT user_id,
           count(*) FILTER (WHERE event_type = 'click')    AS click,
           count(*) FILTER (WHERE event_type = 'view')     AS view,
           count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           count(*) FILTER (WHERE event_type = 'signup')   AS signup,
           count(*) FILTER (WHERE event_type = 'error')    AS error
    FROM events GROUP BY user_id
    """,
)
def a_pivot(spark, sf_dir):
    """Pivot (explicit value list keeps the schema static — mandatory for a
    deterministic contract and for skipping the extra distinct-scan)."""
    ev = load_table(spark, sf_dir, "events")
    kinds = ["click", "view", "purchase", "signup", "error"]
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", kinds)
        .agg(F.count(F.lit(1)))
    )
    # pivot leaves NULL for absent combinations; counts mean 0
    return out.select(
        "user_id", *[F.coalesce(F.col(k), F.lit(0)).alias(k) for k in kinds]
    )


@query(
    "a8_cube",
    oracle="""
    SELECT lang, source, count(*) AS cnt
    FROM documents GROUP BY CUBE (lang, source)
    """,
)
def a8_cube(spark, sf_dir):
    """CUBE over two dims (all 4 grouping-set combinations)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.cube("lang", "source").agg(F.count(F.lit(1)).alias("cnt"))


@query(
    "s12_partitioned_sink",
    oracle="""
    SELECT o_orderpriority, count(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
               AS total_price
    FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    GROUP BY o_orderpriority
    """,
)
def s12_partitioned_sink(spark, sf_dir):
    """Partitioned physical layout + partition-pruned read-back (SURVEY
    §4.2 "partition pruning"). Writes orders Hive-partitioned by
    o_orderpriority, then reads it back with a partition predicate — the
    scan's PartitionFilters prune entire directories before any I/O
    happens, the layout move that makes date/tenant-scoped queries on a
    100 TB table touch only their slice (asserted in
    tests/test_plans.py::test_partitioned_readback_prunes). One shuffle
    on the partition column before the write keeps it one file per
    partition instead of num_tasks files per partition — the small-files
    discipline a 1000-executor writer needs."""
    out = _scratch("part")
    orders = load_table(spark, sf_dir, "orders")
    (
        orders.repartition("o_orderpriority")
        .write.mode("overwrite")
        .partitionBy("o_orderpriority")
        .parquet(out)
    )
    back = spark.read.parquet(out).filter(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    )
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        money(F.sum(dec2("o_totalprice"))).alias("total_price"),
    )


@query(
    "s14_zorder_layout",
    oracle="""
    SELECT count(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
               AS total_price
    FROM orders
    WHERE o_custkey BETWEEN 100 AND 200
      AND o_totalprice BETWEEN 100000 AND 200000
    """,
)
def s14_zorder_layout(spark, sf_dir):
    """Z-order clustered layout + 2-D pruned read-back. Writes orders
    Morton-clustered on (o_custkey, o_totalprice) — operators/zorder.py —
    then answers a box predicate over BOTH dimensions from the re-read
    table. Row-group stats stay narrow in every z-dimension, so at 100 TB
    the footer min/max check skips most files for any selective box; the
    skipping advantage over a linear sort is measured in
    tests/test_operators.py::test_zorder_skips_more_than_linear_sort."""
    out = os.path.join(_scratch("zorder"), "t")
    orders = load_table(spark, sf_dir, "orders")
    zorder_write(orders, ["o_custkey", "o_totalprice"], out, n_files=8)
    back = spark.read.parquet(out).filter(
        F.col("o_custkey").between(100, 200)
        & F.col("o_totalprice").between(100000, 200000)
    )
    return back.agg(
        F.count(F.lit(1)).alias("n_orders"),
        money(F.sum(dec2("o_totalprice"))).alias("total_price"),
    )


@query(
    "s13_bucketed_join",
    oracle="""
    SELECT o_orderpriority, count(*) AS n_items,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 2)
                AS DOUBLE) AS total_price
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    """,
)
def s13_bucketed_join(spark, sf_dir):
    """Bucketed co-located fact⋈fact join (the brief's "bucketing for
    co-located joins"). Both tables are written CLUSTERED BY the join key
    into the same bucket count, so the join needs NO exchange on either
    side — at 100 TB that deletes the two largest shuffles in the
    pipeline in exchange for one-time bucketed layout
    (tests/test_plans.py::test_bucketed_join_has_no_shuffle asserts the
    exchange-free plan). Bucket pruning and AQE still apply on top."""
    base = _scratch("bucket")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    for name, df, key in (
        ("bkt_orders", orders, "o_orderkey"),
        ("bkt_lineitem", li, "l_orderkey"),
    ):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            df.write.mode("overwrite")
            .option("path", os.path.join(base, name))
            .bucketBy(8, key)
            .sortBy(key)
            .saveAsTable(name)
        )
    o = spark.table("bkt_orders")
    l = spark.table("bkt_lineitem")
    return (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            money(F.sum(dec2("l_extendedprice"))).alias("total_price"),
        )
    )


@query(
    "s15_orc_roundtrip",
    oracle="""
    SELECT o_orderpriority, count(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
               AS total_price
    FROM orders GROUP BY o_orderpriority
    """,
)
def s15_orc_roundtrip(spark, sf_dir):
    """Columnar-format breadth: orders written to ORC and read back must
    aggregate identically to the parquet source (ORC keeps full numeric
    fidelity and its reader supports the same predicate pushdown /
    column pruning). One write + one scan; the aggregate is the usual
    partial+final DECIMAL shape."""
    out = os.path.join(_scratch("orc"), "t")
    orders = load_table(spark, sf_dir, "orders")
    orders.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        money(F.sum(dec2("o_totalprice"))).alias("total_price"),
    )


@query(
    "s16_csv_roundtrip",
    oracle="""
    SELECT o_orderpriority, count(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
               AS total_price
    FROM orders GROUP BY o_orderpriority
    """,
)
def s16_csv_roundtrip(spark, sf_dir):
    """Text-format interchange: a projection of orders (keys, price,
    priority — no timestamps, which don't survive text round-trips
    portably) written to CSV with header and read back under an explicit
    schema. The 2-decimal money values print and re-parse exactly, so the
    DECIMAL aggregate matches the parquet source bit-for-bit."""
    out = os.path.join(_scratch("csv"), "t")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )
    orders.write.mode("overwrite").option("header", "true").csv(out)
    back = spark.read.schema(
        "o_orderkey long, o_custkey long, o_totalprice double,"
        " o_orderpriority string"
    ).option("header", "true").csv(out)
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        money(F.sum(dec2("o_totalprice"))).alias("total_price"),
    )


@query(
    "s17_incremental_rollup",
    oracle="""
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           max(doc_id) AS max_doc_id
    FROM documents
    GROUP BY source
    """,
)
def s17_incremental_rollup(spark, sf_dir):
    """Incremental materialized-view maintenance (operators/incremental.py):
    the corpus arrives as two ingest batches (a deterministic md5-nibble
    split); batch 1's per-source rollup is MATERIALIZED to parquet, and
    batch 2 is folded in by merging partial aggregates — the base rows
    are never rescanned (the merge reads the O(|groups|) rollup file plus
    the delta). The oracle is a full recompute over ALL rows, so the hash
    gate proves merge ≡ recompute. At 100 TB this is the difference
    between a daily refresh that reads one day and one that reads the
    whole corpus."""
    from dmshadoop_spark.operators.incremental import merge_rollups

    docs = load_table(spark, sf_dir, "documents")
    nib = F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 1)
    batch1 = docs.filter(nib < "8")
    batch2 = docs.filter(~(nib < "8"))

    def rollup(df):
        return df.groupBy("source").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.max("doc_id").alias("max_doc_id"),
        )

    out = os.path.join(_scratch("rollup"), "base")
    rollup(batch1).write.mode("overwrite").parquet(out)
    base = spark.read.parquet(out)
    return merge_rollups(
        [base, rollup(batch2)],
        keys=["source"],
        adds=["n_docs", "total_chars"],
        maxs=["max_doc_id"],
    )


@query(
    "s18_schema_evolution",
    oracle="""
    SELECT n_regionkey AS nationkey_group,
           count(*) AS n_rows,
           CAST(sum(CASE WHEN batch = 2 THEN pop ELSE 0 END) AS BIGINT)
               AS pop_sum,
           CAST(sum(CASE WHEN batch = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS legacy_rows
    FROM (
        SELECT n_regionkey, 1 AS batch, NULL::BIGINT AS pop FROM nation
        UNION ALL BY NAME
        SELECT n_regionkey, 2 AS batch, n_nationkey * 100 AS pop FROM nation
    )
    GROUP BY n_regionkey
    """,
)
def s18_schema_evolution(spark, sf_dir):
    """Schema evolution on a file source — the operational reality of any
    long-lived 100 TB table: batch 1 writes the original columns, batch 2
    adds a column (`pop`) and a discriminator, and a single
    ``mergeSchema`` read reconciles both vintages (old rows surface the
    new column as NULL). The aggregate proves the merged relation is
    column-correct per vintage, not just readable. At scale, mergeSchema
    only unions file footers — data files are never rewritten, which is
    the point: additive evolution is a metadata operation. (Production
    catalogs — Delta/Iceberg — track this in the table log instead of
    footer-merging; the read semantics are identical.)"""
    base = _scratch("evolve")
    out = os.path.join(base, "t")
    nation = load_table(spark, sf_dir, "nation")
    v1 = nation.select("n_nationkey", "n_regionkey", F.lit(1).alias("batch"))
    v1.write.mode("overwrite").parquet(out)
    v2 = nation.select(
        "n_nationkey",
        "n_regionkey",
        F.lit(2).alias("batch"),
        (F.col("n_nationkey") * 100).alias("pop"),
    )
    v2.write.mode("append").parquet(out)
    merged = spark.read.option("mergeSchema", "true").parquet(out)
    return merged.groupBy(
        F.col("n_regionkey").alias("nationkey_group")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("batch") == 2, F.col("pop")).otherwise(0))
        .cast("long")
        .alias("pop_sum"),
        F.sum(F.when(F.col("batch") == 1, 1).otherwise(0))
        .cast("long")
        .alias("legacy_rows"),
    )


@query(
    "s19_nested_types",
    oracle="""
    SELECT source, lang, count(*) AS cnt
    FROM documents GROUP BY source, lang
    """,
)
def s19_nested_types(spark, sf_dir):
    """Nested-type storage round-trip: per-source stats collected into a
    SORTED array<struct<lang,cnt>> column, written to parquet (nested
    columns use Parquet's repetition/definition levels — Spark reads
    struct fields back with column pruning intact), read back, and
    exploded to flat rows that must equal the direct aggregate. Proves
    the complex-type write path AND that nothing (ordering, nulls, field
    names) is lost in the nested encoding. At 100 TB, nested layouts are
    how per-entity substructures (versions, spans, provenance) avoid a
    second table + join — pruned struct fields cost nothing to carry."""
    base = _scratch("nested")
    out = os.path.join(base, "t")
    docs = load_table(spark, sf_dir, "documents")
    nested = (
        docs.groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("source")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("lang", "cnt"))
            ).alias("lang_stats")
        )
    )
    nested.write.mode("overwrite").parquet(out)
    back = spark.read.parquet(out)
    return back.select(
        "source", F.explode("lang_stats").alias("s")
    ).select("source", "s.lang", "s.cnt")


@query(
    "s20_compaction",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_bytes,
           1 AS n_generations,
           2 AS n_part_files
    FROM documents WHERE doc_id < 100
    """,
)
def s20_compaction(spark, sf_dir):
    """DocumentStore maintenance as an oracle-checked query (round-3
    VERDICT item 3c): two hardlink-append ingests accumulate one
    generation + part-file set each, compact() rewrites the snapshot into
    2 part-files as a new generation (the OPTIMIZE analogue,
    dms/store.py), vacuum(keep_last=1) drops the superseded generations.
    Correctness = not a single row changed across the whole maintenance
    cycle: the oracle recomputes doc count + total byte length straight
    from the source table, and the layout facts (1 surviving generation,
    exactly 2 part-files) are pinned alongside. At 100 TB this cycle is
    the standard small-file remedy after streaming ingest; compaction
    cost is one repartition of the current snapshot, never a history
    rewrite."""
    import os as _os

    from dmshadoop_spark.dms import DocumentStore

    base = _os.path.join(_scratch("compactq"), "store")
    store = DocumentStore(spark, base)
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    named = docs.select(
        F.concat(
            F.lit("doc-"), F.col("doc_id").cast("string"), F.lit(".txt")
        ).alias("name"),
        F.col("text").cast("binary").alias("content"),
        F.col("doc_id"),
    )
    store.bulk_ingest(named.filter(F.col("doc_id") % 2 == 0).drop("doc_id"))
    store.bulk_ingest(named.filter(F.col("doc_id") % 2 == 1).drop("doc_id"))
    store.compact(target_files=2)
    store.vacuum(keep_last=1)
    n_generations = len(store.history())
    gen_dir = store._gen_path(store.history()[-1])
    n_part_files = sum(
        1 for f in _os.listdir(gen_dir)
        if f.startswith("part-") and f.endswith(".parquet")
    )
    return store.df().agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("length").alias("total_bytes"),
    ).select(
        "n_docs",
        "total_bytes",
        F.lit(n_generations).alias("n_generations"),
        F.lit(n_part_files).alias("n_part_files"),
    )


@query(
    "s21_merge_into",
    oracle="""
    WITH t AS (
        SELECT c_custkey AS id, c_name AS name, c_acctbal AS bal
        FROM customer
    ),
    s AS (
        SELECT c_custkey AS id, c_name AS name, c_acctbal * 2 AS bal
        FROM customer WHERE c_custkey % 3 = 0
        UNION ALL
        SELECT c_custkey + 10000000, 'new_' || CAST(c_custkey AS VARCHAR),
               CAST(0.0 AS DOUBLE)
        FROM customer WHERE c_custkey % 7 = 0
    )
    SELECT COALESCE(s.id, t.id) AS id,
           CASE WHEN s.id IS NOT NULL THEN s.name ELSE t.name END AS name,
           CASE WHEN s.id IS NOT NULL THEN s.bal ELSE t.bal END AS bal
    FROM t FULL OUTER JOIN s ON t.id = s.id
    WHERE NOT (t.id IS NOT NULL AND s.id IS NOT NULL AND s.bal > 5000)
    """,
)
def s21_merge_into(spark, sf_dir):
    """MERGE INTO (operators/merge.py) under a full value oracle — the
    Delta-style matched-update / matched-delete / not-matched-insert
    statement the reference's dead update() (src/DMS.py:202-277) needed,
    as ONE full-outer join + CASE projection (single shuffle per side).
    Source = doubled balances for every 3rd customer (update; delete when
    the doubled balance exceeds 5000) ∪ synthesized new customers for
    every 7th key (insert); target-only rows pass through unchanged. The
    oracle replays the same MERGE as DuckDB FULL OUTER + CASE — the exact
    semantics the hypothesis property test pins against plain Python
    (tests/test_operators.py)."""
    from dmshadoop_spark.operators.merge import merge_into

    cust = load_table(spark, sf_dir, "customer")
    target = cust.select(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("bal"),
    )
    updates = cust.filter(F.col("c_custkey") % 3 == 0).select(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("name"),
        (F.col("c_acctbal") * 2).alias("bal"),
    )
    inserts = cust.filter(F.col("c_custkey") % 7 == 0).select(
        (F.col("c_custkey") + 10000000).alias("id"),
        F.concat(F.lit("new_"), F.col("c_custkey").cast("string")).alias(
            "name"
        ),
        F.lit(0.0).cast("double").alias("bal"),
    )
    source = updates.unionByName(inserts)
    return merge_into(
        target,
        source,
        on=["id"],
        matched_delete=F.col("__mrg_s.bal") > 5000,
    )
