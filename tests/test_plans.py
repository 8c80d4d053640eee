"""Physical-plan assertions (SURVEY.md §5.2 item 5).

These pin the scale-critical properties Catalyst must deliver: predicate
pushdown into the Parquet scan, column pruning (blob/text columns never
read unless referenced), broadcast joins for small dims, and partial
aggregation. A regression here means a 100 TB run reads or shuffles data
it shouldn't — even if results stay correct.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dmshadoop_spark import registry

registry.load_all()


def plan(spark, sf_dir, qid) -> str:
    df = registry.QUERIES[qid](spark, sf_dir)
    return spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_point_lookup_pushes_predicate(spark, sf_dir):
    p = plan(spark, sf_dir, "s3_point_lookup")
    assert "PushedFilters" in p and "EqualTo(doc_id,42)" in p.replace(" ", "")


def test_projection_prunes_text_column(spark, sf_dir):
    p = plan(spark, sf_dir, "p1_project")
    read_schema = [l for l in p.splitlines() if "ReadSchema" in l][0]
    assert "text" not in read_schema, read_schema


def test_latest_version_never_reads_text(spark, sf_dir):
    # The reference fetched whole rows incl. blobs to list versions
    # (src/DMS.py:375-376); our W1 plan must not touch the text column.
    p = plan(spark, sf_dir, "w1_latest_per_group")
    read_schema = [l for l in p.splitlines() if "ReadSchema" in l][0]
    assert "text" not in read_schema, read_schema


def test_star_join_broadcasts_dims(spark, sf_dir):
    p = plan(spark, sf_dir, "j4_broadcast_join")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_q1_partial_aggregation(spark, sf_dir):
    p = plan(spark, sf_dir, "a6_q1_pricing_summary")
    assert p.count("HashAggregate") >= 2  # partial + final
    assert "PushedFilters" in p  # shipdate predicate reaches the scan


def test_q1_wholestage_codegen(spark, sf_dir):
    # AQE defers codegen until execution, so inspect with AQE off — the
    # assertion is about the operators staying codegen-eligible.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = registry.QUERIES["a6_q1_pricing_summary"](spark, sf_dir)
        p = spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "codegen"
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "WholeStageCodegen subtrees" in p
    assert "Found 0 WholeStageCodegen" not in p


def test_semi_join_stays_semi(spark, sf_dir):
    p = plan(spark, sf_dir, "j1_semi_join")
    assert "LeftSemi" in p


def test_knn_broadcasts_queries_not_corpus(spark, sf_dir):
    p = plan(spark, sf_dir, "x4_cosine_topk")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_shingle_pipeline_single_evaluation(spark, sf_dir):
    """Regression guard for the higher-order-expression recompute bugs:

    1. InferFiltersFromGenerate must not re-materialize the shingle
       expression as a pushed-down Filter (we use explode_outer + a
       null-filter on the generated column to prevent it);
    2. PushDownPredicates must not substitute the shingle expression into
       a size()>0 predicate below the projection.

    Either regression shows up as the expensive lambda chain (element_at
    inside concat_ws) appearing in a Filter node, or as more than two
    split() calls in the whole plan (one per staged projection branch is
    legitimate; per-lambda-element inlining multiplies them)."""
    p = plan(spark, sf_dir, "x2_ngram_jaccard")
    for line in p.splitlines():
        stripped = line.strip()
        if stripped.startswith("Condition") and "element_at" in stripped:
            raise AssertionError(
                f"shingle expression inlined into a Filter: {stripped[:200]}"
            )


def test_pair_stages_stream_through_two_generates(spark, sf_dir):
    """Every "all pairs in a bucket" stage emits its pairs through two
    streamed explodes (dedup.components.pairs_within, or the A×B double
    explode of blocked_cosine_pairs): no nested transform/flatten that
    builds a group's whole pair array in one row, and a Generate that
    carries the previous Generate's element into the second explode."""
    import re

    for qid in (
        "x2_simhash",
        "x2_minhash_lsh",
        "x2_embedding_neardup",
        "x33_video_neardup",
        "x2_ngram_jaccard",
    ):
        p = plan(spark, sf_dir, qid)
        assert "flatten(" not in p, qid
        gens = re.findall(
            r"^Arguments: explode\(.*\), \[([^\]]*)\], (?:true|false), "
            r"\[([^\]]+)\]$",
            p,
            re.M,
        )
        generated = {out for _, out in gens}
        assert any(
            set(carried.split(", ")) & generated for carried, _ in gens
        ), (qid, gens)


def test_simhash_votes_are_compiled_aggregates(spark, sf_dir):
    """SimHash fingerprints must come from the explode + SUM-aggregate
    shape (codegen, partial agg) — not interpreted per-row array folds."""
    p = plan(spark, sf_dir, "x2_simhash")
    assert "HashAggregate" in p
    assert "aggregate(" not in p, "interpreted array fold back in simhash plan"


def test_knn_stages_norms_once(spark, sf_dir):
    """Cosine scoring must reference staged norm columns: the corpus-side
    norm fold appears once in a projection, not inside every pairwise
    cosine (which would re-fold per query row)."""
    p = plan(spark, sf_dir, "x4_cosine_topk")
    assert "BroadcastNestedLoopJoin" in p or "CartesianProduct" in p
    # zip_with appears only in the final dot product projection, never in
    # a Filter / Join condition.
    for line in p.splitlines():
        stripped = line.strip()
        if (
            stripped.startswith("Condition")
            or stripped.startswith("Join condition")
        ) and "zip_with" in stripped:
            raise AssertionError(f"dot fold in a condition: {stripped[:200]}")


def test_pq_adc_scan_stays_jvm_side(spark, sf_dir):
    """PQ's scale contract (similarity/pq.py): the Python boundary is
    crossed ONLY by the Arrow-batched encode/LUT UDFs — the per-candidate
    ADC scoring expression (zip_with/element_at/aggregate over codes) and
    both joins run JVM-side. Row-at-a-time Python in the scoring loop
    would be the 100 TB killer."""
    p = plan(spark, sf_dir, "x5_knn_pq")
    assert "BatchEvalPython" not in p, "row-at-a-time Python UDF in PQ plan"
    import re

    arrow_nodes = set(re.findall(r"ArrowEvalPython \((\d+)\)", p))
    assert 1 <= len(arrow_nodes) <= 2, arrow_nodes  # encode + query LUT
    # ADC scoring must never leak into a join/filter condition
    for line in p.splitlines():
        stripped = line.strip()
        if (
            stripped.startswith("Condition")
            or stripped.startswith("Join condition")
        ) and "element_at" in stripped:
            raise AssertionError(f"ADC fold in a condition: {stripped[:200]}")


def test_q7_broadcasts_nations(spark, sf_dir):
    # Nation joins must broadcast (25 rows, SF-invariant) so only the
    # matching dim slices reach the fact-side shuffles.
    p = plan(spark, sf_dir, "q7_volume_shipping")
    assert "BroadcastHashJoin" in p


def test_q15_single_fact_scan(spark, sf_dir):
    """The scalar-max must come from a window over the supplier-level
    aggregate, not a second aggregate branch — the crossJoin(max) form
    scans lineitem twice (inferred join-key isnotnull breaks exchange
    canonical equality; see SCALE.md)."""
    p = plan(spark, sf_dir, "q15_top_supplier")
    li_scans = [
        l for l in p.splitlines()
        if "Location" in l and "lineitem.parquet" in l
    ]
    assert len(li_scans) == 1, f"lineitem scanned {len(li_scans)}×"


def test_q18_preaggregates_before_join(spark, sf_dir):
    # The quantity rollup must shrink lineitem BEFORE customer/orders
    # join; top-100 via TakeOrderedAndProject, never a global sort.
    p = plan(spark, sf_dir, "q18_large_orders")
    assert "TakeOrderedAndProject" in p
    # Node ids number bottom-up: the lineitem rollup's HashAggregate must
    # carry a lower id than every join (i.e. it executes below them).
    import re

    ids = {}
    for line in p.splitlines():
        m = re.match(r"^[\s:+-]*(\w[\w ]*?) [^\n]*\((\d+)\)\s*$", line)
        if m:
            ids.setdefault(m.group(1).strip(), []).append(int(m.group(2)))
    aggs = ids.get("HashAggregate", [])
    joins = ids.get("BroadcastHashJoin", []) + ids.get("SortMergeJoin", [])
    assert aggs and joins, f"operators missing: {sorted(ids)}"
    assert min(aggs) < min(joins), (aggs, joins)


def test_q21_semi_and_anti_joins(spark, sf_dir):
    p = plan(spark, sf_dir, "q21_waiting_supplier")
    assert "LeftSemi" in p and "LeftAnti" in p


def test_q22_anti_join_with_pushed_date(spark, sf_dir):
    # The "no recent orders" anti join's build side must carry the
    # orderdate predicate down to the orders scan.
    p = plan(spark, sf_dir, "q22_global_sales")
    assert "LeftAnti" in p
    pushed = [l for l in p.splitlines() if "PushedFilters" in l and "o_orderdate" in l]
    assert pushed, "orderdate predicate not pushed into orders scan"


def test_partitioned_readback_prunes(spark, sf_dir):
    """The partitioned layout's read-back must prune at the directory
    level: the partition predicate shows up as PartitionFilters (and
    matched partitions < total), not as a post-scan Filter."""
    p = plan(spark, sf_dir, "s12_partitioned_sink")
    pf = [l for l in p.splitlines() if "PartitionFilters" in l]
    assert pf and "o_orderpriority" in pf[0], pf


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    """Bucketed co-located join: with broadcast off, the orderkey join
    must run exchange-free — both sides read pre-bucketed."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        p = plan(spark, sf_dir, "s13_bucketed_join")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    join_pos = p.find("SortMergeJoin")
    assert join_pos >= 0, "expected a sort-merge join over bucketed scans"
    # The only exchange allowed is the post-join aggregation's; nothing
    # below the join may shuffle. Node ids number bottom-up, so every
    # Exchange id must be GREATER than the join's id.
    import re

    join_id = min(
        int(m) for m in re.findall(r"SortMergeJoin[^(]*\((\d+)\)", p)
    )
    exchange_ids = [
        int(m) for m in re.findall(r"Exchange[^(]*\((\d+)\)", p)
    ]
    assert all(e > join_id for e in exchange_ids), (join_id, exchange_ids)
    assert "SELECTED BUCKETS" in p or "Bucketed: true" in p, "scan not bucketed"


def test_runtime_bloom_filter_injection(spark, sf_dir):
    """Runtime bloom-filter join pruning (on in session.py): a selective
    dim-side filter must inject might_contain(bloom_filter_agg(...)) on the
    fact side so the fact shuffle carries only plausibly-matching rows. The
    size thresholds are production-scale, so the test lowers them to prove
    the session posture actually injects."""
    restore = {
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "10GB",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    }
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10GB"
    )
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        p = spark._jvm.PythonSQLUtils.explainString(
            j._jdf.queryExecution(), "formatted"
        )
    finally:
        for k, v in restore.items():
            spark.conf.set(k, v)
    assert "might_contain" in p, "bloom filter was not injected"


def test_t9_single_corpus_scan(spark, sf_dir):
    """BM25's per-doc aggregate feeds both the one-row stats aggregate and
    the scoring branch; both sit on the identical doc_id exchange (no
    inferred filters on either side), so AQE stage reuse must run the
    scan+tokenize+partial-agg exactly once. Static ReuseExchange misses
    here (the branches canonicalize late), so assert on the EXECUTED
    plan."""
    df = registry.QUERIES["t9_bm25_topk"](spark, sf_dir)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    final = executed.split("Initial Plan")[0]
    assert "ReusedExchange" in final, "per-doc exchange not reused"
    scans = [
        l for l in final.splitlines()
        if "Scan parquet" in l and "documents" in l
    ]
    assert len(scans) == 1, f"documents scanned {len(scans)}× in final plan"


def test_rare_token_filter_single_scan(spark, sf_dir):
    """x17 must keep the window-over-key form: the naive vocab self-join
    plans the documents scan twice (join-key null inference blocks
    exchange reuse — SCALE.md #5)."""
    import collections
    import re

    p = plan(spark, sf_dir, "x17_rare_token_filter")
    scans = collections.Counter(re.findall(r"file:[^\]]*?/(\w+)\.parquet", p))
    assert scans == {"documents": 1}, scans


def test_rag_chunking_no_shuffle(spark, sf_dir):
    """x20 is scan-bound by design: tokenize → sequence → slice runs
    entirely inside the scan stage — any Exchange in this plan is a
    regression."""
    p = plan(spark, sf_dir, "x20_rag_chunking")
    assert "Exchange" not in p, p[:2000]


def test_triangle_count_no_cartesian(spark, sf_dir):
    """x18's wedge build and closure must stay equi-joins — a
    BroadcastNestedLoop/cartesian means the degree-ordered form got
    lost."""
    p = plan(spark, sf_dir, "x18_triangle_count")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_dynamic_partition_pruning_fires(spark, sf_dir):
    """DPP: joining a partitioned fact against a FILTERED dim must inject
    a dynamicpruning subquery into the fact scan's PartitionFilters —
    the runtime analogue of static pruning, and the mechanism that keeps
    a date/tenant-partitioned 100 TB fact from scanning partitions the
    dim filter already excluded."""
    from dmshadoop_spark.workdirs import scratch_dir

    out = f"{scratch_dir('dpp_test')}/orders_part"
    orders = registry.QUERIES["s1_full_scan"].__globals__["load_table"](
        spark, sf_dir, "orders"
    )
    (
        orders.repartition("o_orderpriority")
        .write.mode("overwrite")
        .partitionBy("o_orderpriority")
        .parquet(out)
    )
    fact = spark.read.parquet(out)
    dim = spark.createDataFrame(
        [("1-URGENT", "rush"), ("5-LOW", "slack")], "prio string, label string"
    ).filter(F.col("label") == "rush")
    joined = fact.join(dim, fact.o_orderpriority == dim.prio).groupBy(
        "label"
    ).count()
    p = spark._jvm.PythonSQLUtils.explainString(
        joined._jdf.queryExecution(), "formatted"
    )
    assert "dynamicpruning" in p.lower(), p[:3000]


def test_headline_scan_budget(spark, sf_dir):
    """Scan-count budget for every bench headline query: each table may
    be scanned at most its DOCUMENTED number of times (q8's two nation
    roles, q21's three co-partitioned lineitem legs, j7's union-trick
    sides, t4's column-free corpus count, x4's pruned query side) — any
    extra scan is an un-reviewed plan regression."""
    import collections
    import re

    budget = {
        "q8_market_share": {"nation": 2},
        "q21_waiting_supplier": {"lineitem": 3},
        "q18_large_orders": {"lineitem": 2},
        "j7_asof_join": {"events": 2},
        "t4_tfidf_topk": {"documents": 2},
        "x4_cosine_topk": {"embeddings": 2},
    }
    headline = [
        "a6_q1_pricing_summary", "q6_forecast_revenue", "q8_market_share",
        "q10_returned_items", "q13_customer_distribution", "q18_large_orders",
        "q21_waiting_supplier", "j3_inner_join", "j4_broadcast_join",
        "j7_asof_join", "w1_latest_per_group", "t2_inverted_index",
        "t4_tfidf_topk", "x1_exact_dedup", "x2_ngram_jaccard",
        "x7_training_pipeline", "x4_cosine_topk", "st1_tumbling_window",
        "st3_session_window",
    ]
    for name in headline:
        p = plan(spark, sf_dir, name)
        scans = collections.Counter(re.findall(r"file:[^\]]*?/(\w+)\.parquet", p))
        for table, count in scans.items():
            assert count <= budget.get(name, {}).get(table, 1), (
                f"{name} scans {table} {count}x (budget "
                f"{budget.get(name, {}).get(table, 1)})"
            )


def test_field_scoped_search_pushes_field_predicate(spark, sf_dir):
    """t11's field clause (lang:en) must reach the parquet scan as a
    pushed filter — that is the whole point of the direct form over the
    index path (partition-prunable at 100 TB)."""
    p = plan(spark, sf_dir, "t11_field_scoped_search")
    assert "PushedFilters" in p and "EqualTo(lang,en)" in p.replace(" ", "")


def test_sequence_packing_single_scan_one_window_shuffle(spark, sf_dir):
    """x25 = one documents scan + ONE window exchange (hashpartitioning
    on source) + map-side-combined bin rollup; a second scan or a second
    wide exchange means the cumsum got re-derived."""
    import re

    p = plan(spark, sf_dir, "x25_sequence_packing")
    scans = re.findall(r"file:[^\]]*?/(\w+)\.parquet", p)
    assert scans.count("documents") == 1, scans
    # exactly one shuffle on the window key; the final agg combines
    # map-side into the same partitioning (no extra exchange)
    n_exchanges = p.count("Exchange hashpartitioning")
    assert n_exchanges <= 2, p[:3000]


def test_extract_dispatch_no_shuffle(spark, sf_dir):
    """x24 is the ingest-scan shape: encode (mapInPandas) → extract
    (pandas_udf) with the binary column never leaving the executor —
    any Exchange is a regression."""
    p = plan(spark, sf_dir, "x24_extract_dispatch")
    assert "Exchange" not in p, p[:2000]


def test_salted_agg_keys_on_salt(spark, sf_dir):
    """a17_salted_agg's level-1 aggregate must key on (l_returnflag,
    _salt) — the fan-out that spreads a hot group over salt_buckets
    tasks — and re-aggregate by the bare key above it (≥4 HashAggregate
    nodes: partial+final at both levels)."""
    p = plan(spark, sf_dir, "a17_salted_agg")
    # the salt source (Catalyst aliases the salt to _groupingexpression)
    assert "SPARK_PARTITION_ID()" in p
    assert p.count("HashAggregate") >= 4
    # level 1 keys on (returnflag, salt); level 2 on the bare key
    assert "Keys [2]: [l_returnflag" in p and "Keys [1]: [l_returnflag" in p


def test_salted_join_fans_out_salt(spark, sf_dir):
    """j13_salted_join must explode the small side per salt bucket
    (Generate node) and carry _salt in the join keys — one hot key's
    probe rows land on salt_buckets tasks instead of one."""
    p = plan(spark, sf_dir, "j13_salted_join")
    assert "explode([0," in p  # dim replicated once per salt bucket
    assert "_salt" in p
    # the salt is a real join key, not a post-filter
    assert "Left keys [2]" in p and "Right keys [2]" in p


def test_video_neardup_single_decode_pass(spark, sf_dir):
    """x33_video_neardup must plan its synth → demux → decode → hash
    Arrow chain exactly ONCE: the set-size join-back form re-executed
    the whole subtree (documents scanned 2×) — the window form keeps it
    single-execution."""
    p = plan(spark, sf_dir, "x33_video_neardup")
    assert p.count("documents.parquet") == 1
    # 3 logical Arrow stages (synth, demux, hash); the formatted plan
    # renders each node twice (tree + detail section). Assert the
    # single-execution property as a bound, not an exact render count:
    # the rejected join-back form planned the chain twice (12 renders).
    assert 0 < p.count("MapInPandas") <= 2 * 3


def test_digest_is_o_n_in_plan(spark):
    """with_sorted_digest must stay O(n): the round-7 sf1 probe caught the
    sorted-concat form re-evaluating array_sort(collect_list(...)) PER ROW
    around the shared global window (O(n²) — 1075s at 50k rows). The O(n)
    combine keeps xxhash64 + a decimal SUM inside the window aggregate and
    no per-row sort of collected state anywhere in the plan."""
    from dmshadoop_spark.functions.digest import with_sorted_digest

    df = spark.range(10).selectExpr("id", "id * 2 AS v")
    out = with_sorted_digest(df, "id", "v")
    p = spark._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "xxhash64" in p
    assert "sort_array" not in p and "array_sort" not in p
    assert "collect_list" not in p
    # still the single-execution global-window form (no cache, no collect)
    assert "Window" in p
    # two runs agree and the digest reflects content
    a = {r["digest"] for r in out.collect()}
    b = {
        r["digest"]
        for r in with_sorted_digest(
            spark.range(10).selectExpr("id", "id * 2 AS v"), "id", "v"
        ).collect()
    }
    c = {
        r["digest"]
        for r in with_sorted_digest(
            spark.range(10).selectExpr("id", "id * 3 AS v"), "id", "v"
        ).collect()
    }
    assert len(a) == 1 and a == b and a != c


def test_components_checkpoint_edges_once(spark):
    """connected_components must not re-execute the caller's edge plan per
    propagation round (round-7 sf1 probe: x35's 24s pair subtree re-ran
    ~10×). On the distributed loop the checkpoint turns the edge source
    into an ExistingRDD scan; the driver union-find returns a local Arrow
    table. Either way the ORIGINAL edge-generating plan must be absent
    from the result's physical plan."""
    from dmshadoop_spark.dedup.components import connected_components

    edges = spark.range(100).selectExpr(
        "id AS src", "CASE WHEN id % 10 = 0 THEN id + 1 ELSE id - 1 END AS dst"
    )
    for max_edges, scan in ((0, "Scan ExistingRDD"), (10**6, "LocalTableScan")):
        comps = connected_components(
            edges, "src", "dst", driver_max_edges=max_edges
        )
        p = spark._jvm.PythonSQLUtils.explainString(
            comps._jdf.queryExecution(), "formatted"
        )
        assert scan in p  # checkpointed labels AND edges, or a local table
        assert "Range (0, 100" not in p  # the edge-generating plan is gone
        # semantics unchanged: chain pairs collapse to min-label components
        rows = {r["node"]: r["comp"] for r in comps.collect()}
        assert rows[1] == 0 and rows[11] == 10


def test_bigram_lm_no_literal_map_above_threshold(spark, sf_dir, monkeypatch):
    """x38 above its literal bound must NOT embed the bigram table as a
    create_map plan literal (round-7 verdict: driver OOM + unserializable
    plan at open vocab) — the optimized plan carries joins on the exact
    (w1, w2) key instead. Below the bound the literal map is the point."""
    from dmshadoop_spark.queries import llm

    monkeypatch.setattr(llm, "X38_LITERAL_MAX_BIGRAMS", 0)
    join_plan = (
        llm.x38_bigram_lm_score(spark, sf_dir)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "map(" not in join_plan, "bigram literal map leaked into join path"
    assert "Join" in join_plan
    monkeypatch.setattr(llm, "X38_LITERAL_MAX_BIGRAMS", 4096)
    lit_plan = (
        llm.x38_bigram_lm_score(spark, sf_dir)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "map(" in lit_plan  # the small-model fast path stays literal


def test_jl_sq8_candidate_stage_never_reads_wide_column(spark, sf_dir):
    """x5_knn_jl_sq8's point is the cheap scan: candidate generation reads
    the checkpointed (codes, mn, scale) index, and the wide float column
    is read from parquet EXACTLY once — in the exact rerank. (The 8-row
    query projection is checkpointed too, so it doesn't re-plan the
    extraction scan.)"""
    from pyspark.sql import functions as F

    from dmshadoop_spark.similarity import jl_sq8_knn

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    topk, _ = jl_sq8_knn(emb, qs, k=5, expand=16, d_out=32)
    p = spark._jvm.PythonSQLUtils.explainString(
        topk._jdf.queryExecution(), "formatted"
    )
    assert "Scan ExistingRDD" in p  # the SQ8 index (and query) checkpoints
    wide = [
        ln
        for ln in p.splitlines()
        if "ReadSchema" in ln and "embedding" in ln
    ]
    assert len(wide) == 1, wide  # rerank only


def test_stabilize_strips_compounding_statistics(spark):
    """The round-9 exponential-planner finding: Dataset.checkpoint
    preserves the optimized plan's Statistics into LogicalRDD, and join
    estimation MULTIPLIES child sizeInBytes — so an iterative loop that
    joins two frames derived from the previous round's checkpoint
    SQUARES the BigInt estimate every round (digit count doubles:
    measured 76→190→417→870→1777→3591 over six component-loop rounds,
    wall clock ×2.5/round from round ~15 with constant data/plans/
    tasks, root-caused via thread dump to scala.math.BigInt.$times).
    stabilize() therefore rebuilds the checkpointed frame without the
    carried stats; this pins that the estimate stays BOUNDED across
    iterated self-join rounds."""
    from pyspark.sql import functions as F

    from dmshadoop_spark.functions.checkpoint import stabilize

    df = spark.createDataFrame([(i, i + 1) for i in range(50)], "a long, b long")
    labels = stabilize(
        df.select(F.col("a").alias("node")).withColumn("comp", F.col("node"))
    )
    digit_counts = []
    for _ in range(4):
        # the component loop's compounding shape: two joins per round,
        # both sides derived from the previous round's checkpoint
        stepped = labels.join(
            labels.select(F.col("node").alias("b"), F.col("comp").alias("c2")),
            F.col("node") == F.col("b"),
        ).select("node", F.least("comp", "c2").alias("comp"))
        jumped = stepped.join(
            stepped.select(
                F.col("node").alias("pnode"), F.col("comp").alias("pcomp")
            ),
            F.col("comp") == F.col("pnode"),
            "left",
        ).select("node", F.coalesce("pcomp", "comp").alias("comp"))
        labels = stabilize(jumped)
        stats = labels._jdf.queryExecution().optimizedPlan().stats()
        digit_counts.append(len(str(stats.sizeInBytes())))
    # bounded (the session default estimate, ~19 digits), NOT doubling:
    # without the strip this sequence measured 76, 190, 417, 870
    assert max(digit_counts) <= 25, digit_counts
    assert digit_counts[-1] <= digit_counts[0] + 1, digit_counts
    assert labels.count() == 50


def test_x39_single_corpus_scan_per_plan(spark, sf_dir):
    """x39's hashed occurrence table is stabilized so detection and the
    mark semi-join share one materialization — without it each consumer
    re-runs the scan + tokenize + Arrow hashing subtree (measured: 3
    documents scans in the plan at round-10 development time). The
    compiled plan may scan documents ONCE (the excision join's token
    re-read); the occ subtree must live behind the checkpoint."""
    import re

    df = registry.QUERIES["x39_substring_dedup"](spark, sf_dir)
    p = spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    scans = re.findall(r"file:[^\]]*?/(\w+)\.parquet", p)
    assert scans.count("documents") == 1, (
        f"documents scanned {scans.count('documents')}× in x39 plan"
    )
