"""Physical-plan regression tests: the scale properties the engine
claims (pushdown, pruning, broadcast, bounded shuffles) asserted on
real plans at sf0.001."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from firmable_aus_etl_spark import plans
from firmable_aus_etl_spark.queries import PIPELINE_QUERIES, QUERIES

SF = "/root/testdata/sf0.001"


def test_pricing_summary_pushdown_and_pruning(spark):
    df = QUERIES["pricing_summary"](spark, SF)
    pushed = plans.pushed_filters(df)
    assert any("l_shipdate" in f for f in pushed), f"shipdate filter not pushed: {pushed}"
    schemas = plans.read_schemas(df)
    # projection pruning: the scan must NOT read all 11 lineitem columns
    assert schemas and all("l_partkey" not in s for s in schemas), schemas
    assert all("l_orderkey" not in s for s in schemas), schemas


def test_regex_filter_events_partial_pushdown(spark):
    df = QUERIES["regex_filter_events"](spark, SF)
    schemas = plans.read_schemas(df)
    # column pruning: only the 3 projected columns are scanned
    assert schemas and "user_id" not in schemas[0] and "value" not in schemas[0]


def test_revenue_star_join_broadcasts_dims(spark):
    df = QUERIES["revenue_by_nation"](spark, SF)
    assert plans.has_broadcast_join(df), "nation/region must broadcast"
    plan = plans.physical_plan(df)
    assert "BroadcastHashJoin" in plan


def test_similarity_join_is_blocked_equi_join(spark):
    df = QUERIES["similarity_join_blocked_top1"](spark, SF)
    plan = plans.physical_plan(df)
    # the θ-join must compile to a hash join on block keys (broadcast
    # here since the supplier side is hinted), never a nested loop over
    # raw pairs
    assert "BroadcastHashJoin" in plan
    # partial top-1 before the shuffle (rank pushdown)
    assert "WindowGroupLimit" in plan


def test_keyed_dedup_single_shuffle(spark):
    df = QUERIES["dedup_documents_keyed"](spark, SF)
    assert plans.count_exchanges(df) == 1, plans.physical_plan(df)


def test_merge_upsert_shuffle_bound(spark):
    df = QUERIES["merge_upsert_orders"](spark, SF)
    # full-outer merge: one shuffle per side of the join (existing +
    # updates built from two scans) — must stay O(sides), not O(columns)
    assert plans.count_exchanges(df) <= 4, plans.physical_plan(df)


def test_global_topk_uses_take_ordered(spark):
    df = QUERIES["global_top20_orders"](spark, SF)
    assert "TakeOrderedAndProject" in plans.physical_plan(df)


def test_no_python_udf_on_benchmarked_paths(spark):
    # no PER-ROW Python on any benchmarked hot path (BASELINE.md rule).
    # Arrow-batched mapInPandas stages (numpy matmul signature /
    # assignment stages) are the sanctioned vectorized escape hatch —
    # they appear as MapInPandas, never BatchEvalPython/ArrowEvalPython.
    import bench

    for name in bench.HEADLINE:
        plan = plans.physical_plan(bench.ALL_QUERIES[name](spark, SF))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def _inferred_size_args(cond: str) -> list[str]:
    """Arguments X of every `size(X, ...) > 0` term in a Filter
    condition — the predicate shape InferFiltersFromGenerate adds."""
    out, i = [], cond.find("size(")
    while i != -1:
        depth = 0
        for j in range(i + 4, len(cond)):
            depth += {"(": 1, ")": -1}.get(cond[j], 0)
            if depth == 0:
                break
        if cond[j + 1 :].startswith(" > 0"):
            out.append(cond[i + 5 : j])
        i = cond.find("size(", i + 5)
    return out


def test_no_expensive_inferred_filter_below_generates(spark):
    # InferFiltersFromGenerate adds `size(x) > 0` for an INNER generate
    # over an attribute; filter pushdown then substitutes x's defining
    # expression and moves the filter below the parse's repartition
    # exchange, re-running the whole tokenize + shingle + hash pipeline
    # on the raw scan's few tasks (the zipf30 straggler). Generates over
    # parsed arrays are *_outer + null-drop, so no such filter may
    # re-evaluate a parse-stage expression. Checked on every headline
    # plan with a Generate, plus the Generate site headline does not
    # reach at this scale: the naive shingle join.
    import re

    import bench

    expensive = ("regexp_replace", "concat_ws", "xxhash64(", "aggregate(", "md5(")
    frames = {name: bench.ALL_QUERIES[name](spark, SF) for name in bench.HEADLINE}
    frames["ngram_jaccard_near_dups"] = QUERIES["ngram_jaccard_near_dups"](spark, SF)
    checked, flagged = [], {}
    for name, df in frames.items():
        plan = plans.physical_plan(df)
        if not re.search(r"\(\d+\) Generate\b", plan):
            continue
        checked.append(name)
        conds = re.findall(
            r"\(\d+\) Filter[^\n]*\nInput[^\n]*\nCondition : ([^\n]*)", plan
        )
        hits = sorted(
            {t for c in conds for a in _inferred_size_args(c) for t in expensive if t in a}
        )
        if hits:
            flagged[name] = hits
    assert "ngram_jaccard_near_dups" in checked, checked
    assert not flagged, flagged


def test_plan_report_shape(spark):
    rep = plans.plan_report(QUERIES["pricing_summary"](spark, SF))
    assert rep["exchanges"] >= 1
    # note: codegen ids only materialize in the AQE final plan (post-
    # execution), so codegen_spans may be 0 on an unexecuted plan
    assert rep["codegen_spans"] >= 0
    assert rep["pushed_filters"]


def test_partitioned_layout_prunes_scan(spark, tmp_path):
    """Hive-partitioned writes + a partition-key filter must prune at
    planning time (PartitionFilters on the scan, one directory read) —
    the data-layout lever that turns a 100 TB scan into a 1-day scan."""
    from firmable_aus_etl_spark.datasets import load_table

    path = str(tmp_path / "orders_by_month")
    orders = load_table(spark, "/root/testdata/sf0.001", "orders")
    orders.withColumn(
        "month", F.date_format("o_orderdate", "yyyy-MM")
    ).write.partitionBy("month").mode("overwrite").parquet(path)

    df = spark.read.parquet(path).filter(F.col("month") == "1995-03")
    p = plans.physical_plan(df)
    assert "PartitionFilters" in p and "month" in p.split("PartitionFilters", 1)[1][:200]
    # pruning is observable, not just advertised: the pruned scan reads
    # exactly the rows of the one selected partition
    expected = orders.filter(F.date_format("o_orderdate", "yyyy-MM") == "1995-03").count()
    assert expected > 0 and df.count() == expected


def test_minhash_pipeline_reuses_shingle_exchange_at_runtime(spark):
    """The LSH+verify pipeline consumes the shingle frame in three
    branches; AQE must materialize it once and reuse the exchange —
    the property that keeps the 100 TB signature stage from running
    multiple times."""
    df = PIPELINE_QUERIES["minhash_verified_near_dups"](spark, SF)
    assert plans.count_reused_exchanges_final(df) >= 1


def test_tfidf_default_candidate_shuffle_keys_on_token(spark):
    """op22 default: the candidate-generation join must key on the
    TOKEN (vocabulary-wide parallelism), never on the block columns
    alone — a (source, lang)-only partitioning caps the join at
    #blocks-way parallelism regardless of cluster size. The adaptive
    dispatch may pick either the prefix or the naive plan; both key on
    token, and at tiny SF the naive self-join legitimately broadcasts
    (no exchange at all) — a token-keyed BroadcastHashJoin passes."""
    import re

    df = QUERIES["tfidf_cosine_top1"](spark, SF)
    plan = plans.physical_plan(df)
    keyed = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    token_keyed = [k for k in keyed if re.search(r"\bt#", k)]
    bcast_token = re.findall(r"keys \[\d+\]: \[[^\]]*\bt#[^\]]*\]", plan)
    assert token_keyed or bcast_token, f"no token-keyed join in plan: {keyed}"
    # and no exchange partitions on the blocks alone
    block_only = [
        k
        for k in keyed
        if re.search(r"\bsource#", k)
        and re.search(r"\blang#", k)
        and not re.search(r"\bt#", k)
        and not re.search(r"_id#|doc_id#", k)
    ]
    assert not block_only, f"block-cardinality-bounded exchange: {block_only}"


def test_tfidf_sparse_regime_prefix_shuffle_keys_on_token(spark):
    """The sparse-regime plan of the tfidf dispatch (prefix plan) must
    keep the vocabulary-wide candidate shuffle: with broadcast disabled
    (forcing real exchanges, as at cluster scale) every join exchange
    keys on the token, never on blocks alone."""
    import re

    from firmable_aus_etl_spark.operators.cosine_join import cosine_prefix_join

    rows = [
        (i, "common", 1.0 / 61, False) for i in range(1, 62)
    ]  # light shared token
    rows += [(i, f"uniq{i}", 6.0, True) for i in range(1, 62)]  # heavy unique
    wt = spark.createDataFrame(
        rows, "doc_id long, t string, wt double, heavy boolean"
    ).drop("heavy")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = cosine_prefix_join(
            wt,
            id_col="doc_id",
            token_col="t",
            weight_col="wt",
            threshold=0.7,
        )
        plan = plans.physical_plan(df)
        keyed = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
        token_keyed = [k for k in keyed if re.search(r"\bt#", k)]
        assert token_keyed, f"no token-keyed exchange: {keyed}"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_grouping_sets_single_expand_pass(spark):
    df = QUERIES["grouping_sets_part_stats"](spark, SF)
    plan = plans.physical_plan(df)
    # three grouping sets in ONE pass: Expand -> partial agg -> 1 shuffle,
    # never a union of three scans
    assert "Expand" in plan
    assert plans.count_exchanges(df) == 1, plan
    assert "Union" not in plan


def test_above_customer_avg_is_decorrelated(spark):
    df = QUERIES["orders_above_customer_avg"](spark, SF)
    plan = plans.physical_plan(df)
    # the correlated subquery shape must compile to a window over one
    # shuffle on o_custkey — no self-join of orders
    assert "Join" not in plan, plan
    assert plans.count_exchanges(df) == 1, plan
    assert "Window" in plan


def test_unpivot_is_expand_no_shuffle(spark):
    df = QUERIES["unpivot_part_attrs"](spark, SF)
    plan = plans.physical_plan(df)
    # wide->long in one scan pass: Expand node, zero exchanges
    assert "Expand" in plan
    assert plans.count_exchanges(df) == 0, plan


def test_conditional_agg_single_shuffle(spark):
    df = QUERIES["conditional_agg_orders"](spark, SF)
    # all per-status metrics in one partial-aggregated pass
    assert plans.count_exchanges(df) == 1, plans.physical_plan(df)


def test_histogram_single_shuffle(spark):
    df = QUERIES["price_histogram_orders"](spark, SF)
    assert plans.count_exchanges(df) == 1, plans.physical_plan(df)


def test_centroids_partial_agg_single_shuffle(spark):
    df = QUERIES["label_centroids_embeddings"](spark, SF)
    plan = plans.physical_plan(df)
    # posexplode (Generate) feeds a map-side-combined agg: the x64 row
    # blowup is reduced before the single (label, pos) shuffle
    assert "Generate" in plan
    assert plans.count_exchanges(df) == 1, plan
    assert "partial" in plan.lower(), plan


def test_dynamic_partition_pruning_on_partitioned_fact(spark, tmp_path):
    """Joining a hive-partitioned fact to a filtered dim must inject a
    dynamic-pruning subquery into the fact scan (DPP): at 100 TB the
    partition set to read is discovered at runtime from the dim-side
    filter, so the fact scan never enumerates the full table even when
    the wanted partitions aren't known until the dim is evaluated."""
    from firmable_aus_etl_spark.datasets import load_table

    path = str(tmp_path / "orders_by_month_dpp")
    orders = load_table(spark, SF, "orders")
    orders.withColumn(
        "month", F.date_format("o_orderdate", "yyyy-MM")
    ).write.partitionBy("month").mode("overwrite").parquet(path)

    fact = spark.read.parquet(path)
    dim = (
        orders.select(
            F.date_format("o_orderdate", "yyyy-MM").alias("month"),
            "o_orderpriority",
        )
        .distinct()
        .filter(
            (F.col("o_orderpriority") == "1-URGENT")
            & F.col("month").startswith("1995")
        )
    )
    joined = fact.join(dim.select("month").distinct(), "month").groupBy("month").agg(
        F.count("*").alias("n")
    )
    assert plans.has_dynamic_partition_pruning(joined), plans.physical_plan(joined)
    # pruning must be invisible to results: same rows as the unpruned form
    got = {(r.month, r.n) for r in joined.collect()}
    want = {
        (r.month, r.n)
        for r in orders.withColumn("month", F.date_format("o_orderdate", "yyyy-MM"))
        .join(dim.select("month").distinct(), "month")
        .groupBy("month")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want and got


def test_runtime_bloom_filter_prunes_probe_side(spark):
    """In the shuffle-join regime (broadcast off — the 100 TB shape
    where neither side fits an executor), a selective dim filter must
    inject a bloom_filter_agg/might_contain pair so probe-side rows
    drop BEFORE the join's shuffle. Thresholds are lowered to make the
    local fixture eligible; at real scan sizes the defaults
    (creationSide <= 10 MB, applicationSide >= 10 GB) self-select."""
    from firmable_aus_etl_spark.datasets import load_table

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }
    saved = {}
    for k, v in confs.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        li = load_table(spark, SF, "lineitem")
        ords = load_table(spark, SF, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        joined = (
            li.join(ords, li.l_orderkey == ords.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n"))
        )
        assert plans.has_runtime_bloom_filter(joined), plans.physical_plan(joined)
        got = joined.collect()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    # the sketch is a pre-filter, never a correctness device: counts
    # must equal the plain broadcast-join run
    want = (
        load_table(spark, SF, "lineitem")
        .join(
            load_table(spark, SF, "orders").filter(
                F.col("o_orderpriority") == "1-URGENT"
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    assert {(r.o_orderpriority, r.n) for r in got} == {
        (r.o_orderpriority, r.n) for r in want
    }


def test_event_time_predicates_push_to_scan(spark):
    """events.ts is a plain scan column (no conversion expression in
    front of it), so event-time range filters reach the parquet reader
    as PushedFilters — row-group stats pruning on the 100 TB
    append-time-ordered table. Regression guard for the loader's
    timestamp-encoding handling: a derived ts column would silently
    lose this."""
    from firmable_aus_etl_spark.datasets import load_table

    ev = load_table(spark, SF, "events").filter(
        F.col("ts") > "2024-01-15"
    ).select("event_id", "ts")
    pushed = plans.pushed_filters(ev)
    assert any("GreaterThan(ts" in f for f in pushed), pushed


def test_forecast_revenue_pushes_all_predicates(spark):
    df = QUERIES["forecast_revenue_change"](spark, SF)
    pushed = plans.pushed_filters(df)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert any(col in f for f in pushed), f"{col} not pushed: {pushed}"
    schemas = plans.read_schemas(df)
    # scalar aggregate over 4 columns must not read the other 7
    assert schemas and all("l_orderkey" not in s for s in schemas), schemas


def test_priority_late_orders_semi_join(spark):
    plan = plans.physical_plan(QUERIES["priority_late_orders"](spark, SF))
    assert "LeftSemi" in plan, plan


def test_supplier_breadth_broadcasts_both_dims(spark):
    df = QUERIES["supplier_breadth_parts"](spark, SF)
    plan = plans.physical_plan(df)
    assert plan.count("BroadcastHashJoin") >= 1, plan
    assert "LeftAnti" in plan, plan
    # the fact side must never shuffle before the joins: only the final
    # distinct-count aggregation exchanges
    assert plans.count_exchanges(df) <= 2, plan


def test_embedding_near_dups_bucket_join_no_cartesian(spark):
    df = QUERIES["embedding_cosine_near_dups"](spark, SF)
    plan = plans.physical_plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan, plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_semantic_dedup_pairs_has_registered_query_shape(spark):
    """The public cluster-blocked dedup runs the measured winner: the
    registered semantic_dedup_cell_blocked shape — one Arrow assignment
    map feeding one cell-grouped gram-matrix verify, with no join."""
    import re

    from firmable_aus_etl_spark.datasets import load_table
    from firmable_aus_etl_spark.functions import vectors as V

    def shape(df):
        plan = plans.physical_plan(df)
        return tuple(
            len(re.findall(rf"\(\d+\) {op}\b", plan))
            for op in ("MapInPandas", "FlatMapGroupsInPandas",
                       "SortMergeJoin", "BroadcastHashJoin")
        )

    raw = V.make_planes(64, 16, seed=7)
    cents = [[x / (sum(v * v for v in c) ** 0.5) for x in c] for c in raw]
    emb = load_table(spark, SF, "embeddings")
    public = shape(V.semantic_dedup_pairs(emb, cents))
    assert public == (1, 1, 0, 0)
    assert public == shape(QUERIES["semantic_dedup_cell_blocked"](spark, SF))


def test_scaling_dims_not_force_broadcast(spark):
    """100 TB broadcast policy: part/supplier-derived sides carry NO
    broadcast hint (stats/AQE elect it locally); only fixed-size dims
    (nation/region, one-row scalars) are hinted. With auto-broadcast
    disabled, the scaling sides must degrade to shuffle joins while
    hinted dims still broadcast."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for q in ("supplier_breadth_parts", "max_revenue_suppliers",
                  "excess_volume_suppliers"):
            plan = plans.physical_plan(QUERIES[q](spark, SF))
            # every remaining broadcast must come from an explicit hint
            # on a fixed-size frame (scalar max / nation / region),
            # never the part/supplier fact-scaling sides
            assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, (q, plan)
        q9 = plans.physical_plan(QUERIES["product_profit_by_nation_year"](spark, SF))
        assert "SortMergeJoin" in q9 or "ShuffledHashJoin" in q9
        # fixed dims stay broadcast via their hints even at threshold -1
        q5 = plans.physical_plan(QUERIES["revenue_by_nation"](spark, SF))
        assert "BroadcastHashJoin" in q5
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_graph_queries_no_cartesian_on_fact_paths(spark):
    # the only crossJoins allowed are 1-row scalar attachments
    # (corpus totals / graph measures); no BroadcastNestedLoop or
    # CartesianProduct may appear on a multi-row side
    for name in ["copurchase_graph_summary", "copurchase_pagerank_top20",
                 "bigram_pmi_documents", "contrastive_negatives_sample"]:
        plan = plans.physical_plan(QUERIES[name](spark, SF))
        assert "CartesianProduct" not in plan, name


def test_weighted_sample_is_take_ordered(spark):
    # global k-selection must be TakeOrderedAndProject, not a full sort
    plan = plans.physical_plan(QUERIES["weighted_sample_documents"](spark, SF))
    assert "TakeOrderedAndProject" in plan, plan


def test_scale_lint_flags_and_passes(spark):
    from firmable_aus_etl_spark.datasets import load_table

    orders = load_table(spark, SF, "orders")
    cust = load_table(spark, SF, "customer")
    # dirty plan: theta join -> nested loop
    dirty = orders.join(cust, orders.o_totalprice > cust.c_acctbal)
    finds = plans.scale_lint(dirty)
    assert any("nested-loop" in f or "cartesian" in f for f in finds), finds
    # global window -> flagged
    from pyspark.sql import Window

    gw = orders.withColumn(
        "rn", F.row_number().over(Window.orderBy("o_orderkey"))
    )
    assert any("single-partition" in f for f in plans.scale_lint(gw))
    # the engine's own headline queries stay clean
    for name in ["pricing_summary", "topk_lineitems_per_order",
                 "tfidf_cosine_top1", "embedding_cosine_near_dups",
                 "remove_repeated_spans"]:
        assert plans.scale_lint(QUERIES[name](spark, SF)) == [], name
    # doc_bigram_perplexity attaches the vocabulary-size SCALAR via a
    # broadcast 1-row crossJoin (same benign pattern as bigram_pmi's
    # corpus totals): the lint flags that BNLJ plus the global
    # aggregate's final 1-row reduce (partial aggregation runs
    # map-side; the single partition carries one row) — and nothing
    # else
    finds = plans.scale_lint(QUERIES["doc_bigram_perplexity"](spark, SF))
    assert finds and all(
        "nested-loop" in f or "single-partition" in f for f in finds
    ), finds


def test_unbounded_window_detector(spark):
    """unbounded_windows: precise detector for ORDER BY-without-
    PARTITION BY windows (the SinglePartition heuristic
    over-approximates — scalar aggregates also print it)."""
    from pyspark.sql import Window
    from firmable_aus_etl_spark.datasets import load_table

    orders = load_table(spark, SF, "orders")
    glob = orders.withColumn(
        "rn", F.row_number().over(Window.orderBy("o_orderkey"))
    )
    assert plans.unbounded_windows(glob), "global window must flag"
    part = orders.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("o_custkey").orderBy("o_orderkey")
        ),
    )
    assert plans.unbounded_windows(part) == []
    # partition-without-order (running total frame) is NOT flagged
    noord = orders.withColumn(
        "s", F.sum("o_totalprice").over(Window.partitionBy("o_custkey"))
    )
    assert plans.unbounded_windows(noord) == []
    # scalar aggregate prints SinglePartition but has no Window at all
    assert plans.unbounded_windows(orders.agg(F.count("*"))) == []


# Every entry must name a query whose unpartitioned window runs over a
# frame bounded by something OTHER than data volume — the justification
# is part of the contract and is checked for staleness below (an entry
# whose query stops flagging must be removed).
UNBOUNDED_WINDOW_ALLOWLIST = {
    "serial_id_nations": "25-row nation dim; documented single-partition "
    "caveat with a monotonic variant for scale (operators/windows.py)",
    "salted_join_segments": "window runs on the DISTINCT c_mktsegment "
    "frame — 5 rows, bounded by segment cardinality, not data volume",
    "cumulative_distinct_customers": "window runs on the per-MONTH "
    "aggregate frame — rows bounded by calendar span, not data volume",
    "interpolate_daily_revenue": "window runs on the per-DAY aggregate "
    "frame — rows bounded by calendar span, not data volume",
}


@pytest.mark.slow
def test_registry_has_no_unbounded_windows_or_cartesians(spark):
    """Round-3 verdict item #3 (extended in round 4): no registered
    query may ship an ORDER BY-without-PARTITION BY window over a
    data-scale frame (orderkey_gaps and customer_value_deciles were
    the offenders — both now bucket + stitch), and NO query may plan a
    CartesianProduct at all (the registry is clean today; this pins
    it — a theta-join regression that drops to a cartesian is the
    other silent 100 TB killer)."""
    flagged, stale, cartesians = {}, [], []
    for name, fn in sorted({**QUERIES, **PIPELINE_QUERIES}.items()):
        df = fn(spark, SF)
        uw = plans.unbounded_windows(df)
        if uw and name not in UNBOUNDED_WINDOW_ALLOWLIST:
            flagged[name] = uw
        if not uw and name in UNBOUNDED_WINDOW_ALLOWLIST:
            stale.append(name)
        if "CartesianProduct" in plans.physical_plan(df):
            cartesians.append(name)
    assert not flagged, f"unbounded global windows outside allowlist: {flagged}"
    assert not stale, f"allowlist entries no longer flag (remove them): {stale}"
    assert not cartesians, f"CartesianProduct in plans: {cartesians}"


def test_incremental_verify_has_no_aggregate_over_hash_arrays(spark, tmp_path):
    """The ingest verify plan reads each doc's shingle-hash array from
    its one band-0 signature row; a distinct over (doc_id, __h) would
    hash-aggregate every history doc's array on every ingest."""
    import re

    from firmable_aus_etl_spark.streaming.incremental import (
        _signature_frame,
        _verified_drops,
    )

    docs = spark.createDataFrame(
        [(i, f"the quick brown fox number {i % 3} jumps over the lazy dog")
         for i in range(6)],
        "doc_id long, text string",
    )
    for name, cond in (("hist", "doc_id < 3"), ("new", "doc_id >= 3")):
        _signature_frame(docs.filter(cond), "doc_id", "text").write.parquet(
            str(tmp_path / name)
        )
    drops = _verified_drops(
        spark.read.parquet(str(tmp_path / "new")),
        spark.read.parquet(str(tmp_path / "hist")),
        0.5,
    )
    plan = plans.physical_plan(drops)
    agg_keys = [
        m.group(1)
        for node in re.split(r"\n(?=\(\d+\) )", plan)
        if re.match(r"\(\d+\) (?:Hash|ObjectHash|Sort)Aggregate\b", node)
        for m in [re.search(r"\nKeys \[\d+\]: \[([^\]]*)\]", node)]
        if m
    ]
    assert agg_keys, plan  # the candidate and output distincts remain
    assert not [k for k in agg_keys if re.search(r"\b__h#", k)], plan
    assert {r.doc_id for r in drops.collect()} == {3, 4, 5}
