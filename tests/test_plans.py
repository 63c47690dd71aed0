"""Physical-plan assertions (SURVEY.md section 4): the declarative
operators must actually get the Catalyst treatment they were written
for - pushed filters, broadcasts, top-k, no cartesian products."""

from __future__ import annotations

from reactive_data_pipeline_spark.plans import assert_plan, physical_plan
from reactive_data_pipeline_spark.queries import QUERIES

from .conftest import SF_DIR


def test_filter_pushdown_reaches_scan(spark):
    df = QUERIES["filter_events_click"].build(spark, SF_DIR)
    plan = physical_plan(df)
    assert "PushedFilters" in plan
    assert "event_type" in plan.split("PushedFilters")[1][:300]


def test_scan_prunes_columns(spark):
    df = QUERIES["filter_events_click"].build(spark, SF_DIR)
    plan = physical_plan(df)
    read_schema = plan.split("ReadSchema")[1][:300]
    assert "props" not in read_schema  # unused column not read


def test_topk_plans_take_ordered(spark):
    df = QUERIES["topk_orders"].build(spark, SF_DIR)
    assert_plan(df, contains=("TakeOrderedAndProject",))


def test_q3_broadcasts_dimension(spark):
    df = QUERIES["q3_shipping_priority"].build(spark, SF_DIR)
    assert_plan(df, contains=("BroadcastHashJoin",))


def test_knn_has_no_cartesian(spark):
    df = QUERIES["knn_brute_cosine"].build(spark, SF_DIR)
    assert_plan(df, absent=("CartesianProduct",))


def test_q1_aggregates_partially(spark):
    df = QUERIES["q1_pricing_summary"].build(spark, SF_DIR)
    plan = physical_plan(df)
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_asof_join_single_hash_exchange(spark):
    """The union-sort as-of trick shuffles ONCE on the key (the window's
    hash partitioning) - never a range cross-product."""
    df = QUERIES["asof_purchase_before_click"].build(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_minhash_signatures_have_no_aggregation_shuffle(spark):
    """Signatures are a per-row HOF expression: the only exchange allowed
    is the round-robin parallelism floor, no hash/aggregation shuffle."""
    from reactive_data_pipeline_spark.dedup.minhash import minhash_signatures
    from reactive_data_pipeline_spark.sources import read_table

    sigs = minhash_signatures(read_table(spark, SF_DIR, "documents"))
    plan = sigs._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan
    assert "HashAggregate" not in plan


def test_range_join_broadcasts_literal_dim(spark):
    df = QUERIES["range_join_value_bands"].build(spark, SF_DIR)
    assert_plan(df, contains=("BroadcastNestedLoopJoin",), absent=("CartesianProduct",))


def test_grouping_sets_uses_expand(spark):
    df = QUERIES["grouping_sets_revenue"].build(spark, SF_DIR)
    assert_plan(df, contains=("Expand",))


def test_q6_pushes_all_predicates(spark):
    plan = physical_plan(QUERIES["q6_forecast_revenue"].build(spark, SF_DIR))
    pushed = plan.split("PushedFilters")[1][:400]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, pushed


def test_training_pipeline_shuffle_budget(spark):
    """The composed prep pipeline must stay at a handful of exchanges
    (dedup groupBy + packing sort; the text scoring fuses into the scan
    stage) and never degrade to a cartesian product."""
    df = QUERIES["training_data_pipeline"].build(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") <= 3, plan
    assert "CartesianProduct" not in plan
    # the packing window must be KEYED (bucket-partitioned exchange),
    # never the corpus-global single-partition WindowExec
    assert "__bucket" in plan, plan
    assert "Exchange SinglePartition" not in plan, plan


def test_shards_manifest_avoids_chunk_scale_shuffle(spark):
    """The manifest decomposes by pack bucket (8 shards divide 32
    buckets), so Catalyst prunes the pack window entirely - only the
    dedup keeper window survives - and the distinct-doc count shuffles
    doc-scale (bucket, doc_id) partials, never chunk rows, with no
    Expand-based distinct rewrite."""
    plan = physical_plan(QUERIES["training_shards_manifest"].build(spark, SF_DIR))
    assert plan.count("Window (") == 1, plan
    assert "bin_id" not in plan, plan  # pack window pruned entirely
    assert "Expand" not in plan, plan
    # dedup keeper + (bucket, doc_id) partials + bucket + 32-row shard
    # merge; the last three are doc-scale or smaller
    assert plan.count("hashpartitioning") <= 4, plan
    assert "SinglePartition" not in plan, plan


def test_q8_star_broadcasts_every_dimension(spark):
    """The 8-way market-share star must broadcast all dimension sides -
    the only hash-partitioned exchange allowed is the final year
    aggregate (plus what AQE inserts for the fact-fact join); a single
    shuffled dimension would serialize the star at scale."""
    plan = physical_plan(QUERIES["q8_market_share"].build(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 6, plan


def test_q21_correlations_stay_equi_with_residual(spark):
    """The doubly-correlated EXISTS / NOT EXISTS must plan as semi and
    anti hash joins whose <> correlate is a RESIDUAL condition on an
    equi orderkey join - never a nested-loop over the fact."""
    plan = physical_plan(QUERIES["q21_lone_returned_supplier"].build(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftSemi" in plan and "LeftAnti" in plan, plan
    assert "NOT (l_suppkey" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_q13_on_clause_filter_reaches_orders_scan(spark):
    """Q13's join-side predicate (priority <> urgent) lives in the LEFT
    JOIN's ON clause; it must still be pushed to the orders parquet scan
    rather than evaluated post-join."""
    plan = physical_plan(QUERIES["q13_customer_distribution"].build(spark, SF_DIR))
    pushed = plan.split("PushedFilters")[1][:300] if "PushedFilters" in plan else ""
    assert "o_orderpriority" in pushed, plan[:2000]


def test_embedding_lsh_plan_is_bucketed_not_all_pairs(spark):
    """The benched embedding near-dup path must candidate via the
    (band,bucket) equi join - no nested-loop/cartesian anywhere - while
    the exact twin is all-pairs BNLJ by design."""
    from reactive_data_pipeline_spark.dedup import (
        embedding_neardup_lsh,
        embedding_neardup_pairs,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    lsh_plan = physical_plan(embedding_neardup_lsh(emb))
    assert "CartesianProduct" not in lsh_plan
    assert "BroadcastNestedLoopJoin" not in lsh_plan
    assert "SortMergeJoin" in lsh_plan or "ShuffledHashJoin" in lsh_plan or "BroadcastHashJoin" in lsh_plan
    exact_plan = physical_plan(embedding_neardup_pairs(emb))
    assert "BroadcastNestedLoopJoin" in exact_plan or "CartesianProduct" in exact_plan


def test_contamination_broadcasts_benchmark_set(spark):
    """The benchmark gram set must broadcast (eval suites are tiny);
    the corpus side must never feed a shuffle before the join."""
    plan = physical_plan(QUERIES["contamination_ngram_overlap"].build(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_dedup_keep_one_single_shuffle(spark):
    """Window-form keep-one: exactly one exchange (the content-keyed
    window), not an agg exchange plus a join exchange."""
    plan = physical_plan(QUERIES["dedup_keep_one"].build(spark, SF_DIR))
    # One ENSURE_REQUIREMENTS (content-hash) exchange; the only other
    # allowed exchange is ensure_parallelism's explicit round-robin.
    assert plan.count("ENSURE_REQUIREMENTS") == 1, plan[:2000]
    assert "Join" not in plan


def test_domain_mix_is_scan_plus_one_agg(spark):
    """Per-row residue predicate + one aggregation: no join anywhere."""
    plan = physical_plan(QUERIES["domain_mix_sample"].build(spark, SF_DIR))
    assert "Join" not in plan


def test_knn_batch_scores_in_one_arrow_pass_without_exchange(spark):
    """Batch retrieval: the query block is collected at build time and
    one MapInPandas scores the corpus - no nested-loop join. The kernel
    picks its own task count from the plain scan (a coalesce here), so
    the corpus is never shuffled, and one kernel task on this input
    needs no ranking exchange."""
    import re

    plan = physical_plan(QUERIES["knn_batch_cosine"].build(spark, SF_DIR))
    assert "MapInPandas" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "RoundRobinPartitioning" not in plan
    assert not re.findall(r"^\(\d+\) Exchange", plan, re.M), plan[:2000]


def test_q4_plans_semi_join_not_exists_loop(spark):
    """The correlated late-line EXISTS must plan as a semi join with the
    date correlate as a join condition - never a per-row subquery."""
    plan = physical_plan(QUERIES["q4_order_priority"].build(spark, SF_DIR))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_q17_broadcasts_dim_not_the_per_part_aggregate(spark):
    """Brand dim broadcasts; the per-part average (fact-sized keyspace)
    must NOT be forced broadcast - at scale it is as big as part."""
    plan = physical_plan(QUERIES["q17_small_qty_revenue"].build(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan  # the brand dim
    assert "CartesianProduct" not in plan


def test_tfidf_broadcasts_vocabulary(spark):
    """The vocabulary-sized IDF table must broadcast back onto TF; the
    ranking is the only windowed exchange."""
    plan = physical_plan(QUERIES["tfidf_top_terms"].build(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_funnel_is_user_copartitioned(spark):
    """Both funnel aggregations key on user_id - the join between them
    must not introduce a third repartitioning of the events table."""
    plan = physical_plan(QUERIES["funnel_view_click_purchase"].build(spark, SF_DIR))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_zscore_broadcasts_group_stats(spark):
    """The per-type stats join back onto the fact scan as a broadcast -
    never a shuffled join against a 5-row side."""
    df = QUERIES["anomaly_zscore_events"].build(spark, SF_DIR)
    assert_plan(df, contains=("BroadcastHashJoin",), absent=("SortMergeJoin",))


def test_length_trim_broadcasts_bounds(spark):
    df = QUERIES["length_trim_stats"].build(spark, SF_DIR)
    assert_plan(df, contains=("BroadcastHashJoin",), absent=("SortMergeJoin",))


def test_copurchase_topk_no_global_sort(spark):
    """Pair mining ends in TakeOrderedAndProject (bounded top-k), and the
    self-join is an equi join - no nested-loop blowup."""
    df = QUERIES["copurchase_part_pairs"].build(spark, SF_DIR)
    assert_plan(
        df,
        contains=("TakeOrderedAndProject",),
        absent=("CartesianProduct", "BroadcastNestedLoop"),
    )


def test_snapshot_diff_is_single_key_join(spark):
    """The CDC diff is one equi full-outer join on the key; the changed-
    row predicate must not degrade it to a nested loop."""
    df = QUERIES["snapshot_diff_orders"].build(spark, SF_DIR)
    assert_plan(df, absent=("CartesianProduct", "BroadcastNestedLoop"))
    plan = physical_plan(df)
    assert "FullOuter" in plan


def test_token_drift_broadcasts_totals(spark):
    """Source totals and the corpus grand total are tiny aggregates that
    broadcast back; the only sort-merge allowed is the per-token join of
    the two count relations."""
    df = QUERIES["token_drift_by_source"].build(spark, SF_DIR)
    assert_plan(df, contains=("BroadcastHashJoin",), absent=("CartesianProduct",))


def test_gopher_flags_zero_shuffle(spark):
    """The Gopher quality battery is per-row HOFs only: no exchange at
    all beyond the optional parallelism floor's round-robin."""
    df = QUERIES["gopher_quality_flags"].build(spark, SF_DIR)
    plan = physical_plan(df)
    assert "hashpartitioning" not in plan  # no agg/join shuffle
    assert "SortExec" not in plan and "Sort " not in plan.replace("Sort\n", "Sort ")


def test_oov_rate_broadcasts_vocabulary(spark):
    """The top-K vocabulary joins back by broadcast: the corpus-side
    scan must not shuffle for the join (only the tiny vocab agg side
    exchanges)."""
    df = QUERIES["oov_rate_topk"].build(spark, SF_DIR)
    assert_plan(df, contains=("BroadcastNestedLoopJoin",), absent=("SortMergeJoin",))


def test_unigram_logprob_broadcasts_vocab_map(spark):
    """The unigram-LM vocabulary map is a 1-row broadcast; the document
    scan side stays shuffle-free (fold is a per-row expression)."""
    df = QUERIES["unigram_logprob_docs"].build(spark, SF_DIR)
    assert_plan(df, contains=("BroadcastNestedLoopJoin",), absent=("SortMergeJoin", "CartesianProduct"))


def test_salted_join_carries_salt_key_pair(spark):
    """The salted join's equi condition must include BOTH the natural
    key and the salt (that is the whole technique); the replicated dim
    side explodes over the salt range."""
    df = QUERIES["salted_join_segment_revenue"].build(spark, SF_DIR)
    plan = physical_plan(df)
    assert "__salt" in plan
    assert "Generate explode" in plan or "Expand" in plan or "explode" in plan


def _global_windows(df):
    """Window nodes with an EMPTY partitionSpec in the optimized logical
    plan (single-partition serialization at scale - the round-3 verdict's
    pack_bins defect, generalized into a permanent guard)."""
    import json

    plan = json.loads(df._jdf.queryExecution().optimizedPlan().toJSON())
    return [
        n
        for n in plan
        if n.get("class", "").endswith(".Window") and not n.get("partitionSpec")
    ]


def test_no_catalog_query_plans_a_global_window(spark):
    """Sweep EVERY catalog query's optimized plan: an ordered window
    without a partition key moves the whole input through one task at
    100 TB, so none may exist (streaming queries are exercised by their
    own stream tests; this builds the DataFrame only)."""
    offenders = {}
    for name, q in QUERIES.items():
        df = q.build(spark, SF_DIR)
        bad = _global_windows(df)
        if bad:
            offenders[name] = len(bad)
    assert offenders == {}


def test_no_catalog_query_plans_a_cartesian_product(spark):
    """Companion sweep: BroadcastNestedLoopJoin is legitimate (every
    instance in the catalog is a deliberate broadcast of a 1-row
    aggregate, a literal band dim, or a query-vector set), but a
    CartesianProduct - both sides shuffled into an all-pairs loop -
    never is."""
    offenders = [
        name
        for name, q in QUERIES.items()
        if "CartesianProduct"
        in q.build(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    ]
    assert offenders == []


def test_scd2_reuses_one_exchange_for_all_windows(spark):
    """The change-detect lag, the version row_number, and the closure
    lead all share the user_id partitioning: one hash exchange total."""
    df = QUERIES["scd2_user_tier_dim"].build(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1


def test_join_strategy_hints_control_physical_plan(spark):
    """Strategy hints are the manual override when Catalyst's size
    estimates mislead at scale: each hint must actually select its
    physical join."""
    from reactive_data_pipeline_spark.sources import read_table

    prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        li = read_table(spark, SF_DIR, "lineitem")
        o = read_table(spark, SF_DIR, "orders")
        cases = {
            "merge": "SortMergeJoin",
            "shuffle_hash": "ShuffledHashJoin",
            "broadcast": "BroadcastHashJoin",
        }
        for hint, node in cases.items():
            j = li.join(o.hint(hint), li.l_orderkey == o.o_orderkey)
            plan = j._jdf.queryExecution().executedPlan().toString()
            assert node in plan, f"hint {hint!r} did not produce {node}:\n{plan[:500]}"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)


def test_training_pipeline_v2_shuffle_budget(spark):
    """The v2 pipeline's only wide exchanges: bloom-build bit agg +
    zero-seed union, per-source stats, the suspect doc-id distinct, the
    dedup content window, and the keyed pack window - the corpus scan
    itself never re-shuffles for decontamination or mixing (both ride
    broadcasts). Budget pinned so a regression that shuffles the corpus
    an extra time fails loudly."""
    df = QUERIES["training_data_pipeline_v2"].build(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") <= 10
    # the pack window is keyed (the round-3 scale defect, permanently)
    assert "__bucket" in plan


def test_cogroup_asof_stays_demo_only():
    """`asof_join_cogroup` exists to put the cogrouped-pandas API
    surface under the same oracle as the JVM as-of join; at sf0.1 it is
    ~20x slower (one Arrow round-trip per key). This pin keeps it out
    of composed pipelines: the ONLY production call site may be its own
    demonstration query (`asof_cogroup_pandas`); everything else must
    use operators.joins.asof_join."""
    import re
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent / "reactive_data_pipeline_spark"
    calls = []
    for py in pkg.rglob("*.py"):
        for i, line in enumerate(py.read_text().splitlines(), 1):
            if re.search(r"asof_join_cogroup\s*\(", line) and "def asof_join_cogroup" not in line:
                calls.append((py.relative_to(pkg).as_posix(), i))
    assert len(calls) == 1 and calls[0][0] == "queries/llm2.py", (
        f"asof_join_cogroup called outside its demo query: {calls}"
    )
    # and that one site is inside the demo query's function body
    import inspect

    from reactive_data_pipeline_spark.queries import llm2

    src = inspect.getsource(llm2.asof_cogroup_pandas)
    assert "asof_join_cogroup(" in src


def test_q5_sized_composite_exchange_survives_above_threshold(spark, monkeypatch):
    """Round-9 advice: q5's customer build side clusters on the
    COMPOSITE (c_custkey, c_nationkey); a subset-key repartition risks
    EnsureRequirements topping the sized exchange with a second
    full-key shuffle at the conf count, voiding the per-task SHJ build
    bound. Customer sits below the size_fact_side threshold even at
    sf40, so the engaged path is forced here by faking table bytes:
    the executed plan must keep EXACTLY the bytes-derived exchange on
    both composite keys (REPARTITION_BY_NUM, n=100) with no extra
    conf-count exchange on those keys, and values must equal the
    un-engaged plan's."""
    from reactive_data_pipeline_spark.queries import QUERIES
    from reactive_data_pipeline_spark.sources import registry

    from .conftest import SF_DIR

    base = sorted(map(tuple, QUERIES["q5_region_revenue"].build(spark, SF_DIR).collect()))

    real = registry.table_size_bytes
    monkeypatch.setattr(
        registry, "table_size_bytes",
        lambda sf_dir, name: 100 * (32 << 20) if name in ("customer", "orders")
        else real(sf_dir, name),
    )
    df = QUERIES["q5_region_revenue"].build(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re

    cust_ex = re.findall(
        r"Exchange hashpartitioning\(c_custkey#\d+L?, c_nationkey#\d+L?, (\d+)\),"
        r" (\w+)", plan,
    )
    assert cust_ex, f"no composite customer exchange in plan:\n{plan[:1500]}"
    assert all(n == "100" for n, _ in cust_ex), cust_ex
    assert len(cust_ex) == 1, f"stacked exchanges on the composite key: {cust_ex}"
    assert cust_ex[0][1] == "REPARTITION_BY_NUM"
    # no conf-count (4 in tests) exchange anywhere on the customer keys
    assert not re.search(r"hashpartitioning\(c_custkey#\d+L?, c_nationkey#\d+L?, 4\)", plan)
    # the probe side co-partitions to the same count
    probe_ex = re.findall(r"Exchange hashpartitioning\(o_custkey#\d+L?, [^)]*, (\d+)\)", plan)
    assert probe_ex and all(n == "100" for n in probe_ex), probe_ex
    # and the join actually stays SHJ with customer as build side
    assert "ShuffledHashJoin" in plan

    engaged = sorted(map(tuple, df.collect()))
    assert engaged == base
