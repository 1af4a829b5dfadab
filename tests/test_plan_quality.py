"""Physical-plan regression guards: the optimizations the engine's scale
story depends on must be visible in the executed plan, not just intended.

Each assertion pins a plan property called out in README.md / SURVEY.md §4:
filters and projections reach the parquet scan, dimension joins broadcast,
global top-k avoids a full sort, and the one-shuffle queries stay one-shuffle.
"""

from __future__ import annotations

import __spark_entry__ as entry_mod


def _formatted(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = _formatted(entry_mod.queries()["filter_pred"](spark, sf_dir))
    assert "PushedFilters: [IsNotNull(p_type), EqualTo(p_type,PROMO)" in plan
    # column pruning: only the 4 referenced columns in ReadSchema
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "p_partkey" in read_schema and "p_retailprice" not in read_schema


def test_projection_prunes_scan(spark, sf_dir):
    plan = _formatted(entry_mod.queries()["projection"](spark, sf_dir))
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "p_brand" in read_schema and "p_name" not in read_schema


def test_star_join_broadcasts_all_dims(spark, sf_dir):
    plan = _executed(entry_mod.queries()["region_revenue"](spark, sf_dir))
    # 4 joins (orders, customer, nation, region against lineitem) — all
    # broadcast; the only Exchanges are for the final agg/sort
    assert plan.count("BroadcastHashJoin") == 4
    assert "SortMergeJoin" not in plan


def test_topk_is_take_ordered_not_global_sort(spark, sf_dir):
    plan = _executed(entry_mod.queries()["topk_orders"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_window_queries_shuffle_once(spark, sf_dir):
    # running_total: both window functions share the user partition — one
    # exchange total (AQE may add AQEShuffleRead wrappers, count real ones)
    plan = _executed(entry_mod.queries()["running_total"](spark, sf_dir))
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, plan


def test_revenue_filter_pushes_all_predicates(spark, sf_dir):
    # Q6 shape: date range + discount band + quantity cap all reach the scan
    plan = _formatted(entry_mod.queries()["revenue_filter"](spark, sf_dir))
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l][0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, pushed


def test_exists_decorrelates_to_semi_join(spark, sf_dir):
    # correlated EXISTS must become a semi join, not a per-row subquery
    plan = _executed(entry_mod.queries()["exists_late_orders"](spark, sf_dir))
    assert "LeftSemi" in plan, plan


def test_range_frame_shuffles_once(spark, sf_dir):
    # both RANGE-frame window functions share the customer partition
    plan = _executed(entry_mod.queries()["range_frame_spend"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_split_by_hash_is_map_side_only(spark, sf_dir):
    # the split assignment itself must add no exchange: project over scan
    from european_emissions_data_warehouse_spark.operators.sampling import split_by_hash
    from european_emissions_data_warehouse_spark.sources.readers import load_table

    df = split_by_hash(load_table(spark, sf_dir, "documents").select("doc_id"), "doc_id")
    plan = _executed(df)
    assert "Exchange" not in plan, plan


def test_sql_broadcast_hint_is_honored(spark, sf_dir):
    # the /*+ BROADCAST */ hint surface: the hinted side must broadcast even
    # if statistics would pick a shuffle join
    from european_emissions_data_warehouse_spark.sources.readers import load_table

    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    df = spark.sql(
        """
        SELECT /*+ BROADCAST(customer) */ c_name, COUNT(*) AS n
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_name
        """
    )
    assert "BroadcastHashJoin" in _executed(df)


def test_cache_table_uses_in_memory_scan(spark, sf_dir):
    from european_emissions_data_warehouse_spark.sources.readers import load_table

    load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation_c")
    spark.catalog.cacheTable("nation_c")
    try:
        df = spark.sql("SELECT COUNT(*) AS n FROM nation_c")
        df.collect()  # materialize the cache
        assert "InMemoryRelation" in _executed(df)
    finally:
        spark.catalog.uncacheTable("nation_c")


def test_etl_flagship_merge_is_only_shuffle_work(spark, sf_dir):
    # the parity flagship: narrow chain + merge; no more than 2 hash
    # exchanges (anti-join key + none for broadcast dim decode)
    plan = _executed(entry_mod.entry(spark))
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def _tree_marker_pos(line: str) -> int:
    """Column of a plan line's `+-`/`:-` tree marker (-1 for markerless
    lines such as the root or section headers).  In Spark's tree dump a
    child's marker always sits strictly right of its parent's, so marker
    position IS tree depth."""
    import re

    m = re.search(r"[+:]-", line)
    return m.start() if m else -1


def _subtree_indices(lines: list[str], j: int) -> list[int]:
    """Line indices of the operator subtree rooted at ``lines[j]``,
    SKIPPING embedded Subquery plan dumps: an executed plan string inlines
    each subquery's own adaptive plan (section headers, its final-stage
    single-partition aggregate exchanges, ...) under the consuming
    operator, but those operators are not part of the node's input chain.
    Markerless lines (section headers like `== Final Plan ==` rendered
    without a tree marker) are treated as noise, not subtree exits."""
    pos = _tree_marker_pos(lines[j])
    out = []
    k = j + 1
    while k < len(lines):
        p = _tree_marker_pos(lines[k])
        if p != -1 and p <= pos:
            break
        if "Subquery" in lines[k]:  # Subquery / SubqueryBroadcast / Reused
            sq = p
            k += 1
            while k < len(lines):
                q = _tree_marker_pos(lines[k])
                if q != -1 and q <= sq:
                    break
                k += 1
            continue
        if p != -1:
            out.append(k)
        k += 1
    return out


def _single_partition_window_offenders(plan: str) -> list[str]:
    """Window/WindowGroupLimit operators whose input funnels through an
    `Exchange SinglePartition` that is NOT fed by a limit-bounded subtree.

    The exemption (TakeOrderedAndProject / GlobalLimit / CollectLimit
    bounds the exchange's input to k rows) is anchored to the exchange's
    OWN child subtree by tree indentation — a limit operator that merely
    appears nearby in the plan TEXT (a sibling branch, a subquery section,
    the query's outer LIMIT above the window) cannot mask a genuine
    global-sort window (VERDICT r3 item #3; the previous fixed 7-line
    lookahead could be fooled)."""
    import re

    lines = plan.splitlines()
    offenders = []
    for i, ln in enumerate(lines):
        if not re.search(r"\bWindow(GroupLimit)?\b", ln):
            continue
        # first Exchange in the window's subquery-free subtree = the
        # partitioning its input actually arrives through
        for j in _subtree_indices(lines, i):
            if "Exchange" not in lines[j]:
                continue
            if "Exchange SinglePartition" in lines[j]:
                subtree = "\n".join(lines[k] for k in _subtree_indices(lines, j))
                if not re.search(
                    r"TakeOrderedAndProject|GlobalLimit|CollectLimit", subtree
                ):
                    offenders.append(ln.strip())
            break
    return offenders


def test_no_window_over_single_partition_anywhere(spark, sf_dir):
    """No graded query may sort the whole input through one reducer to feed
    a window function (VERDICT r1: sequence_pack + surrogate_key were the
    only two; both are now sharded).  A global aggregate's final-stage
    `Exchange SinglePartition` is fine — the partial agg did the work — so
    the assertion targets only Window/WindowGroupLimit operators whose
    input exchange is single-partition.  A window fed by a LIMIT-bounded
    subtree (TakeOrderedAndProject / GlobalLimit) ranks at most k rows —
    that is the scale-safe global-top-k shape (bm25_search), not a global
    sort, so it is exempt."""
    offenders = {}
    for name, fn in entry_mod.queries().items():
        plan = _executed(fn(spark, sf_dir))
        bad = _single_partition_window_offenders(plan)
        if bad:
            offenders[name] = bad[0]
    assert not offenders, offenders


def test_single_partition_window_guard_is_not_fooled_by_nearby_limits():
    """The guard itself, on synthetic plan text (VERDICT r3 item #3): a
    CollectLimit in a SIBLING branch or ABOVE the window must not excuse a
    global-sort window; a GlobalLimit genuinely below the exchange must."""
    masked_by_sibling = "\n".join([
        "AdaptiveSparkPlan isFinalPlan=true",
        "+- BroadcastNestedLoopJoin BuildRight, Inner",
        "   :- Window [row_number() ...], [x ASC]",
        "   :  +- Sort [x ASC NULLS FIRST], false, 0",
        "   :     +- Exchange SinglePartition, ENSURE_REQUIREMENTS",
        "   :        +- FileScan parquet [x#1L]",
        "   +- BroadcastExchange IdentityBroadcastMode",
        "      +- CollectLimit 1",
        "         +- FileScan parquet [y#2L]",
    ])
    assert len(_single_partition_window_offenders(masked_by_sibling)) == 1

    masked_by_outer_limit = "\n".join([
        "AdaptiveSparkPlan isFinalPlan=true",
        "+- CollectLimit 21",
        "   +- Window [row_number() ...], [x ASC]",
        "      +- Sort [x ASC NULLS FIRST], false, 0",
        "         +- Exchange SinglePartition, ENSURE_REQUIREMENTS",
        "            +- FileScan parquet [x#1L]",
    ])
    assert len(_single_partition_window_offenders(masked_by_outer_limit)) == 1

    genuinely_bounded = "\n".join([
        "AdaptiveSparkPlan isFinalPlan=true",
        "+- Window [row_number() ...], [score DESC]",
        "   +- Sort [score DESC NULLS LAST], false, 0",
        "      +- Exchange SinglePartition, ENSURE_REQUIREMENTS",
        "         +- TakeOrderedAndProject(limit=10, orderBy=[score DESC])",
        "            +- FileScan parquet [score#1]",
    ])
    assert _single_partition_window_offenders(genuinely_bounded) == []

    hash_partitioned_window = "\n".join([
        "AdaptiveSparkPlan isFinalPlan=true",
        "+- Window [row_number() ...], [k#1], [x ASC]",
        "   +- Sort [k#1 ASC, x ASC], false, 0",
        "      +- Exchange hashpartitioning(k#1, 32), ENSURE_REQUIREMENTS",
        "         +- FileScan parquet [k#1,x#2]",
    ])
    assert _single_partition_window_offenders(hash_partitioned_window) == []


def test_bm25_topk_uses_heap_not_global_sort(spark, sf_dir):
    """The BM25 global top-k must be TakeOrderedAndProject (per-partition
    heaps + k-row driver merge), never a full Sort of the hit-set."""
    plan = _executed(entry_mod.queries()["bm25_search"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan


def test_q5_join_dag_broadcasts_every_dimension(spark, sf_dir):
    """local_supplier_revenue: customer, supplier, nation, region must all
    arrive as broadcast joins — the fact tables are the only shuffle work."""
    plan = _executed(entry_mod.queries()["local_supplier_revenue"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 4, plan


def test_dsir_bucket_weights_broadcast(spark, sf_dir):
    """dsir_weights: the 256-bucket weight table joins the token stream as a
    broadcast — the corpus must never shuffle on the bucket id (hot keys)."""
    plan = _executed(entry_mod.queries()["dsir_weights"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    # the per-doc roll-up is the only wide exchange keyed on corpus data
    assert "Exchange hashpartitioning(doc_id" in plan, plan


def test_exact_dedup_shuffles_hash_keys_not_text(spark, sf_dir):
    """dedup_exact / corpus_prep must exchange on the 16-byte content_keys
    pair, never on the document body (VERDICT r2 item #2).  The guard is
    both negative (no text-named partition key) and positive (the hash
    columns are the keys), so a rename can't silently satisfy it."""
    for name in ("dedup_exact", "corpus_prep", "chunk_dedup"):
        plan = _executed(entry_mod.queries()[name](spark, sf_dir))
        for key in ("hashpartitioning(text#", "hashpartitioning(ctext#", "hashpartitioning(chunk#"):
            assert key not in plan, (name, plan)
        assert "_h1#" in plan and "_h2#" in plan, (name, plan)


def test_bpe_pair_counts_is_vocab_sized_topk(spark, sf_dir):
    """bpe_pair_counts: the pair expansion must hang off the word-frequency
    AGGREGATE (vocabulary-sized), not the raw token stream, and the final
    top-n must be TakeOrderedAndProject, not a global sort."""
    plan = _executed(entry_mod.queries()["bpe_pair_counts"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    # the explode feeding the pair aggregate sits above the word-count
    # aggregate: two hash aggregates, generator between them
    assert plan.count("HashAggregate") >= 4, plan  # partial+final x2 stages
    assert "Generate explode" in plan, plan


def test_runtime_bloom_filter_prunes_fact_side(spark, sf_dir):
    """Runtime-filter mastery for the 100 TB story: with a selective filter
    on the build side of a shuffle join, Spark must inject a bloom-filter
    aggregate that prunes the fact scan BEFORE the exchange (the runtime
    twin of static predicate pushdown).  Thresholds are tuned down because
    the default application-side floor is 10 GB; on a real cluster the
    defaults fire on their own."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force SMJ so the filter matters
    }
    prior = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        o = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            F.col("o_totalprice") > 400_000
        )
        j = li.join(o, li.l_orderkey == o.o_orderkey).groupBy("o_orderstatus").count()
        plan = _executed(j)
        assert "bloom_filter_agg" in plan, plan
    finally:
        for k, v in prior.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_aqe_splits_skewed_join_partitions(spark, sf_dir):
    """The other half of the skew story (operators/skew.py salts
    proactively; AQE re-plans reactively): a hot join key must surface as
    an `AQEShuffleRead ... skewed` node in the final adaptive plan —
    Spark split the oversized partition at runtime.  Thresholds are tuned
    down to make a local fixture register as skewed."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prior = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        hot = spark.range(200_000).select(F.lit(7).alias("k"), F.col("id").alias("payload"))
        tail = spark.range(20_000).select(
            (F.col("id") % 100).alias("k"), F.col("id").alias("payload")
        )
        dim = spark.range(100).select(
            F.col("id").alias("k"), F.sha2(F.col("id").cast("string"), 256).alias("attr")
        )
        j = hot.unionByName(tail).join(dim, "k").groupBy("attr").count()
        j.collect()  # adaptive re-planning happens during execution
        plan = _executed(j)
        assert "isFinalPlan=true" in plan, plan
        assert "skewed" in plan, plan
    finally:
        for k, v in prior.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_lateral_decorrelates_to_window_group_limit(spark, sf_dir):
    """The correlated LATERAL + LIMIT must decorrelate into a rank-pruned
    window (WindowGroupLimit) joined to the outer side — never a per-outer-
    row re-execution or a cartesian product."""
    plan = _executed(entry_mod.queries()["lateral_top_orders"](spark, sf_dir))
    assert "WindowGroupLimit" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_vocab_coverage_broadcasts_topk_vocab(spark, sf_dir):
    """The top-500 vocab must be a TakeOrderedAndProject that broadcasts to
    the token stream — the corpus never shuffles for the membership test."""
    plan = _executed(entry_mod.queries()["vocab_coverage"](spark, sf_dir))
    assert "TakeOrderedAndProject(limit=500" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_recursive_cte_runs_as_union_loop(spark, sf_dir):
    """WITH RECURSIVE must execute as Spark 4's native UnionLoop operator."""
    plan = _executed(entry_mod.queries()["recursive_ancestry"](spark, sf_dir))
    assert "UnionLoop" in plan, plan


def test_pmi_unigram_table_broadcast(spark, sf_dir):
    plan = _executed(entry_mod.queries()["pmi_pairs"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_scalar_total_queries_scan_fact_once(spark, sf_dir):
    """Queries whose HAVING/share threshold references a grand total must
    not re-derive it from a second fact scan: ReuseExchange does NOT
    deduplicate the two lineages (observed), so the per-group rollup is
    checkpoint-materialized and both consumers read it.  Guard the executed
    plan to one FileScan of the fact."""
    for name, fact in [
        ("important_parts", "lineitem"),
        ("skew_profile", "lineitem"),
        # heavy_hitters_cms derives truth set, N, AND the sketch from one
        # checkpointed vocabulary — the result plan re-scans nothing
        ("heavy_hitters_cms", "documents"),
    ]:
        plan = _executed(entry_mod.queries()[name](spark, sf_dir))
        scans = [
            ln for ln in plan.splitlines() if "FileScan" in ln and fact in ln
        ]
        assert len(scans) <= 1, f"{name}: {len(scans)} {fact} scans"


def _table_scan_block(plan: str, table: str) -> str:
    """The formatted-plan details section for the named table's parquet
    scan node.  Selected by table name (the Location line carries the
    parquet path), NOT by first occurrence, and guarded with readable
    assertions — plan.index()/[0] raised bare ValueError/IndexError when
    the formatted layout shifted across Spark versions, and silently
    grabbed the WRONG table when another scan came first (ADVICE r5)."""
    assert "Scan parquet" in plan, f"no parquet scan node in plan:\n{plan[:800]}"
    blocks = [
        b for b in plan.split("\n\n")
        if "Scan parquet" in b and f"{table}.parquet" in b
    ]
    assert blocks, (
        f"no 'Scan parquet' details block for table {table!r} — "
        f"plan format changed or the scan was eliminated:\n{plan[:800]}"
    )
    return blocks[0]


def _pushed_filters_line(scan_block: str) -> str:
    lines = [l for l in scan_block.splitlines() if "PushedFilters" in l]
    assert lines, f"no PushedFilters line in scan block:\n{scan_block}"
    return lines[0]


def test_round5_lockstep_filters_reach_the_scan(spark, sf_dir):
    """The round-5 fuzz-gate fixes added source-level predicates whose
    placement is load-bearing: cheapest_supplier's NULL-offer exclusion
    and the media queries' parity-domain filter must evaluate AT THE SCAN
    (DataFilters), not post-join/post-shuffle — at 100 TB a misplaced
    lockstep filter re-reads the fact or ships excluded rows through an
    exchange."""
    plan = _formatted(entry_mod.queries()["cheapest_supplier"](spark, sf_dir))
    filters_line = _pushed_filters_line(_table_scan_block(plan, "lineitem"))
    assert "IsNotNull(l_extendedprice)" in filters_line
    assert "IsNotNull(l_quantity)" in filters_line

    plan = _formatted(entry_mod.queries()["media_features"](spark, sf_dir))
    scan_block = _table_scan_block(plan, "documents")
    pushed = _pushed_filters_line(scan_block)
    # lang and NULL-text prune at the parquet footer level...
    assert "EqualTo(lang,en)" in pushed and "IsNotNull(text)" in pushed
    # ...and the computed byte==char predicate evaluates in the scan stage
    # (DataFilters), before any exchange
    data_line = [l for l in scan_block.splitlines() if "DataFilters" in l]
    if data_line:  # formatted mode folds DataFilters into the scan node
        assert "octet_length" in data_line[0]
    else:
        # detail paragraphs come in node order: the predicate must sit
        # between the documents scan node and the first Exchange
        pre_exchange = plan[plan.index(scan_block):].split("Exchange")[0]
        assert "octet_length" in pre_exchange, (
            f"octet_length predicate not in the scan stage:\n{pre_exchange}"
        )


def test_round6_no_window_in_cap_or_corpus_dedup(spark, sf_dir):
    """Round-6 shapes, pinned: (a) the max_df stop-shingle cap is a
    groupBy-df + left-anti join, not a count-over-window — the window form
    shuffled AND SORTED every shingle occurrence row and measured slower
    than the uncapped query once the scan parallelized; (b) corpus_prep's
    exact-dedup stage is one min_by aggregate, not row_number+min+max
    windows — partial aggregation reaches the exchange as one row per
    distinct content hash, nothing sorted."""
    from european_emissions_data_warehouse_spark.operators.dedup import (
        _cap_shingles,
        shingle_index,
    )
    from european_emissions_data_warehouse_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    # the exact pre-checkpoint dataflow ngram_jaccard_pairs builds
    capped = _cap_shingles(shingle_index(docs, "doc_id", "text", 5, "word"), 20)
    plan = _formatted(capped)
    assert "LeftAnti" in plan, f"cap is not an anti-join:\n{plan[:600]}"
    # the only Window allowed is shingle_index's per-doc rolling-gram LEAD
    # window (partition key: id); none may partition on the shingle
    win_lines = [l for l in plan.splitlines() if "windowspecdefinition" in l]
    assert win_lines, "expected the per-doc rolling-gram window to remain"
    assert not [l for l in win_lines if "shingle" in l], win_lines

    # r9 optimization tightened (b) further: min_by(struct, doc_id) forced
    # SortAggregate (both exchange sides sorted the full corpus); the
    # aggregated columns are group-constant functions of ctext, so
    # component-wise primitive mins are equivalent and keep the whole
    # dedup a HashAggregate with map-side partials — nothing sorted.  The
    # quality filter must also sit ABOVE the aggregate (on the aggregated
    # _q): between projection and aggregate, pushdown-by-substitution
    # re-expanded the 4-regex clean chain ~15x inside the Filter condition.
    plan2 = _formatted(entry_mod.queries()["corpus_prep"](spark, sf_dir))
    assert "row_number" not in plan2
    assert "SortAggregate" not in plan2, f"corpus_prep dedup regressed to SortAggregate:\n{plan2[:600]}"
    assert "HashAggregate" in plan2, plan2[:600]
    assert "partial_min(doc_id" in plan2, f"corpus_prep lost the map-side partial min:\n{plan2[:600]}"
    # the quality predicate appears exactly once (above the agg), not
    # re-expanded into a pre-exchange Filter over the regex chain
    assert plan2.count(">= 0.5") == 1, f"quality filter duplicated/pushed:\n{plan2[:900]}"


def test_round6_fk_checks_carry_no_forced_parent_broadcast(spark, sf_dir):
    """sf100 probe finding: dq_report's lineitem->orders FK check forced a
    broadcast of the parent KEY SET — 12 GiB at sf100, over Spark's 8 GiB
    broadcast ceiling, a hard failure the small fixtures never see.  FK
    parents are themselves fact-scale here, so the join strategy must be
    planner-decided (AQE broadcasts genuinely small sides on its own); no
    ResolvedHint may appear anywhere in the analyzed plan."""
    df = entry_mod.queries()["dq_report"](spark, sf_dir)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed, (
        "dq_report carries a forced join hint — fact-scale FK parents must "
        f"stay planner-decided:\n{analyzed[:800]}"
    )


def test_round7_recursion_row_brake_scoped_to_call_site(spark, sf_dir):
    """sf100 probe finding (r6): Spark's 1M-row recursive-CTE brake failed
    the ancestry walk (legitimately ~600M chain rows at sf100).  ADVICE r6
    downgraded the r6 fix (global -1) because it also unbraked exploding
    fan-out recursions; round 7 scopes the override to the one query whose
    row count is data-proportional.  Pinned here: (a) the session factory
    itself no longer overrides the row brake (fresh sessions keep Spark's
    finite fail-fast default), (b) running recursive_ancestry raises the
    ceiling to the large FINITE call-site value, never -1, and (c) the
    LEVEL brake (infinite-recursion guard) is a positive finite value —
    not pinned to the literal default, which a Spark upgrade may change."""
    import inspect

    from european_emissions_data_warehouse_spark.session import get_session

    factory_src = inspect.getsource(get_session)
    assert '"spark.sql.cteRecursionRowLimit"' not in factory_src, (
        "session factory overrides the recursive-CTE row brake globally"
    )
    prior = spark.conf.get("spark.sql.cteRecursionRowLimit")
    df = entry_mod.queries()["recursive_ancestry"](spark, sf_dir)
    assert spark.conf.get("spark.sql.cteRecursionRowLimit") == "2000000000"
    df.limit(1).collect()  # the scoped ceiling must hold through execution
    level = int(spark.conf.get("spark.sql.cteRecursionLevelLimit"))
    assert level > 0, "level brake disabled — infinite recursion unguarded"
    # (d) ADVICE r7: the override must be RESTORABLE — restore_scoped_confs
    # returns the session to its prior brake, so shared-session harnesses
    # (layout_fuzz, determinism_sweep, this very fixture via the autouse
    # conftest restore) don't leak the 2e9 ceiling into queries
    # built after recursive_ancestry.
    from european_emissions_data_warehouse_spark.session import (
        restore_scoped_confs,
    )

    restore_scoped_confs(spark)
    restored = spark.conf.get("spark.sql.cteRecursionRowLimit")
    assert restored == prior, (
        f"scoped override leaked: {restored!r} != prior {prior!r}"
    )
    assert int(restored) < 2_000_000_000, (
        "prior value was already the raised ceiling — fixture polluted"
    )


def test_round8_incremental_store_probe_broadcasts_batch_not_store(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The streaming decade's (SCALING.md round 8) structural claim: the
    incremental MinHash probe touches the store (one row per document,
    band keys derived from its ``minhash_sig`` column in the row) through a
    bucket-equality join that BROADCASTS the micro-batch's band table and
    STREAMS the store scan — the store is never shuffled per batch, so
    per-batch cost stays O(new x bands + one store scan), not O(store)
    exchange traffic.  Planner-decided on purpose (the dq_report r6
    lesson): a giant bootstrap batch exceeding the broadcast ceiling must
    degrade to SMJ rather than abort, so this pin uses a steady-state
    SMALL batch, the shape every post-bootstrap trigger has.

    minhash_dedup_incremental eagerly localCheckpoints its result, which
    erases the plan — the test no-ops localCheckpoint (a materialization
    barrier, not a semantic node) to expose the REAL join the operator
    builds (operators/dedup._minhash_probe), rather than pinning a
    hand-mirrored copy that could drift."""
    from pyspark.sql import DataFrame

    from european_emissions_data_warehouse_spark.operators.dedup import (
        minhash_dedup_incremental,
        minhash_store_init,
    )

    # Spark 4: pyspark.sql.DataFrame is the abstract facade; the runtime
    # instances are pyspark.sql.classic.dataframe.DataFrame, whose own
    # localCheckpoint would shadow a patch on the facade
    targets = [DataFrame]
    try:
        from pyspark.sql.classic.dataframe import DataFrame as ClassicDF

        targets.append(ClassicDF)
    except ImportError:
        pass
    for t in targets:
        monkeypatch.setattr(
            t, "localCheckpoint", lambda self, eager=True: self
        )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    store = str(tmp_path / "lsh_store")
    minhash_store_init(docs.filter("doc_id % 2 = 0"), store)
    pairs = minhash_dedup_incremental(
        docs.filter("doc_id % 2 = 1").limit(40), store, update_store=False
    )
    plan = pairs._jdf.queryExecution().executedPlan().toString()

    assert "BroadcastHashJoin" in plan, plan[:1500]
    # walk the tree string: the STORE's parquet scan line must not sit
    # under any shuffle Exchange on its path to the probe join — only the
    # batch side (an ExistingRDD from the band build) may exchange, and
    # only as a BroadcastExchange
    lines = plan.splitlines()
    # identify the store scan by its ReadSchema (only the store scans
    # minhash_sig directly from parquet) — the Location path string is
    # unreliable here because toString truncates long field lists
    store_lines = [
        i for i, ln in enumerate(lines)
        if "Scan parquet" in ln and "sig:array<bigint>" in ln
    ]
    assert store_lines, f"store scan not found in plan:\n{plan[:1500]}"

    def indent(s: str) -> int:
        return len(s) - len(s.lstrip(" :+-*("))

    for i in store_lines:
        d = indent(lines[i])
        j = i - 1
        while j >= 0:
            dj = indent(lines[j])
            if dj < d:  # an ancestor of the store scan
                assert "Exchange hashpartitioning" not in lines[j], (
                    f"store scan shuffled per batch:\n{lines[j]}"
                )
                if "Join" in lines[j]:
                    assert "BroadcastHashJoin" in lines[j], (
                        f"store joined without broadcast:\n{lines[j]}"
                    )
                    break  # reached the probe join — path is clean
                d = dj
            j -= 1
