"""Physical-plan regression tests: the optimizations the engine depends on
at 100 TB must be visible in the plans at any scale — predicate pushdown to
the parquet scan, column pruning, broadcast joins for dimensions,
MapInArrow (not per-row Python) for the kernels.

If one of these breaks, small-scale results stay correct while large-scale
cost explodes — exactly the regression class normal result-tests miss.
"""

from __future__ import annotations

from ocr_platform_spark.queries import CATALOG

SF = "/root/testdata/sf0.001"


def _formatted(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_filter_pushdown_reaches_scan(spark):
    plan = _formatted(CATALOG["pricing_summary"].fn(spark, SF))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_column_pruning_on_scan(spark):
    plan = _formatted(CATALOG["pricing_summary"].fn(spark, SF))
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    # 6 of 11 lineitem columns read; key heavy columns absent
    assert "l_orderkey" not in read and "l_partkey" not in read
    assert "l_quantity" in read and "l_shipdate" in read


def test_dimension_joins_broadcast(spark):
    plan = _formatted(CATALOG["regional_balance"].fn(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_anti_and_semi_joins(spark):
    assert "LeftAnti" in _formatted(CATALOG["customers_without_orders"].fn(spark, SF))
    assert "LeftSemi" in _formatted(CATALOG["customers_with_open_orders"].fn(spark, SF))


def test_extraction_uses_map_in_arrow_and_prunes_input(spark):
    from ocr_platform_spark.operators.extract import extract_documents

    docs = spark.read.parquet(f"{SF}/lineitem.parquet").selectExpr(
        "cast(l_orderkey as string) as url",
        "cast(null as timestamp) as warc_ts",
        "cast(l_returnflag as binary) as html",
        "cast(null as string) as text",
        "cast(null as string) as lang",
    )
    plan = _formatted(extract_documents(docs))
    assert "MapInArrow" in plan
    # no row-at-a-time python eval anywhere in the kernel path
    assert "BatchEvalPython" not in plan


def _sql_executions(spark) -> dict[int, str]:
    """Execution id -> physical plan of every SQL execution the session's
    status store holds (fed by its listener bus, drained first)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return {
        execs.apply(i).executionId(): execs.apply(i).physicalPlanDescription()
        for i in range(execs.size())
    }


def test_extraction_partitioner_rebalances_without_probe(spark, tmp_path):
    """The one extraction partitioner is an AQE REBALANCE url-hash shuffle:
    no range sampler in the executed plan, and the extraction job issues
    no payload-size probe (a ``GlobalLimit`` execution) before it."""
    from ocr_platform_spark.operators.corpus_spark import documents_df
    from ocr_platform_spark.operators.extract import extract_documents
    from ocr_platform_spark.operators.partitioning import repartition_for_extraction
    from ocr_platform_spark.plans.pipeline import run_extraction_job

    docs = documents_df(spark, 120)
    ext = extract_documents(repartition_for_extraction(docs))
    ext.collect()
    plan = ext._jdf.queryExecution().executedPlan().toString()
    assert "REBALANCE_PARTITIONS_BY_COL" in plan
    assert "rangepartitioning" not in plan.lower()

    before = set(_sql_executions(spark))
    m = run_extraction_job(spark, docs, str(tmp_path / "t"), run_id="r")
    assert m["partitioner"] == "rebalance" and m["rows"] == 120
    plans = [p for i, p in _sql_executions(spark).items() if i not in before]
    assert plans, "no SQL executions recorded for the extraction job"
    assert not any("GlobalLimit" in p for p in plans)
    assert not any("rangepartitioning" in p.lower() for p in plans)


def test_no_cartesian_in_catalog_relational_queries(spark):
    for name in (
        "top_customers", "voucher_totals", "orders_topk_per_customer",
        "customers_without_orders", "order_status_pivot",
    ):
        plan = _formatted(CATALOG[name].fn(spark, SF))
        assert "CartesianProduct" not in plan, name


def test_select_mapping_is_arrow_batched(spark):
    from ocr_platform_spark.operators.select_mapping import map_select_single_vocab

    df = spark.createDataFrame([("x",)], "v string")
    plan = _formatted(map_select_single_vocab(df, "v", [("A", "A")]))
    assert "ArrowEvalPython" in plan  # vectorized pandas UDF, not BatchEvalPython
    assert "BatchEvalPython" not in plan


def test_whole_stage_codegen_covers_conversions(spark):
    plan = _formatted(CATALOG["convert_currency_cases"].fn(spark, SF))
    # '*'-prefixed nodes are inside WholeStageCodegen spans (formatted mode)
    assert "* Project" in plan and "* Filter" in plan
    assert "EvalPython" not in plan  # conversions are pure column expressions


def test_near_dup_signature_stage_runs_once(spark):
    """The near-dup pipelines fan the signature table out to candidate
    generation AND both verification-join sides; without a materialized
    stage the shingle/signature kernels recompute ~3× per run.

    The operator-level pipelines pin this via persist; the catalog queries
    stage to parquet (staging.py) so the oracle can read the same bytes —
    either way the kernel must be ABSENT from the returned verification
    plan (it ran exactly once, during staging)."""
    from ocr_platform_spark.operators.dedup import (
        minhash_near_duplicates,
        simhash_near_duplicates,
    )

    docs = spark.createDataFrame(
        [(i, f"some text body {i} repeated words here") for i in range(20)],
        "doc_id long, text string",
    )
    for fn in (minhash_near_duplicates, simhash_near_duplicates):
        plan = _formatted(fn(docs, "doc_id", "text"))
        assert "InMemoryTableScan" in plan or "TableCacheQueryStage" in plan, fn
    for qname in ("minhash_near_dups", "simhash_near_dups"):
        plan = _formatted(CATALOG[qname].fn(spark, SF))
        # verification tail reads the staged parquet; no shingle/signature
        # kernel (xxhash over shingles / ArrowEvalPython) re-executes
        assert "ocr_platform_spark_stage" in plan, qname
        assert "ArrowEvalPython" not in plan and "shingle" not in plan, qname


def test_or_key_lookup_is_broadcast_nested_loop(spark):
    """J7's OR-of-equalities predicate can't hash-join; with a broadcast
    dimension it must plan as BroadcastNestedLoopJoin — never a cartesian."""
    plan = _formatted(CATALOG["ledger_or_alias_lookup"].fn(spark, SF))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_correction_overlay_is_broadcast(spark):
    """The correction overlay is a human-sized dimension — it must join
    broadcast (a shuffle here would shuffle the full EAV fact table at
    scale for a handful of corrections)."""
    for qname in ("corrected_field_values", "corrected_table_cells"):
        plan = _formatted(CATALOG[qname].fn(spark, SF))
        assert "BroadcastHashJoin" in plan, qname
        assert "SortMergeJoin" not in plan, qname


def test_dimension_versions_broadcast(spark):
    plan = _formatted(CATALOG["dimension_as_of_lookup"].fn(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_lm_score_stays_jvm_side(spark):
    # the LM gate is pure built-ins — a BatchEvalPython here would mean the
    # bit-length surrogate silently fell off the codegen path
    plan = _formatted(CATALOG["doc_lm_score"].fn(spark, SF))
    assert "BatchEvalPython" not in plan
    assert "HashAggregate" in plan


def test_host_quality_rollup_single_aggregate_no_join(spark):
    plan = _formatted(CATALOG["host_quality_rollup"].fn(spark, SF))
    assert "BatchEvalPython" not in plan
    assert "Join" not in plan  # one scan, one hash aggregate — no reshuffle of text
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "text" in read and "n_chars" not in read  # pruned to what the gates need


def test_compression_signal_is_arrow_batched(spark):
    from ocr_platform_spark.functions.compressfns import compression_signal

    d = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _formatted(compression_signal(d, "doc_id", "text"))
    # pandas UDF = ArrowEvalPython (vectorized), never row-at-a-time Python
    assert "ArrowEvalPython" in plan and "BatchEvalPython" not in plan


def test_classifier_relational_path_stays_jvm_side(spark):
    plan = _formatted(CATALOG["doc_topic_classifier"].fn(spark, SF))
    assert "BatchEvalPython" not in plan


def test_keyword_search_broadcasts_idf_and_takeordered(spark):
    plan = _formatted(CATALOG["corpus_keyword_search"].fn(spark, SF))
    assert "BatchEvalPython" not in plan
    assert "BroadcastHashJoin" in plan  # idf dimension broadcast
    assert "TakeOrderedAndProject" in plan  # distributed top-k, no global sort


def test_epoch_plan_windows_are_bucket_partitioned(spark):
    """The epoch planner must never sort a whole group in one task: every
    WindowExec over row-scale data partitions by (group, bucket); the only
    group-partitioned window runs over the tiny (group, bucket) rollup.
    The plan also broadcasts the rollup back to the row side."""
    plan = _formatted(CATALOG["corpus_epoch_plan"].fn(spark, SF))
    assert "BroadcastHashJoin" in plan
    # no per-row python anywhere in the mixture/planner path
    assert "BatchEvalPython" not in plan


def test_training_order_has_no_global_sort_window(spark):
    """Feed-order materialization partitions its rank window by shard —
    a global row_number (empty partition spec over corpus rows) would
    serialize the corpus through one task."""
    plan = _formatted(CATALOG["corpus_training_order"].fn(spark, SF))
    assert "BatchEvalPython" not in plan
    # the shard rank window partitions by shard, not by nothing
    import re

    win_specs = re.findall(r"row_number\(\)[^\n]*windowspecdefinition\(([^,]+),", plan)
    assert win_specs, "expected a row_number window in the plan"
    assert all("shard" in s for s in win_specs), win_specs


def test_url_revisit_diff_windows_partition_by_doc(spark):
    """Revisit change detection shuffles each url's handful of snapshot
    rows once: the digest lag window and the final aggregate both key on
    doc_id; an empty-spec window would serialize 10^12 snapshots through
    one task."""
    import re

    plan = _formatted(CATALOG["url_revisit_diff"].fn(spark, SF))
    assert "BatchEvalPython" not in plan
    win_specs = re.findall(r"windowspecdefinition\(([^,]+),", plan)
    assert win_specs and all("doc_id" in s for s in win_specs), win_specs


def test_calibration_reports_read_staged_and_stay_jvm_side(spark):
    """The banding-recall / threshold-sweep calibration family verifies
    from staged bytes (the xxhash kernel ran exactly once, during staging)
    and is pure relational arithmetic downstream — no Python eval, no
    cartesian products (the config VALUES tables broadcast)."""
    for qname in (
        "dedup_lsh_recall",
        "decontam_lsh_recall",
        "quality_threshold_sweep",
        "doc_decontam_strip",
    ):
        plan = _formatted(CATALOG[qname].fn(spark, SF))
        assert "EvalPython" not in plan, qname
        assert "CartesianProduct" not in plan, qname
        assert "ocr_platform_spark_stage" in plan, qname


def test_readability_is_map_side_single_pass(spark):
    # the whole score is column expressions over one scan: no Python eval,
    # no aggregate/join exchange — the only exchange is the final sort
    plan = _formatted(CATALOG["doc_readability"].fn(spark, SF))
    assert "BatchEvalPython" not in plan and "MapInArrow" not in plan
    assert "HashAggregate" not in plan and "Join" not in plan
    # exactly one exchange node — the final sort's range partitioning
    assert plan.count("+- Exchange") == 1
    assert "rangepartitioning" in plan and "hashpartitioning" not in plan


def test_code_route_filter_is_jvm_side(spark):
    # the router rule (textfns.is_code_doc) must compile to JVM column
    # expressions — no Python eval anywhere in the mixed-corpus classify
    from ocr_platform_spark.functions.textfns import is_code_doc

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _formatted(docs.where(~is_code_doc("text")))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Filter" in plan


def test_crawl_budget_scalars_broadcast(spark):
    # total mass and leftover are scalar aggregates joined back via
    # broadcast — the host table must never sort-merge against them
    plan = _formatted(CATALOG["crawl_budget_allocation"].fn(spark, SF))
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastNestedLoopJoin") >= 2  # two scalar sides
    assert "BatchEvalPython" not in plan


def test_host_token_budget_window_partitioning_reused(spark):
    # the per-host window and the per-host rollup must share ONE hash
    # exchange (partitioning reuse), plus only the final sort's range
    # exchange — a third exchange means the groupBy re-shuffled
    plan = _formatted(CATALOG["host_token_budget_cut"].fn(spark, SF))
    assert "Window" in plan and "BatchEvalPython" not in plan
    assert plan.count("+- Exchange") == 2
    assert plan.count("hashpartitioning") >= 1 and "rangepartitioning" in plan


def test_oov_curve_rank_is_bounded_by_limit(spark):
    # the global rank must ride on a TakeOrderedAndProject of the top max(K)
    # rows, never a full sort of the vocabulary
    plan = _formatted(CATALOG["corpus_oov_curve"].fn(spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan


def test_map_side_url_rules_have_no_joins_or_python(spark):
    # softblock scoring, trap rules and the homoglyph scan are pure row
    # expressions: any join or Python eval in the plan is a regression
    for name in (
        "url_softblock_score",
        "crawl_trap_detection",
        "doc_homoglyph_scan",
    ):
        plan = _formatted(CATALOG[name].fn(spark, SF))
        for op in ("Join", "BatchEvalPython", "ArrowEvalPython"):
            assert op not in plan, f"{name}: unexpected {op}"


def test_scalar_broadcast_queries_avoid_shuffle_joins(spark):
    # single-row aggregates (extents, totals, leftovers) must broadcast
    for name in ("shard_zonemap_skipping", "corpus_negative_sampling_table"):
        plan = _formatted(CATALOG[name].fn(spark, SF))
        assert "SortMergeJoin" not in plan, name
        assert "BatchEvalPython" not in plan, name


def test_round4_continuation_plans(spark):
    # this session's entries: everything downstream of a staged table must
    # stay JVM-side; dictionary-sized sides must broadcast
    plan = _formatted(CATALOG["host_mirror_near_dups"].fn(spark, SF))
    assert "BatchEvalPython" not in plan
    assert "BroadcastHashJoin" in plan  # host signature rejoin is host-dim-sized

    # report tails read staged candidates: no Python, no cartesian pairs
    for name in (
        "dedup_colocation_report",
        "doc_novelty_scores",
    ):
        plan = _formatted(CATALOG[name].fn(spark, SF))
        assert "BatchEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name

    # the CDX index is wholly JVM-side expression/join work
    plan = _formatted(CATALOG["cdx_index"].fn(spark, SF))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def _plan_nodes(plan, into_cache: bool) -> list[str]:
    """Node names of a physical plan, depth first: through AQE wrappers and
    query stages, and into a cached relation's plan only when
    ``into_cache`` (an ``InMemoryTableScan`` is otherwise a leaf)."""
    cls = plan.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        kids = [plan.executedPlan()]
    elif cls.endswith("QueryStageExec"):
        kids = [plan.plan()]
    elif cls == "InMemoryTableScanExec":
        kids = [plan.relation().cachedPlan()] if into_cache else []
    else:
        seq = plan.children()
        kids = [seq.apply(i) for i in range(seq.size())]
    out = [plan.nodeName()]
    for k in kids:
        out += _plan_nodes(k, into_cache)
    return out


def test_template_fields_bind_map_side_and_wide_reads_the_cache(spark):
    """process_extracted binds spans to template fields with no Window and
    no shuffle (the template is broadcast) and returns its rows persisted;
    wide_response over them is one aggregation exchange, and the SELECT
    UDF runs only inside the cached relation, never again for the wide
    rows. unpersist releases the rows."""
    from ocr_platform_spark.plans.process_documents import (
        TEMPLATE_FIELDS_DDL,
        process_extracted,
        wide_response,
    )

    extracted = spark.createDataFrame(
        [("u1", [("h1", 0, 5, "Title"), ("li", 0, 1, "a"), ("li", 0, 1, "b")]), ("u2", None)],
        "url string, spans array<struct<field:string,start:int,end:int,value:string>>",
    )
    template = spark.createDataFrame(
        [("NAME", "h1", 0, "select", 1), ("ITEMS", "li", 0, "table", 2)], TEMPLATE_FIELDS_DDL
    )
    options = spark.createDataFrame(
        [("NAME", "N1", "Title")], "field_name string, option_value string, option_label string"
    )
    rows = process_extracted(extracted, template, options)
    assert rows.storageLevel.useMemory and rows.storageLevel.useDisk
    inner = _plan_nodes(rows._jdf.queryExecution().executedPlan(), into_cache=True)
    assert "ArrowEvalPython" in inner and "BroadcastExchange" in inner
    assert "Window" not in inner and "Exchange" not in inner
    assert "Union" not in inner and "Generate" in inner  # one explode, no join union

    wide = _plan_nodes(wide_response(rows)._jdf.queryExecution().executedPlan(), into_cache=False)
    assert "InMemoryTableScan" in wide
    assert wide.count("Exchange") == 1 and "ArrowEvalPython" not in wide
    assert not any("Join" in n for n in wide)
    rows.unpersist()
    assert not rows.storageLevel.useMemory
