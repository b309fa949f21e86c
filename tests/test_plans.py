"""Physical-plan shape assertions: the optimizations SCALE.md claims are
pinned here so a regression in query construction (a lost broadcast hint, a
UDF blocking pushdown, an accidental cartesian) fails tests, not the bench.
"""

from __future__ import annotations

from .conftest import SF_SMOKE


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _queries():
    from hive_dwrf_spark.queries import load_registry

    qs, _ = load_registry()
    return qs


def test_q02_projection_reaches_parquet_scan(spark):
    plan = _plan(_queries()["q02"](spark, SF_SMOKE))
    # the scan must read only the 3 referenced columns of the 16-column table
    import re

    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.partition(":")[0] for c in m.group(1).split(",")}
    assert cols == {"l_orderkey", "l_linenumber", "l_quantity"}, cols


def test_q01_filter_pushed_to_scan(spark):
    plan = _plan(_queries()["q01"](spark, SF_SMOKE))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_q04_broadcasts_and_streams_the_fact_table(spark):
    plan = _plan(_queries()["q04"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    # lineitem is never a build side: its scan must appear before the first
    # join's build subtree in the streamed position (probe side listed first)
    assert plan.count("SortMergeJoin") == 0


def test_q12_topk_avoids_global_sort(spark):
    plan = _plan(_queries()["q12"](spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan


def test_deterministic_sample_stays_in_scan_stage(spark):
    plan = _plan(_queries()["sample_fraction"](spark, SF_SMOKE))
    # the sampling filter itself adds no shuffle: the only exchange in this
    # query is the final presentation ORDER BY
    assert plan.count("Exchange") <= 2


def test_decontaminate_broadcasts_benchmark_side(spark):
    plan = _plan(_queries()["text_decontaminate"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_curate_single_data_shuffle(spark):
    plan = _plan(_queries()["pipeline_curate"](spark, SF_SMOKE))
    # window (dedup) exchange + presentation sort; the gate and sample are
    # per-row filters that must not add exchanges
    assert plan.count("Exchange") <= 4
    assert "Window" in plan


def test_range_join_is_not_nested_loop(spark):
    plan = _plan(_queries()["range_join"](spark, SF_SMOKE))
    # the bucketed formulation must plan as an equi-join (hash or sort-merge
    # with AQE), never a nested-loop/cartesian over points x intervals
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_skew_agg_two_phase(spark):
    plan = _plan(_queries()["skew_agg"](spark, SF_SMOKE))
    # phase 1 on (key, salt), phase 2 on key: four HashAggregates
    # (partial+final per phase), all codegen, no window/sort
    assert plan.count("HashAggregate") >= 4
    assert "Window" not in plan


def test_q37_maxby_is_hash_aggregate_not_window(spark):
    plan = _plan(_queries()["q37_maxby"](spark, SF_SMOKE))
    assert "max_by" in plan or "HashAggregate" in plan
    assert "Window" not in plan


def test_q35_sessionize_single_user_shuffle(spark):
    plan = _plan(_queries()["q35_sessionize"](spark, SF_SMOKE))
    # session_window aggregation: exchanges = user_id shuffle + final
    # presentation sort only
    assert "SessionWindowStateStore" not in plan  # batch path, no state store
    assert plan.count("Exchange") <= 3


def test_text_df_distinct_before_explode(spark):
    plan = _plan(_queries()["text_df"](spark, SF_SMOKE))
    # array_distinct must run scan-side (inside the generate stage), so the
    # aggregate needs no distinct-aggregation expand
    assert "Expand" not in plan


def test_bm25_broadcasts_collection_stats(spark):
    plan = _plan(_queries()["text_bm25"](spark, SF_SMOKE))
    # the 1-row stats side must broadcast (nested-loop on a 1-row side is
    # the intended plan); the corpus is never exchanged for the join
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_jaccard_prefix_filter_no_cartesian(spark):
    plan = _plan(_queries()["dedup_jaccard"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pii_redact_is_scan_side_projection(spark):
    plan = _plan(_queries()["pii_redact"](spark, SF_SMOKE))
    # regexp projection + top-k presentation only: no shuffle beyond the
    # TakeOrderedAndProject, no join, no aggregate
    assert "TakeOrderedAndProject" in plan
    assert "Join" not in plan
    assert "HashAggregate" not in plan


def test_upsert_broadcasts_update_keys(spark):
    plan = _plan(_queries()["pipeline_upsert"](spark, SF_SMOKE))
    # the anti-join against update keys must be broadcast, never shuffled
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_quantize_is_pure_projection(spark):
    plan = _plan(_queries()["embedding_quantize"](spark, SF_SMOKE))
    assert "Join" not in plan
    assert "HashAggregate" not in plan


def test_text_chunk_stays_in_scan_stage(spark):
    plan = _plan(_queries()["text_chunk"](spark, SF_SMOKE))
    # sequence/explode/substring are scan-stage expressions: the only
    # exchange is the presentation ORDER BY, and nothing drops to Python
    assert plan.count("Exchange") <= 1
    assert "EvalPython" not in plan


def test_temperature_sample_broadcasts_rates(spark):
    plan = _plan(_queries()["sample_temperature"](spark, SF_SMOKE))
    # the |groups|-row rates table must broadcast; the corpus side is never
    # shuffled for the join (exchanges: counts agg + presentation sort)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_zscore_no_window_over_fact_table(spark):
    plan = _plan(_queries()["events_zscore"](spark, SF_SMOKE))
    # two-pass stats + broadcast join back — a per-group sort (Window) over
    # the fact table is the anti-pattern this operator exists to avoid
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan


def test_funnel_no_cartesian(spark):
    plan = _plan(_queries()["events_funnel"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan


def test_scd2_single_sort_for_both_windows(spark):
    plan = _plan(_queries()["pipeline_scd2"](spark, SF_SMOKE))
    # lag-compression and lead-stamping share the (user_id, ts) sort order:
    # one shuffle on user_id plus the presentation sort, nothing more
    assert plan.count("Exchange") <= 2


def test_moving_window_no_python(spark):
    plan = _plan(_queries()["events_moving_window"](spark, SF_SMOKE))
    # a RANGE frame over epoch micros: one Window node, nothing in Python
    assert "Window" in plan
    assert "EvalPython" not in plan


def test_winnow_join_no_cartesian(spark):
    plan = _plan(_queries()["dedup_winnow"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    # fingerprint selection is a vectorized Arrow kernel (ArrowEvalPython);
    # only row-at-a-time Python is banned
    assert "BatchEvalPython" not in plan


def test_source_cap_no_global_single_partition_sort(spark):
    # the skew-safe two-phase cap: phase 1 windows on (_pid, group), so
    # no stage ever sorts a whole hot group in one task before truncation
    plan = _plan(_queries()["pipeline_source_cap"](spark, SF_SMOKE))
    assert "_pid" in plan  # local phase present
    assert "CartesianProduct" not in plan


def test_epoch_shuffle_uses_range_exchange_not_global_window(spark):
    plan = _plan(_queries()["sample_epoch_shuffle"](spark, SF_SMOKE))
    # the scalable two-pass form: a range exchange plus per-partition
    # windows; the only SinglePartition exchange allowed is the one over
    # the tiny per-partition-totals frame (grouped by _pid), never over
    # the row-level frame
    assert "rangepartitioning" in plan.lower()
    assert "BroadcastExchange" in plan  # offsets join side


def test_cms_probe_side_broadcasts(spark):
    plan = _plan(_queries()["sketch_cms"](spark, SF_SMOKE))
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_tfidf_no_second_corpus_scan_for_df(spark):
    # document frequency aggregates the persisted tf frame, not the text
    plan = _plan(_queries()["text_tfidf"](spark, SF_SMOKE))
    assert "InMemoryTableScan" in plan


def test_reservoir_sample_is_topk_not_global_sort(spark):
    # orderBy+limit must plan as TakeOrderedAndProject: per-partition O(k)
    # heaps merged on the driver, never a full sort shuffle of the corpus
    plan = _plan(_queries()["sample_reservoir"](spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan


def test_quantile_sketch_single_combinable_aggregate(spark):
    # the corpus-side work is ONE hash aggregate (map-side partials over
    # the scan); everything after runs on the bin table
    plan = _plan(_queries()["sketch_quantile"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan  # map-side combine on the scan side


def test_budget_select_broadcasts_bins_no_global_sort(spark):
    # whole-bin selection must be a broadcast semi-join on the tiny
    # histogram, and no corpus-wide sort exchange may appear (the only
    # windows run over the histogram and the single boundary bin)
    plan = _plan(_queries()["pipeline_budget_select"](spark, SF_SMOKE))
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_embedding_gram_shuffles_partials_not_rows(spark):
    # the only aggregate input is the mapInPandas partial frame (d^2 rows
    # per batch); the vector column itself never enters an exchange
    plan = _plan(_queries()["embedding_gram"](spark, SF_SMOKE))
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan
    assert "embedding" not in plan.split("Exchange", 1)[-1].split("\n")[0]


def test_inverted_index_rank_pushdown(spark):
    # the token window must keep only O(k) rows per group before the
    # filter (WindowGroupLimit), and df re-aggregates the persisted tf
    plan = _plan(_queries()["text_inverted_index"](spark, SF_SMOKE))
    assert "WindowGroupLimit" in plan
    assert "InMemoryTableScan" in plan


def test_interval_join_is_equi_join_not_nested_loop(spark):
    # the whole point of bucket bursting: overlap meets as a hash equi-join
    plan = _plan(_queries()["interval_join"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q45_correlated_scalars_decorrelate_to_one_join_tree(spark):
    # both scalar subqueries must decorrelate into aggregate joins — a
    # per-row subquery re-execution would appear as InSubquery/scalar
    # subquery nodes in the EXECUTED plan
    plan = _plan(_queries()["q45_correlated_scalar"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    assert "ScalarSubquery" not in plan


def test_random_projection_is_shuffle_free(spark):
    # the sign matrix folds into the plan as literals: the only exchange is
    # the presentation ORDER BY; no joins, no broadcasts, no Python
    from hive_dwrf_spark.operators.similarity import random_projection
    from hive_dwrf_spark.tables import load

    e = load(spark, SF_SMOKE, "embeddings")
    plan = _plan(
        random_projection(e, "embedding", dim=64, out_dim=8, id_cols=["vec_id"])
    )
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_kmeans_assign_broadcasts_centroids(spark):
    # the corpus side must stream against a BROADCAST centroid frame —
    # never a shuffled join on the corpus. Since round 7 kmeans_lloyd
    # localCheckpoints each round (lineage cut), so the ASSIGN stage's
    # plan is asserted directly via kmeans_assign; the query's final
    # plan is a checkpoint scan and must stay Python-free.
    from hive_dwrf_spark.operators.similarity import kmeans_assign, kmeans_lloyd
    from hive_dwrf_spark.tables import load

    e = load(spark, SF_SMOKE, "embeddings")
    cents = kmeans_lloyd(e, "embedding", "vec_id", k=4, rounds=1).select(
        "cid", "dim", "c_e4"
    )
    assign_plan = _plan(kmeans_assign(e, "embedding", "vec_id", cents))
    assert (
        "BroadcastNestedLoopJoin" in assign_plan
        or "BroadcastExchange" in assign_plan
    )
    assert "SortMergeJoin" not in assign_plan
    assert "BatchEvalPython" not in assign_plan
    qplan = _plan(_queries()["embedding_kmeans"](spark, SF_SMOKE))
    assert "SortMergeJoin" not in qplan
    assert "BatchEvalPython" not in qplan


def test_drift_psi_corpus_cost_is_two_sketch_scans(spark):
    # everything after the two bin sketches runs on the catalog-sized bin
    # table: at most the two sketch aggregations + the bin join + final
    # order exchanges appear — none keyed by corpus rows
    plan = _plan(_queries()["pipeline_drift_psi"](spark, SF_SMOKE))
    assert "BatchEvalPython" not in plan
    # both sketch sides partial-aggregate before their exchange
    assert plan.count("HashAggregate") >= 4


def test_driver_local_results_plan_as_local_relations(spark):
    # results computed on the driver are shipped back as Arrow, so they
    # plan as a JVM LocalRelation; a list of Python rows would plan as a
    # LogicalRDD whose every action starts a Python worker to unpickle it
    from hive_dwrf_spark.operators.dedup import connected_components
    from hive_dwrf_spark.operators.text import bpe_train_merges

    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], "id1 long, id2 long")
    words = spark.createDataFrame(
        [("low lower lowest",), ("newer newest",)], "text string"
    )
    frames = {
        "connected_components": connected_components(
            pairs, local_threshold=1000
        ),
        "bpe_train_merges": bpe_train_merges(words, "text", k=3),
        "embedding_kmeans": _queries()["embedding_kmeans"](spark, SF_SMOKE),
    }
    for name, df in frames.items():
        qe = df._jdf.queryExecution()
        logical = qe.optimizedPlan().toString()
        physical = qe.executedPlan().toString()
        assert "LocalRelation" in logical, (name, logical)
        assert "LocalTableScan" in physical, (name, physical)
        for plan in (logical, physical):
            assert "LogicalRDD" not in plan and "ExistingRDD" not in plan, (
                name,
                plan,
            )
