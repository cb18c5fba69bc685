"""Physical-plan regression checks (PERF.md §1 made executable).

Correctness tests prove the queries return the right rows; these prove they
return them with the right PLAN — the properties that decide whether the
same code survives a 100×-1000× scale-up: filter pushdown into the parquet
scan, column pruning, broadcast vs shuffle side assignment, and top-k
planning. A refactor that silently turns a pushed filter into a post-scan
filter still passes parity; it fails here.
"""

from __future__ import annotations

import os
import re

import pytest

from big_data__instagram_analysis_spark.io import DEFAULT_SF_DIR, load
from big_data__instagram_analysis_spark.registry import get_specs


def _plan(spark, sf_dir, name: str) -> str:
    df = get_specs()[name].fn(spark, sf_dir)
    # Same JVM helper DataFrame.explain() prints through (PySpark 4).
    return spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_pricing_summary_pushdown_and_pruning(spark, sf_dir):
    plan = _plan(spark, sf_dir, "pricing_summary")
    # The ship-date filter must reach the parquet reader...
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan or re.search(
        r"PushedFilters: \[.*l_shipdate", plan
    ), plan[plan.find("PushedFilters"):][:200]
    # ...and the scan must not read columns the query doesn't use.
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    cols = m.group(1) if m else ""
    assert "l_comment" not in cols and "l_shipmode" not in cols, cols
    # Two-phase aggregation: a partial agg before the exchange.
    assert "partial_sum" in plan or "partial_count" in plan


def test_join_revenue_broadcasts_dims_not_facts(spark, sf_dir):
    plan = _plan(spark, sf_dir, "join_revenue_by_nation")
    assert "BroadcastHashJoin" in plan, "dims should broadcast"
    # Round 6: the lineitem join is pinned as a ShuffledHashJoin building on
    # the filtered c⋈o side — without the hint the static planner broadcast
    # LINEITEM (its pruned-scan estimate is under the 10 MB threshold at
    # bench tier), i.e. a 600 k-row hash build probed by ~30 k rows. The
    # fact table must stream, never build (PERF.md §39).
    assert "ShuffledHashJoin Inner BuildRight" in plan, (
        "lineitem join must be SHJ building the c⋈o side: " + plan[:400]
    )
    # Formatted explain puts join keys in the detail section: lineitem's key
    # must be the LEFT (streamed) side of that SHJ.
    m = re.search(
        r"ShuffledHashJoin\n.*?Left keys \[1\]: \[l_orderkey", plan, re.S
    )
    assert m, f"SHJ must stream lineitem (left keys l_orderkey): {plan[:800]}"
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_orderby_limit_plans_as_topk(spark, sf_dir):
    plan = _plan(spark, sf_dir, "orderby_nulls_topk")
    assert "TakeOrderedAndProject" in plan, "ORDER BY+LIMIT must plan as top-k"
    # A global Sort exchange would mean the top-k pushdown failed.
    assert "rangepartitioning" not in plan.lower()


def test_window_topk_uses_group_limit(spark, sf_dir):
    plan = _plan(spark, sf_dir, "window_topk_orders")
    # Spark 3.5+ pushes rank<=k into the window sort.
    assert "WindowGroupLimit" in plan, "rank-limit pushdown missing"


def test_cross_join_is_the_only_nlj(spark, sf_dir):
    """The declared theta-join (J6) may use NLJ; star joins must not."""
    nlj_ok = {"cross_join_region_nation", "embed_knn_allpairs", "range_join_value_bands"}
    for name in ("join_revenue_by_nation", "left_join_order_counts", "semi_join_purchasers"):
        plan = _plan(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name


def test_scans_prune_columns_everywhere(spark, sf_dir):
    """Spot-check pruning on a wide-table query: doc_stats reads 2 cols."""
    plan = _plan(spark, sf_dir, "doc_stats_by_lang")
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    cols = m.group(1) if m else ""
    assert "text" not in cols, f"documents.text (the wide column) read needlessly: {cols}"


def test_bucketed_join_has_no_fact_shuffle(spark, sf_dir):
    """Bucketed orders⋈customer must SMJ with zero exchanges on the join key.

    This is the co-location contract bucketing exists for: if a refactor
    reintroduces `Exchange hashpartitioning(o_custkey...)` the whole point
    of the bucketed write is silently lost.
    """
    plan = _plan(spark, sf_dir, "bucketed_join_order_totals")
    assert "SortMergeJoin" in plan, plan
    assert not re.search(r"Exchange hashpartitioning\((o_custkey|c_custkey)", plan), (
        "bucketed join re-shuffled the facts"
    )
    assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan


def test_exact_dedup_partial_aggregates(spark, sf_dir):
    """L1 dedup must map-side combine before shuffling hash groups."""
    plan = _plan(spark, sf_dir, "exact_dedup_docs")
    assert "Exchange hashpartitioning" in plan or "Window" in plan


def test_subqueries_decorrelate_to_joins(spark, sf_dir):
    """Catalyst must rewrite every subquery shape into a join — a surviving
    nested-loop re-evaluation would be O(n·m) at scale."""
    plan = _plan(spark, sf_dir, "correlated_scalar_brand_premium")
    assert re.search(r"SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin", plan), plan[:500]
    plan = _plan(spark, sf_dir, "in_subquery_nations")
    assert "LeftSemi" in plan, "IN must plan as left-semi"
    plan = _plan(spark, sf_dir, "not_exists_big_order")
    assert "LeftAnti" in plan, "NOT EXISTS must plan as left-anti"
    # The order filter must be pushed below the anti join into the scan.
    assert re.search(r"PushedFilters: \[.*o_totalprice", plan), "filter not pushed"


def test_repetition_score_is_shuffle_free(spark, sf_dir):
    """E18 is a pure projection: any Exchange in the plan is a regression
    (the final orderBy is the single allowed rangepartitioning sort)."""
    plan = _plan(spark, sf_dir, "repetition_score")
    assert "Exchange hashpartitioning" not in plan, plan[:800]
    # JVM-side HOF expressions, not Python rows: no Arrow/pickle boundary.
    assert "EvalPython" not in plan


def test_sequence_packing_partitions_by_shard(spark, sf_dir):
    """E19's window must hash-partition on the lang shard key, not collapse
    to a single global partition."""
    plan = _plan(spark, sf_dir, "sequence_packing")
    assert re.search(r"hashpartitioning\(lang", plan), "window not sharded by lang"
    assert "SinglePartition" not in plan.split("AdaptiveSparkPlan")[0], plan[:400]


def test_boilerplate_single_df_shuffle(spark, sf_dir):
    """E17: the n-gram document-frequency table is built with a partial
    (map-side) aggregate before its exchange."""
    plan = _plan(spark, sf_dir, "boilerplate_ngram_flags")
    assert "partial_count" in plan, "missing map-side combine on the DF table"


def test_partitioned_read_prunes_partitions(spark, sf_dir):
    """A filter on the Hive partition column must prune at PLANNING time:
    PartitionFilters carries the predicate and the scan reads only the
    matching directory — the file-skipping that makes S7's layout pay off
    at scale."""
    from big_data__instagram_analysis_spark.io import load
    from big_data__instagram_analysis_spark.sources.readers_writers import (
        roundtrip_partitioned,
    )
    from pyspark.sql import functions as F

    e = load(spark, sf_dir, "events").select("event_id", "event_type", "value")
    back = roundtrip_partitioned(e, spark, "part_events_prune", sf_dir, "event_type")
    filtered = back.filter(F.col("event_type") == "purchase")
    plan = spark._jvm.PythonSQLUtils.explainString(
        filtered._jdf.queryExecution(), "formatted"
    )
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "event_type" in m.group(1), plan[:2000]
    # And the pruned count matches the unpruned filter.
    assert filtered.count() == e.filter(F.col("event_type") == "purchase").count()


def test_sql_join_hints_steer_strategy(spark, sf_dir):
    """SQL hints must reach the planner: MERGE forces sort-merge where
    broadcast would win; BROADCAST forces the build side."""
    from big_data__instagram_analysis_spark.io import register_views

    register_views(spark, sf_dir)
    merge_plan = spark.sql(
        """SELECT /*+ MERGE(n) */ c.c_custkey, n.n_name
           FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey"""
    )._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in merge_plan, merge_plan[:1200]
    bcast_plan = spark.sql(
        """SELECT /*+ BROADCAST(n) */ c.c_custkey, n.n_name
           FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey"""
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in bcast_plan, bcast_plan[:1200]


def test_skyline_is_window_not_join(spark, sf_dir):
    """The per-brand skyline must plan as a partitioned sort + window pass —
    never a pair join (the NOT-EXISTS oracle form is quadratic and would
    show up as a nested-loop or cartesian join)."""
    plan = _plan(spark, sf_dir, "skyline_pareto_brand")
    assert "Window" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan


def test_histogram_partial_aggregates_before_shuffle(spark, sf_dir):
    """Fixed-bin histogram must map-side combine (≤10 rows cross the wire
    per partition) and take its total from a broadcast, not a
    single-partition window."""
    plan = _plan(spark, sf_dir, "histogram_fixed_bins")
    assert "partial_count" in plan
    assert "Window" not in plan


def test_decayed_score_single_shuffle(spark, sf_dir):
    """The fixed-point decay score is a plain SUM: one hash aggregate pair
    (partial + final), no join, no window."""
    plan = _plan(spark, sf_dir, "decayed_engagement_fixedpoint")
    assert "partial_sum" in plan
    assert "Join" not in plan
    assert "Window" not in plan


def test_editdist_pairs_equi_join_not_cartesian(spark, sf_dir):
    """Deletion-neighborhood fuzzy matching must plan as an equi-join on
    the variant key — an all-pairs levenshtein (what the oracle does)
    would appear as a cartesian/NLJ and cannot scale."""
    plan = _plan(spark, sf_dir, "editdist1_name_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_mixture_quota_uses_window_group_limit(spark, sf_dir):
    """Quota selection is a rank predicate — Spark should push it into the
    window sort buffer (WindowGroupLimit) so only ~quota rows per lang
    survive, instead of ranking every row."""
    plan = _plan(spark, sf_dir, "dataset_mixture_quota")
    assert "WindowGroupLimit" in plan


def test_bilateral_trade_broadcasts_all_dims(spark, sf_dir):
    """Six-table Q7-style join: supplier and both nation aliases must be
    broadcast; no cartesian/NLJ anywhere. The only allowed shuffle joins
    are lineitem⋈orders(⋈customer) — the fact side."""
    plan = _plan(spark, sf_dir, "bilateral_trade_volume")
    assert plan.count("BroadcastHashJoin") >= 3, plan[:400]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sql_udf_is_inlined(spark, sf_dir):
    """A SQL UDF must vanish at analysis time — the physical plan contains
    the inlined least() expression, no Python eval operator."""
    plan = _plan(spark, sf_dir, "sql_udf_tiered_discount")
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "partial_sum" in plan


def test_join_hints_pin_strategies(spark, sf_dir):
    """MERGE and SHUFFLE_HASH hints must surface as SortMergeJoin and
    ShuffledHashJoin in the pre-AQE plan — and suppress the broadcast
    conversion cost estimation would otherwise pick at this size."""
    from big_data__instagram_analysis_spark.registry import get_specs

    df = get_specs()["join_hints_strategies"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().sparkPlan().toString()
    assert "SortMergeJoin" in plan, plan[:400]
    assert "ShuffledHashJoin" in plan, plan[:400]
    assert "BroadcastHashJoin" not in plan, plan[:400]


def test_cached_dim_reuse_hits_memory_cache(spark, sf_dir):
    """Both branches of the union must read the dim from the columnar cache
    (InMemoryTableScan), not re-join parquet twice."""
    plan = _plan(spark, sf_dir, "cached_dim_reuse")
    assert plan.count("InMemoryTableScan") >= 2, plan[:600]


def test_distribute_sort_by_is_partition_local(spark, sf_dir):
    """DISTRIBUTE BY must hash-exchange; SORT BY must stay partition-local
    (no range exchange = no global sort)."""
    plan = _plan(spark, sf_dir, "distribute_sort_by_layout")
    assert "hashpartitioning(l_suppkey" in plan, plan[:600]
    assert "rangepartitioning" not in plan.lower(), "SORT BY planned a global sort"


def test_date_spine_broadcasts_daily_agg(spark, sf_dir):
    """The spine join must broadcast (tiny calendar), never shuffle the
    aggregated fact side by date."""
    plan = _plan(spark, sf_dir, "date_spine_gap_fill")
    assert "BroadcastHashJoin" in plan, plan[:600]


# --- Round-3 third wave (E140-E175) ------------------------------------------


def test_q17_decorrelates_to_single_partkey_shuffle(spark, sf_dir):
    """E140: the correlated AVG must become an aggregate + equi-join on
    l_partkey — no NLJ / cartesian, and the quantity range condition rides
    the hash join as a residual, not a join strategy."""
    plan = _plan(spark, sf_dir, "small_qty_revenue_q17")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_avg" in plan, "per-part AVG should pre-aggregate map-side"


def test_q21_semi_and_anti_are_hash_joins(spark, sf_dir):
    """E142: both correlations must plan as equi-keyed (semi/anti) hash
    joins on l_orderkey with the supplier inequality as a residual —
    an NLJ here would be quadratic in lineitem."""
    plan = _plan(spark, sf_dir, "sole_returned_supplier_q21")
    assert "LeftSemi" in plan and "LeftAnti" in plan, plan[:400]
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q18_aggregates_lineitem_once(spark, sf_dir):
    """E141: the decorrelated form computes the per-order quantity sum ONCE
    (one pair of partial/final aggs over lineitem), where the nested oracle
    form scans lineitem twice."""
    plan = _plan(spark, sf_dir, "large_volume_orders_q18")
    # Exactly one scan of the lineitem parquet file.
    assert plan.count("lineitem.parquet") == 1, plan.count("lineitem.parquet")
    assert "TakeOrderedAndProject" in plan


def test_share_of_parent_single_fact_scan(spark, sf_dir):
    """E175: parent totals must derive from the child aggregate via
    windows — exactly one lineitem scan, dims broadcast."""
    plan = _plan(spark, sf_dir, "share_of_parent_revenue")
    assert plan.count("lineitem.parquet") == 1, plan.count("lineitem.parquet")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_bm25_broadcasts_stats_not_corpus(spark, sf_dir):
    """E148: df (3 rows) and corpus stats (1 row) must be broadcast sides;
    the only full-data shuffle is the per-doc aggregation."""
    plan = _plan(spark, sf_dir, "bm25_rational_topdocs")
    assert "BroadcastExchange" in plan
    assert "TakeOrderedAndProject" in plan, "top-20 must plan as top-k"


def test_filtered_ann_prunes_before_matmul(spark, sf_dir):
    """E146: the label predicate must reach the corpus parquet scan feeding
    mapInPandas — post-filtering after distance math would waste the
    matmul on ineligible vectors."""
    plan = _plan(spark, sf_dir, "ann_filtered_topk")
    assert "MapInPandas" in plan
    # The modulo predicate must appear in the plan segment BEFORE the first
    # MapInPandas operator id — i.e. on the scan side of the Python boundary.
    m = re.search(r"\((\d+)\) MapInPandas", plan)
    assert m, plan[:300]
    cond = re.search(r"label#\d+ % 3", plan)
    assert cond, "label % 3 filter missing from the plan entirely"
    mod_line_pos = cond.start()
    # The condition is attached to a numbered Filter node; that node's id
    # must be smaller than the MapInPandas id (formatted plans number
    # operators bottom-up from the scan).
    filt = re.search(r"\((\d+)\) Filter", plan[: mod_line_pos + 200])
    assert filt and int(filt.group(1)) < int(m.group(1)), (
        "label filter must sit below the Python mapper"
    )


def test_rolling_median_single_window_shuffle(spark, sf_dir):
    """E161: one Window over one exchange on event_type — a second exchange
    would mean the frame computation re-shuffles."""
    plan = _plan(spark, sf_dir, "rolling_median_value")
    assert "Window" in plan
    assert plan.count("Exchange hashpartitioning") <= 1, plan.count(
        "Exchange hashpartitioning"
    )



def test_aqe_converts_filtered_side_to_broadcast(spark, sf_dir):
    """AQE must re-plan a statically-SMJ join to broadcast at RUNTIME when
    the filtered side turns out tiny — the adaptive behavior a 100 TB
    deployment leans on when static stats mislead. Checked on the FINAL
    adaptive plan after execution."""
    from big_data__instagram_analysis_spark.io import load
    from pyspark.sql import functions as F

    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    # Static threshold off → planner starts with SMJ; AQE local threshold on.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "10m")
    try:
        tiny = o.where(F.col("o_totalprice") > 400000).select("o_orderkey")
        j = li.join(tiny, li.l_orderkey == tiny.o_orderkey).agg(
            F.count(F.lit(1))
        )
        j.collect()  # run so AQE finalizes
        final = j._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in final, final[:600]
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def test_interval_overlap_is_equi_join_on_cell(spark, sf_dir):
    """E206: the interval×interval overlap must execute as an EQUI-join on
    the grid cell (hash/broadcast join with the overlap test as residual)
    — a surviving NLJ/cartesian would be the quadratic theta join the
    rewrite exists to avoid."""
    plan = _plan(spark, sf_dir, "interval_overlap_sessions")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert re.search(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)", plan), plan[:400]


def test_minhash_band_join_is_equi_keyed(spark, sf_dir):
    """Round-4 minhash rewrite: candidate generation must be an EQUI-join on
    (band, signature value) — a cartesian/NLJ would be the |N|^2 pair space
    banding exists to avoid — and the whole plan must stay off pyspark.ml
    (no vector-type UDF scoring)."""
    plan = _plan(spark, sf_dir, "minhash_lsh_neardup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert re.search(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)", plan), plan[:400]


def test_simhash_has_no_row_expansion_join(spark, sf_dir):
    """Round-4 simhash rewrite: the 60-bit vote computation must NOT
    broadcast-join a bit table (the 60x row expansion); fingerprints come
    from ONE aggregate over the token rows — so the fingerprint plan
    contains no join at all."""
    plan = _plan(spark, sf_dir, "simhash_docs")
    assert "Join" not in plan, plan[:600]
    assert "HashAggregate" in plan


def test_lsh_bucketed_scores_in_grouped_pandas(spark, sf_dir):
    """Round-4 LSH rewrite: per-bucket scoring must run as grouped-map
    pandas (FlatMapGroupsInPandas) after a shuffle on the bucket key —
    never a row-level self-join on (band, bucket), which materializes
    tens of millions of candidate rows on low-selectivity buckets."""
    plan = _plan(spark, sf_dir, "ann_lsh_bucketed")
    assert "FlatMapGroupsInPandas" in plan, plan[:600]
    assert "CartesianProduct" not in plan


def test_kmeans_assign_is_arrow_map_not_hof_join(spark, sf_dir, monkeypatch):
    """Round-4 Lloyd rewrite: on the distributed rounds (forced here by a
    zero local bound) the assign step must be a mapInPandas pass
    (MapInPandas in the plan) with NO join against a centroid table —
    vectors never shuffle for assignment. At fixture scale the default
    local finish returns the assignments as a LocalTableScan with no Python
    operator."""
    from big_data__instagram_analysis_spark.io import load
    from big_data__instagram_analysis_spark.operators import clustering

    def formatted(df):
        return spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )

    emb = load(spark, sf_dir, "embeddings")
    with monkeypatch.context() as m:
        m.setattr(clustering, "LOCAL_KMEANS_MAX_VALUES", 0)
        assigned, _ = clustering.kmeans_lloyd(emb, k=4, iterations=1)
    plan = formatted(assigned)
    assert "MapInPandas" in plan, plan[:600]
    assert "Join" not in plan, plan[:600]
    assigned, _ = clustering.kmeans_lloyd(emb, k=4, iterations=1)
    plan = formatted(assigned)
    assert "LocalTableScan" in plan, plan[:600]
    assert "MapInPandas" not in plan, plan[:600]


#: Physical operators that run Python worker tasks.
_PYTHON_OPERATORS = (
    "MapInPandas",
    "MapInArrow",
    "ArrowEvalPython",
    "BatchEvalPython",
    "FlatMapGroupsInPandas",
)


@pytest.mark.parametrize("name", ["kmeans_clusters", "curation_pipeline"])
def test_iterative_queries_start_no_python_worker(spark, name):
    """At sf0.01 every SQL execution that building and collecting the
    iterative workload's queries runs plans no Python operator: k-means and
    connected components finish on the driver, and their driver-built
    frames are LocalTableScans."""
    sf = os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.01")
    plans, _ = _executions_during(
        spark, lambda: get_specs()[name].fn(spark, sf).toPandas()
    )
    assert plans, name
    for plan in plans:
        for op in _PYTHON_OPERATORS:
            assert op not in plan, f"{name}: {op}\n{plan[:800]}"


def test_dsir_broadcasts_model_and_takeordered_topk(spark, sf_dir):
    """E225: the 512-row λ model must broadcast (scoring is a map-side
    join over the 100 TB side) and the top-50 must plan as
    TakeOrderedAndProject, never a global sort."""
    plan = _plan(spark, sf_dir, "dsir_importance_topdocs")
    assert "BroadcastHashJoin" in plan, plan[:1500]
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_temperature_mixture_is_integer_exact(spark, sf_dir):
    """E226 invariants: allocations are nonnegative integers, never exceed
    the budget in total, and small sources get >= the proportional share
    (alpha=0.5 flattens toward uniform — the whole point of temperature
    sampling)."""
    from big_data__instagram_analysis_spark.queries.retrieval import (
        MIXTURE_TOKEN_BUDGET,
    )

    out = (
        get_specs()["temperature_mixture_allocation"].fn(spark, sf_dir).toPandas()
    )
    assert (out["alloc_tokens"] >= 0).all()
    assert out["alloc_tokens"].sum() <= MIXTURE_TOKEN_BUDGET
    tok_total = out["n_tokens"].sum()
    smallest = out.loc[out["n_tokens"].idxmin()]
    prop_share = MIXTURE_TOKEN_BUDGET * smallest["n_tokens"] / tok_total
    assert smallest["alloc_tokens"] >= prop_share


def test_perplexity_band_keeps_inner_deciles(spark, sf_dir):
    """E227: per source, kept = docs in deciles 2..9; with n docs ntile
    puts ceil/floor(n/10)-sized tiles, so kept is n - tile1 - tile10
    exactly — recompute from n_docs and compare."""
    out = get_specs()["perplexity_band_prune"].fn(spark, sf_dir).toPandas()
    for _, r in out.iterrows():
        n = int(r["n_docs"])
        big = n % 10  # first (n mod 10) tiles get one extra row
        t1 = n // 10 + (1 if big >= 1 else 0)
        t10 = n // 10 + (1 if big >= 10 else 0)
        assert int(r["n_kept"]) == n - t1 - t10, r
        assert r["kept_min_nlp"] <= r["kept_max_nlp"]


def test_oov_vocab_broadcasts_and_topv_is_takeordered(spark, sf_dir):
    """E228: vocab = TakeOrderedAndProject (V-row merge), scoring joins
    it broadcast — the token stream never shuffles for the join."""
    plan = _plan(spark, sf_dir, "oov_rate_by_source")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_curation_funnel_is_single_pass(spark, sf_dir):
    """E230: the funnel is one scan + one global aggregate — the only
    exchanges are the 1-row partial-agg merge and the 5-row final sort;
    no join, no window, nothing data-sized shuffles."""
    plan = _plan(spark, sf_dir, "curation_funnel")
    assert plan.count("Exchange") <= 2, plan[:1200]
    assert "Join" not in plan
    # Two-phase agg: partials collapse each task to one row pre-shuffle.
    assert "partial_count" in plan or "partial_sum" in plan


def test_length_drift_ks_matches_scipy_shape(spark, sf_dir):
    """E229 cross-check: ks_ppm equals the classical two-sample KS
    statistic computed brute-force in python for one source."""
    import numpy as np

    d = load(spark, sf_dir, "documents").select("source", "n_chars").toPandas()
    out = get_specs()["length_drift_ks"].fn(spark, sf_dir).toPandas()
    src = out["source"].iloc[0]
    a = np.sort(d.loc[d["source"] == src, "n_chars"].to_numpy())
    b = np.sort(d.loc[d["source"] != src, "n_chars"].to_numpy())
    grid = np.unique(np.concatenate([a, b]))
    ca = np.searchsorted(a, grid, side="right")
    cb = np.searchsorted(b, grid, side="right")
    d_raw = np.abs(ca * len(b) - cb * len(a)).max()
    want = (int(d_raw) * 1_000_000) // (len(a) * len(b))
    got = int(out.loc[out["source"] == src, "ks_ppm"].iloc[0])
    assert got == want


@pytest.mark.parametrize(
    "name",
    [
        "winnow_match_pairs",
        "ingest_neardup_gate",
        "image_ahash_neardup",
        "audio_fingerprint_neardup",
        "hard_negative_mining",
    ],
)
def test_pair_operators_never_plan_nested_loops(spark, sf_dir, name):
    """The round-6 pair operators all generate candidates through an
    equi-join (fingerprint / band / class key) with the a<b ordering as a
    residual condition — Catalyst must plan a hash or sort-merge join. A
    refactor that loses the equi key degrades to BroadcastNestedLoopJoin /
    CartesianProduct: quadratic pair materialization that still passes
    parity at sf0.01 but is the canonical 100 TB scale-killer."""
    plan = _plan(spark, sf_dir, name).lower()
    assert "cartesianproduct" not in plan, name
    assert "broadcastnestedloop" not in plan, name


def test_winnow_match_pairs_checkpoints_the_culled_frame(spark, sf_dir):
    """The df-culled fingerprint frame must be a truncated lineage (one
    materialization of the winnow core reused by nr and both self-join
    sides) — if the localCheckpoint disappears, the interpreted HOF core
    recomputes per branch (~4x wall, PERF §43)."""
    df = get_specs()["winnow_match_pairs"].fn(spark, sf_dir)
    plan = spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    ).lower()
    assert "scan existingrdd" in plan or "logicalrdd" in plan, plan[:500]


def test_corpus_pair_joins_never_broadcast_the_shingle_frame(spark, sf_dir):
    """r8: the checkpointed shingle/fingerprint frames carry static size
    estimates ~50x under true size (posexplode expansion unmodeled), and a
    statically chosen broadcast cannot be demoted by AQE — at the x10 tier
    this OOM'd a default-size driver. These frame joins are merge-hinted;
    a refactor that drops the hint re-opens the scale hazard while still
    passing parity, so pin the physical shape here. (The shared-shingle
    pair family is pinned by test_shingle_pair_core_plan_shape.)"""
    for name in ("winnow_match_pairs", "boilerplate_ngram_flags"):
        plan = _plan(spark, sf_dir, name)
        assert "SortMergeJoin" in plan, (name, plan[:600])


#: Registered queries built on operators/dedup.shingle_pair_counts.
SHINGLE_PAIR_CONSUMERS = (
    "ngram_jaccard_neardup",
    "containment_neardup_pairs",
    "neardup_threshold_sweep",
    "ngram_jaccard_dfcap",
    "source_overlap_matrix",
    "neardup_cluster_quality",
    "dedup_governance_rollup",
    "dedup_governance_pipeline",
    "minhash_banding_recall_curve",
    "neardup_cc_clusters",
    "dedup_keep_best_survivors",
    "split_leakage_audit",
    "curation_pipeline",
)
#: Registered queries built on operators/dedup.minhash_verified_pairs.
MINHASH_VERIFY_CONSUMERS = ("minhash_lsh_neardup", "minhash_lsh_dfcap")


def _executions_during(spark, run):
    """(formatted plans of every SQL execution ``run()`` started, its result)."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def executions():
        bus.waitUntilEmpty()
        xs = store.executionsList()
        return [xs.apply(i) for i in range(xs.size())]

    seen = {x.executionId() for x in executions()}
    result = run()
    ran = [
        x.physicalPlanDescription()
        for x in executions()
        if x.executionId() not in seen
    ]
    return ran, result


def _built_plans(spark, sf_dir, name: str) -> list[str]:
    """Formatted plans of every SQL execution that building ``name`` ran
    (eager checkpoints, connected-component rounds, lazy checkpoints'
    plans) followed by the returned plan. Several consumers read the pair
    frame only through such an execution, so their returned plan alone
    never shows the pair join."""
    ran, df = _executions_during(spark, lambda: get_specs()[name].fn(spark, sf_dir))
    return ran + [
        spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    ]


#: A join node of the formatted explain whose keys are the shingle alone.
_SHINGLE_KEYED = r"\(\d+\) {join}[^\n]*\nLeft keys \[1\]: \[s#"


@pytest.mark.parametrize("name", SHINGLE_PAIR_CONSUMERS + MINHASH_VERIFY_CONSUMERS)
def test_shingle_pair_core_plan_shape(spark, sf_dir, name):
    """Every consumer of the two pair cores keeps their scale shape.

    - shingle_pair_counts: the shingle self-join is a ShuffledHashJoin
      (both sides grow with the corpus: broadcast would OOM, sort-merge
      pays two corpus-scale sorts), never a SortMergeJoin.
    - minhash_verified_pairs: the band join and both verify joins are
      ShuffledHashJoins and nothing is broadcast (PERF.md §52/§56).
    - No cartesian product or nested-loop join anywhere, except the 1-row
      n_truth scalar of minhash_banding_recall_curve's returned plan
      (pinned by test_round12_dedup_additions_plan_shape).
    """
    plans = _built_plans(spark, sf_dir, name)
    for plan in plans:
        assert "CartesianProduct" not in plan, f"{name}: cartesian product"
    nlj_free = plans[:-1] if name == "minhash_banding_recall_curve" else plans
    for plan in nlj_free:
        assert "BroadcastNestedLoopJoin" not in plan, f"{name}: NLJ"
    if name in MINHASH_VERIFY_CONSUMERS:
        plan = plans[-1]
        assert len(set(re.findall(r"\((\d+)\) ShuffledHashJoin", plan))) >= 3, plan[:800]
        assert "BroadcastHashJoin" not in plan, plan[:800]
        return
    shj = _SHINGLE_KEYED.format(join="ShuffledHashJoin")
    assert any(re.search(shj, p) for p in plans), f"{name}: no shingle-keyed SHJ"
    smj = _SHINGLE_KEYED.format(join="SortMergeJoin")
    assert not any(re.search(smj, p) for p in plans), f"{name}: shingle-keyed SMJ"


# ---------------------------------------------------------------------------
# ops_gates (E255, E258-E264) — the merge-vs-broadcast lessons as assertions
# ---------------------------------------------------------------------------


def test_ngram_novelty_df_join_is_smj_not_broadcast(spark, sf_dir):
    """PERF.md §54: the shingle⋈df join OOM'd the x10 tier twice — once as
    an AQE broadcast of the corpus-growing df side, once as an SHJ whose
    coalesced build map couldn't spill. It must stay sort-merge."""
    plan = _plan(spark, sf_dir, "ngram_novelty_by_source")
    assert "SortMergeJoin" in plan, plan[:500]
    assert "BroadcastHashJoin" not in plan, (
        "no side of the novelty join is broadcast-safe: " + plan[:500]
    )


def test_bigram_surprisal_model_joins_never_broadcast_vocab(spark, sf_dir):
    """The unigram/bigram model tables Heaps-grow with the corpus; only the
    |sources|-row ns total may broadcast."""
    plan = _plan(spark, sf_dir, "bigram_backoff_surprisal")
    assert "SortMergeJoin" in plan, plan[:500]
    # exactly one broadcast: the |sources|-row ns join (formatted explain
    # names each node once in the tree and once in the detail section, so
    # count distinct node ids, not substring hits)
    bhjs = re.findall(r"\(\d+\) BroadcastHashJoin", plan)
    assert len(bhjs) <= 1, plan[:800]


def test_exact_quantile_pass2_prunes_to_candidate_buckets(spark, sf_dir):
    """The RETURNED plan is pass 2 only (pass 1's histogram ran eagerly at
    build time — its own partial agg is covered by the bounded-collect
    contract): it must filter to the candidate buckets BEFORE the
    per-percentile window, and never cross-join."""
    plan = _plan(spark, sf_dir, "exact_quantile_selection")
    assert "Window" in plan, plan[:400]
    # the bucket prune must sit BELOW the window in the tree (higher node
    # id = deeper): a Filter node appears after the Window's tree line
    tree_window = plan.index("Window")
    assert "Filter" in plan[tree_window:], plan[:600]
    assert "CartesianProduct" not in plan


def test_consistent_hash_ring_lookup_is_in_row(spark, sf_dir):
    """The ring successor lookup is an array filter inside the project —
    no join of docs against ring points, no shuffle before the
    |shards|-row agg."""
    plan = _plan(spark, sf_dir, "consistent_hash_rebalance")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan, (
        "ring lookup must not become a join: " + plan[:500]
    )


def test_zonemap_aggs_are_partial(spark, sf_dir):
    plan = _plan(spark, sf_dir, "zonemap_skip_rate")
    assert "partial_min" in plan or "partial_count" in plan, plan[:500]


def test_join_cardinality_never_runs_the_join(spark, sf_dir):
    """The estimator joins the two COUNT tables (|keys| rows each), never
    the fact tables themselves: the plan must aggregate BEFORE any join.

    ADVICE r9: existence of both node kinds was too weak — a regression
    that joined the raw facts and aggregated afterwards would still have
    had both. The tree section prints parent-first, so "aggregation feeds
    the join" means some HashAggregate appears BELOW (after) the first
    join in the tree; a facts-first join would leave every agg above it."""
    plan = _plan(spark, sf_dir, "join_cardinality_estimate")
    import re as _re

    tree = plan.split("\n\n")[0]  # node-details section repeats the names
    joins = [m.start() for m in _re.finditer(r"SortMergeJoin|ShuffledHashJoin", tree)]
    aggs = [m.start() for m in _re.finditer(r"HashAggregate", tree)]
    assert aggs and joins, plan[:400]
    assert max(aggs) > min(joins), (
        "no aggregate below the join — the plan joins raw fact rows:\n" + tree
    )


def test_k_anonymity_dim_join_is_smj(spark, sf_dir):
    """customer grows with SF — the QI join must not broadcast it."""
    plan = _plan(spark, sf_dir, "k_anonymity_audit")
    assert "SortMergeJoin" in plan, plan[:400]
    assert "BroadcastHashJoin" not in plan, plan[:400]


def test_rle_audit_windows_are_per_file_sorts(spark, sf_dir):
    """Run counting must be partitioned window sorts, never a global sort
    feeding one window."""
    plan = _plan(spark, sf_dir, "rle_sortedness_audit")
    assert "Window" in plan, plan[:400]
    assert "CartesianProduct" not in plan


#: Queries whose join build side is a VOCABULARY-derived frame (term→df,
#: unigram freq, PMI marginals). Vocabulary grows ~n^0.5 with the corpus
#: (Heaps — the repo's own E256 audit), so at 100 TB these tables hold
#: 10^8+ rows and a forced broadcast is a guaranteed OOM (VERDICT r9 #3).
VOCAB_JOIN_QUERIES = (
    "tfidf_top_terms",
    "unigram_logprob_score",
    "perplexity_band_prune",
    "token_skipgram_pmi",
)


def test_vocab_joins_carry_no_forced_broadcast_hint(spark, sf_dir):
    """No BROADCAST-strategy hint in the analyzed plan of any vocab-join
    query.

    A `F.broadcast()` hint is STATS-IMMUNE: the planner obeys it at any
    size, which is how four vocab-sized broadcasts shipped green for two
    rounds (the fixture vocabulary is 31-54 types — VERDICT r9 #3).
    Unhinted, the decision rides on size estimates that grow linearly
    with corpus bytes, so the same code broadcasts only while the table
    measurably fits. A SHUFFLE_HASH hint is the opposite hazard class —
    its build side is |V|/num_partitions rows, bounded at any corpus —
    and is allowed (round 11: token_skipgram_pmi carries one on each
    marginal join to drop two corpus-scale sorts; the threshold=-1
    behavioral test below still pins that no broadcast can sneak back)."""
    import re as _re

    for name in VOCAB_JOIN_QUERIES:
        df = get_specs()[name].fn(spark, sf_dir)
        analyzed = df._jdf.queryExecution().analyzed().toString()
        hints = _re.findall(r"ResolvedHint \(strategy=(\w+)", analyzed)
        assert all(h == "shuffle_hash" for h in hints), (
            f"{name}: forced non-SHJ join-strategy hint on a vocab-derived "
            f"frame (strategies={hints}):\n" + analyzed[:600]
        )


def test_vocab_joins_respect_broadcast_threshold(spark, sf_dir):
    """With broadcasts conf-disabled, no vocab query may still plan one.

    This is the behavioral half of the hint check: `F.broadcast()`
    overrides `autoBroadcastJoinThreshold`, so a reintroduced hint fails
    here even though the stats-driven plan at bench tier legitimately
    broadcasts (the vocab frame genuinely fits). threshold=-1 simulates
    "the estimate says too big" — exactly the 100 TB planner state."""
    from big_data__instagram_analysis_spark.session import RUNTIME_CONF

    key = "spark.sql.autoBroadcastJoinThreshold"
    prior = spark.conf.get(key)
    prior_rt = RUNTIME_CONF.get(key)
    # Query fns re-apply RUNTIME_CONF via tune(), so override both layers.
    RUNTIME_CONF[key] = "-1"
    spark.conf.set(key, "-1")
    try:
        for name in VOCAB_JOIN_QUERIES:
            plan = _plan(spark, sf_dir, name)
            assert "BroadcastHashJoin" not in plan, (
                f"{name}: broadcast survives threshold=-1 — a forced hint "
                "is back on a vocab-derived frame:\n" + plan[:600]
            )
    finally:
        RUNTIME_CONF[key] = prior_rt
        spark.conf.set(key, prior)


def test_round12_dedup_additions_plan_shape(spark, sf_dir):
    """Round-12 L2 additions keep the family's scale shapes (their pair
    blocks are pinned by test_shingle_pair_core_plan_shape).

    - dedup_governance_pipeline: no cartesian/NLJ anywhere in the
      returned chain.
    - minhash_banding_recall_curve: the ONLY nested-loop join is the 1-row
      n_truth scalar broadcast (the documented crossJoin-scalar idiom);
      the band self-join shuffles, never broadcasts a growing side.
    """
    plan = _plan(spark, sf_dir, "dedup_governance_pipeline")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    plan = _plan(spark, sf_dir, "minhash_banding_recall_curve")
    assert "CartesianProduct" not in plan
    # Formatted explain prints each node twice (tree + detail): count
    # distinct node ids, not substring hits.
    nlj_nodes = set(re.findall(r"\((\d+)\) BroadcastNestedLoopJoin", plan))
    assert len(nlj_nodes) <= 1, "only the 1-row n_truth scalar may NLJ"
    assert "ShuffledHashJoin" in plan, "band self-join must shuffle"
