"""Property and plan tests for the E25-E33 scale-pattern operators.

Parity vs DuckDB is covered by tests/test_parity.py (the queries register
SQL oracles); these tests pin the properties parity can't see — Bloom
filter guarantees, HLL error bounds, session invariants, and the physical
plans the operators must keep at scale.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from big_data__instagram_analysis_spark.io import DEFAULT_SF_DIR, load
from big_data__instagram_analysis_spark.operators.bloom import (
    bloom_prune,
    build_bloom,
    might_contain,
)
from big_data__instagram_analysis_spark.operators import clustering
from big_data__instagram_analysis_spark.registry import get_specs


def test_bloom_no_false_negatives(spark):
    """Every inserted key must probe True — the correctness contract."""
    keys = spark.range(0, 2000).select((F.col("id") * 37 + 11).alias("k"))
    words = build_bloom(keys, "k", num_bits=1 << 14)
    hits = keys.filter(
        might_contain(F.col("k"), words, num_bits=1 << 14)
    ).count()
    assert hits == 2000


def test_bloom_false_positive_rate_sane(spark):
    """Non-members should mostly probe False (fpp well under 5% at m/n=8)."""
    keys = spark.range(0, 2000).select(F.col("id").alias("k"))
    words = build_bloom(keys, "k", num_bits=1 << 14)
    probes = spark.range(1_000_000, 1_010_000).select(F.col("id").alias("k"))
    fp = probes.filter(might_contain(F.col("k"), words, num_bits=1 << 14)).count()
    assert fp / 10_000 < 0.05, f"fpp {fp / 10_000:.3f}"


def test_bloom_prune_superset_of_matches(spark, sf_dir):
    """Pruned rows ⊇ exact semi-join rows and ⊆ the full fact table."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 450000).select(
        "o_orderkey"
    )
    li = load(spark, sf_dir, "lineitem")
    pruned = bloom_prune(li, "l_orderkey", o, "o_orderkey")
    exact = li.join(o, li.l_orderkey == o.o_orderkey, "left_semi")
    n_all, n_pruned, n_exact = li.count(), pruned.count(), exact.count()
    assert n_exact <= n_pruned <= n_all
    # The whole point: pruning must actually drop the bulk of non-matches.
    assert n_pruned < 0.5 * n_all, (n_pruned, n_all)


def test_bloom_prune_is_scan_side_filter(spark, sf_dir):
    """The Bloom test must plan as a Filter over the scan (pre-shuffle),
    not as any kind of join."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 450000).select(
        "o_orderkey"
    )
    li = load(spark, sf_dir, "lineitem")
    pruned = bloom_prune(li, "l_orderkey", o, "o_orderkey")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    assert "xxhash64" in plan.lower()


def test_hll_estimate_within_tolerance(spark, sf_dir):
    """HLL union estimate within ±5% of the exact distinct count (lgK=12
    rse ≈ 1.6%, so 5% is a loose, stable bound)."""
    row = get_specs()["hll_sketch_rollup"].fn(spark, sf_dir).collect()[0]
    exact = (
        load(spark, sf_dir, "events").select("user_id").distinct().count()
    )
    assert row["exact_distinct_users"] == exact
    assert row["within_5pct"] is True, row


def test_sessionize_invariants(spark, sf_dir):
    """Sessions tile each user's events: counts sum to the user's events,
    ids are 1..k dense, spans are non-negative."""
    sess = get_specs()["sessionize_events"].fn(spark, sf_dir).collect()
    ev = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    per_user_events = {r["user_id"]: r["n"] for r in ev}
    per_user_sess: dict[int, list] = {}
    for r in sess:
        per_user_sess.setdefault(r["user_id"], []).append(r)
        assert r["span_s"] >= 0
        assert r["n_events"] >= 1
    for uid, rows in per_user_sess.items():
        assert sum(r["n_events"] for r in rows) == per_user_events[uid]
        ids = sorted(r["sess_id"] for r in rows)
        assert ids == list(range(1, len(ids) + 1)), f"user {uid}: {ids[:5]}"


def test_bitmap_distinct_single_shuffle_wordcount(spark, sf_dir):
    """The bitmap shuffle carries ≤ ceil(domain/64) words per day — the
    compression that makes it beat count(DISTINCT) at scale."""
    e = load(spark, sf_dir, "events")
    n_days = e.select((F.col("ts_ns") / F.lit(86_400_000_000_000)).cast("bigint")).distinct().count()
    max_user = e.agg(F.max("user_id")).collect()[0][0]
    words_upper = n_days * (max_user // 64 + 1)
    df = get_specs()["bitmap_distinct_daily"].fn(spark, sf_dir)
    assert df.count() == n_days
    # Recompute the intermediate word relation and bound its size.
    words = (
        e.select(
            (F.col("ts_ns") / F.lit(86_400_000_000_000)).cast("bigint").alias("d"),
            (F.col("user_id") / 64).cast("int").alias("b"),
        )
        .distinct()
        .count()
    )
    assert words <= words_upper


def test_partial_rollup_no_base_rescan(spark, sf_dir):
    """Monthly figures come from ONE scan: daily partials re-aggregate,
    the plan must not read lineitem twice."""
    df = get_specs()["partial_agg_rollup"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("lineitem.parquet") <= 1, plan


def test_gap_fill_no_nulls_and_dense(spark, sf_dir):
    """After forward fill no value is NULL (first grid hour always has an
    observation: spans start at each user's first event)."""
    rows = get_specs()["gap_fill_forward"].fn(spark, sf_dir).collect()
    assert rows, "gap fill returned nothing"
    by_user: dict[int, list[int]] = {}
    for r in rows:
        assert r["filled_value"] is not None
        by_user.setdefault(r["user_id"], []).append(r["hour_b"])
    for uid, hours in by_user.items():
        assert hours == list(range(hours[0], hours[0] + len(hours))), uid


def test_star_join_broadcasts_all_dims(spark, sf_dir):
    """Dimensions ride as broadcast hash joins; no cartesian/NLJ creeps in."""
    df = get_specs()["star_join_profit"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 3, plan[:2000]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # PROMO predicate must reach the part scan, not sit above the join.
    assert "PushedFilters" in plan and "p_type" in plan


def test_pagerank_is_probability_distribution(spark, sf_dir):
    """Symmetric co-activity graph has no dangling mass: ranks sum to 1."""
    rows = get_specs()["pagerank_coactivity"].fn(spark, sf_dir).collect()
    total = sum(r["rank"] for r in rows)
    assert abs(total - 1.0) < 1e-3, total
    assert all(r["rank"] > 0 for r in rows)


def test_pagerank_deterministic_across_runs(spark, sf_dir):
    a = get_specs()["pagerank_coactivity"].fn(spark, sf_dir).collect()
    b = get_specs()["pagerank_coactivity"].fn(spark, sf_dir).collect()
    assert [(r["user_id"], r["rank"]) for r in a] == [
        (r["user_id"], r["rank"]) for r in b
    ]


def test_approx_quantile_rank_error_bound(spark, sf_dir):
    """percentile_approx at accuracy=10000 is exact for groups under 10k
    rows — check each estimate against the true order statistics."""
    import bisect

    from big_data__instagram_analysis_spark.queries.scale_ops import (
        _approx_quantiles_by_type,
    )

    est = {
        r["event_type"]: r
        for r in _approx_quantiles_by_type(spark, sf_dir).collect()
    }
    vals = (
        load(spark, sf_dir, "events")
        .select("event_type", "value")
        .toPandas()
        .groupby("event_type")["value"]
        .apply(lambda s: sorted(s))
        .to_dict()
    )
    for et, sorted_vals in vals.items():
        n = len(sorted_vals)
        for p, col in [(0.5, "p50"), (0.9, "p90"), (0.99, "p99")]:
            # Allowed rank slack: n/accuracy, min 1 position.
            slack = max(1, int(n / 10000) + 1)
            target = round(est[et][col], 4)
            idx = bisect.bisect_left([round(v, 4) for v in sorted_vals], target)
            assert abs(idx - p * n) <= slack + 1, (et, col, idx, p * n)


def test_pq_codes_cover_all_vectors(spark, sf_dir):
    """Every vector gets exactly 8 subspace codes; codes stay in the label
    domain; errors are non-negative and never beat the own-label bound."""
    from big_data__instagram_analysis_spark.queries.scale_ops import (
        _pq_code_assignments,
    )

    emb = load(spark, sf_dir, "embeddings")
    n_vecs = emb.count()
    rows = _pq_code_assignments(spark, sf_dir).collect()
    labels = {r["label"] for r in emb.select("label").distinct().collect()}
    per_sub: dict[int, int] = {}
    for r in rows:
        assert r["code"] in labels
        assert 0 <= r["subspace"] <= 7
        assert 0 <= r["err"] <= r["own_err"] + 1e-9
        per_sub[r["subspace"]] = per_sub.get(r["subspace"], 0) + 1
    assert set(per_sub) == set(range(8))
    assert all(v == n_vecs for v in per_sub.values()), per_sub


def test_freq_items_one_sided_guarantee(spark, sf_dir):
    """Every segment truly above the support threshold must appear in the
    freqItems candidate set (false positives allowed, false negatives not),
    and the certified query must report exactly the truly-frequent set with
    its containment flag TRUE."""
    c = load(spark, sf_dir, "customer")
    n = c.count()
    counts = {
        r["c_mktsegment"]: r["cnt"]
        for r in c.groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    exact_frequent = sorted(s for s, cnt in counts.items() if cnt / n > 0.15)
    cands = set(
        c.stat.freqItems(["c_mktsegment"], support=0.15)
        .collect()[0]["c_mktsegment_freqItems"]
    )
    for seg in exact_frequent:
        assert seg in cands, (seg, counts[seg] / n, cands)
    row = get_specs()["freq_items_segment"].fn(spark, sf_dir).collect()[0]
    assert row["all_frequent_in_candidates"] is True
    assert row["frequent_csv"] == ",".join(exact_frequent)


def test_scd2_history_invariants(spark, sf_dir):
    """Each customer has exactly one open row; updated customers carry one
    closed generation-0 row whose balance is 100.00 below the open one."""
    rows = get_specs()["scd2_customer_history"].fn(spark, sf_dir).collect()
    by_cust: dict[int, list] = {}
    for r in rows:
        by_cust.setdefault(r["c_custkey"], []).append(r)
    for k, rs in by_cust.items():
        open_rows = [r for r in rs if r["valid_to"] is None]
        closed = [r for r in rs if r["valid_to"] is not None]
        assert len(open_rows) == 1, (k, rs)
        if k % 2 == 1 and k < 500:
            assert len(closed) == 1
            assert abs(open_rows[0]["acctbal"] - closed[0]["acctbal"] - 100.0) < 0.011
            assert open_rows[0]["valid_from"] == 1 and closed[0]["valid_from"] == 0
        else:
            assert not closed


def test_zorder_buckets_are_local_in_both_dims(spark, sf_dir):
    """Every 64-wide z-range spans ≤ 1/4 of each dimension's domain — the
    property that makes min/max file skipping work on BOTH columns."""
    rows = get_specs()["zorder_layout_quality"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["max_nation"] - r["min_nation"] <= 8, r
        assert r["max_bal"] - r["min_bal"] <= 8, r


def test_global_enumeration_avoids_single_partition_window(spark, sf_dir):
    """The whole point of E44: no stage may funnel all rows through one
    partition (which row_number() OVER (ORDER BY ...) would)."""
    df = get_specs()["global_row_enumeration"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # The window must partition by _pid, never run on SinglePartition.
    assert "Window" in plan
    window_section = plan[plan.index("Window"):]
    assert "SinglePartition" not in window_section.split("Exchange")[0], plan[:1500]


def test_global_enumeration_dense_and_ordered(spark, sf_dir):
    rows = get_specs()["global_row_enumeration"].fn(spark, sf_dir).collect()
    gids = [r["gid"] for r in rows]
    keys = [r["o_orderkey"] for r in rows]
    assert gids == list(range(1, len(rows) + 1))
    assert keys == sorted(keys)


def _executed_plan(spark, sf_dir, name: str) -> str:
    df = get_specs()[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_sessionize_single_hash_exchange(spark, sf_dir):
    """Both windows and the groupBy share the user_id partitioning — ONE
    hash exchange (the trailing rangepartitioning is just the parity
    ORDER BY)."""
    plan = _executed_plan(spark, sf_dir, "sessionize_events")
    assert plan.count("hashpartitioning") <= 1, plan[:1500]


def test_scan_speed_ops_have_no_hash_shuffle(spark, sf_dir):
    """Chunking and redaction are pure projections: no hash exchange may
    appear (the only Exchange is the parity ORDER BY's range partition)."""
    for name in ("chunk_sliding_window", "pii_redaction"):
        plan = _executed_plan(spark, sf_dir, name)
        assert "hashpartitioning" not in plan, (name, plan[:1500])


def test_decontamination_broadcasts_benchmark_side(spark, sf_dir):
    """The held-out shingle set must broadcast; the corpus side must never
    be re-shuffled through a sort-merge or nested-loop join."""
    plan = _executed_plan(spark, sf_dir, "benchmark_decontamination")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_kmeans_inertia_monotone_and_coverage(spark, sf_dir):
    """Lloyd's guarantee: inertia never increases round-over-round; every
    vector lands in exactly one cluster; ids stay in [0, k)."""
    from big_data__instagram_analysis_spark.operators.clustering import kmeans_lloyd

    emb = load(spark, sf_dir, "embeddings")
    assigned, inertia = kmeans_lloyd(emb, k=8, iterations=3)
    assert len(inertia) == 3
    assert all(b <= a * (1 + 1e-9) for a, b in zip(inertia, inertia[1:])), inertia
    rows = assigned.collect()
    assert len(rows) == emb.count()
    assert {r["cluster_id"] for r in rows} <= set(range(8))


def test_kmeans_deterministic(spark, sf_dir):
    from big_data__instagram_analysis_spark.operators.clustering import kmeans_lloyd

    emb = load(spark, sf_dir, "embeddings")
    a, ia = kmeans_lloyd(emb, k=4, iterations=2)
    b, ib = kmeans_lloyd(emb, k=4, iterations=2)
    assert ia == ib
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def _numpy_lloyd(sf_dir, k, iterations):
    """Reference Lloyd: lowest-vec_id init, mean update, empty clusters keep
    their centroid; returns ({vid: cluster_id} of the last round, inertia)."""
    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"])
    df = t.to_pandas().sort_values("vec_id")
    m = np.stack(df["embedding"].to_numpy()).astype(np.float64)
    cen = m[:k].copy()
    inertia = []
    for _ in range(iterations):
        d2 = ((m[:, None, :] - cen[None, :, :]) ** 2).sum(axis=2)
        cid = np.argmin(d2, axis=1)
        inertia.append(float(d2[np.arange(len(m)), cid].sum()))
        assign = dict(zip(df["vec_id"].tolist(), cid.tolist()))
        for c in range(k):
            if (cid == c).any():
                cen[c] = m[cid == c].mean(axis=0)
    return assign, inertia


@pytest.mark.parametrize(
    "sf, distributed",
    [
        pytest.param("sf0.001", False, id="sf0.001"),
        pytest.param("sf0.01", False, id="sf0.01"),
        pytest.param("sf0.001", True, id="sf0.001-distributed"),
        pytest.param("sf0.01", True, id="sf0.01-distributed"),
    ],
)
def test_kmeans_matches_numpy_reference(spark, sf, distributed, monkeypatch):
    """The fused per-batch partial sums are the same Lloyd as a plain NumPy
    loop, on the driver-side finish (the default at fixture scale) and on
    the distributed rounds (a zero local bound): identical last-round
    assignments (each vector exactly once), inertia within 1e-9 relative
    and never increasing round over round."""
    if distributed:
        monkeypatch.setattr(clustering, "LOCAL_KMEANS_MAX_VALUES", 0)
    sf_dir = os.path.join(os.path.dirname(DEFAULT_SF_DIR), sf)
    assigned, inertia = clustering.kmeans_lloyd(
        load(spark, sf_dir, "embeddings"), k=8, iterations=3
    )
    ref_assign, ref_inertia = _numpy_lloyd(sf_dir, k=8, iterations=3)
    rows = assigned.collect()
    assert len(rows) == len(ref_assign)
    assert {r["vid"]: r["cluster_id"] for r in rows} == ref_assign
    assert len(inertia) == len(ref_inertia) == 3
    assert all(b <= a * (1 + 1e-9) for a, b in zip(inertia, inertia[1:])), inertia
    for got, want in zip(inertia, ref_inertia):
        assert got == pytest.approx(want, rel=1e-9)


def test_kmeans_one_job_per_round_and_nothing_held(
    spark, sf_dir, count_jobs, monkeypatch
):
    """kmeans_lloyd's local finish launches the init job and the bounded
    probe only; above the bound (here a zero bound) the probe finds the
    corpus too large and each round adds one job. Neither path leaves a
    persisted frame behind."""
    sc = spark.sparkContext
    emb = load(spark, sf_dir, "embeddings")
    persisted = sc._jsc.getPersistentRDDs().size()
    for bound, max_jobs in ((0, 2 + 3), (clustering.LOCAL_KMEANS_MAX_VALUES, 2)):
        monkeypatch.setattr(clustering, "LOCAL_KMEANS_MAX_VALUES", bound)
        jobs, _ = count_jobs(lambda: clustering.kmeans_lloyd(emb, k=8, iterations=3))
        assert 0 < jobs <= max_jobs, bound
        assert sc._jsc.getPersistentRDDs().size() == persisted


def test_kmeans_local_bound_is_rows_times_dims(spark, sf_dir, monkeypatch):
    """A bound of exactly rows × dims float64 values takes the local finish
    (a LocalTableScan); one value fewer takes the distributed rounds (a
    MapInPandas). Both give the same assignments and inertia."""
    from big_data__instagram_analysis_spark.oracle import canonical_rows

    emb = load(spark, sf_dir, "embeddings")
    values = emb.count() * len(emb.first()["embedding"])
    monkeypatch.setattr(clustering, "LOCAL_KMEANS_MAX_VALUES", values)
    local, local_inertia = clustering.kmeans_lloyd(emb, k=4, iterations=2)
    monkeypatch.setattr(clustering, "LOCAL_KMEANS_MAX_VALUES", values - 1)
    dist, dist_inertia = clustering.kmeans_lloyd(emb, k=4, iterations=2)
    assert "LocalTableScan" in local._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in dist._jdf.queryExecution().executedPlan().toString()
    assert canonical_rows(local.toPandas()) == canonical_rows(dist.toPandas())
    assert local_inertia == pytest.approx(dist_inertia, rel=1e-9)


def test_weighted_sample_deterministic_and_biased(spark, sf_dir):
    """Same (corpus, seed) → same sample; sampled mean weight must exceed
    the corpus mean (that's what 'weighted' buys)."""
    from big_data__instagram_analysis_spark.queries.scale_ops import (
        _weighted_sample_rows,
    )

    a = _weighted_sample_rows(spark, sf_dir).collect()
    b = _weighted_sample_rows(spark, sf_dir).collect()
    assert [r["doc_id"] for r in a] == [r["doc_id"] for r in b]
    assert len(a) == 100
    corpus_mean = (
        load(spark, sf_dir, "documents")
        .agg(F.avg(F.col("n_chars") / 100.0 + 1.0))
        .collect()[0][0]
    )
    sample_mean = sum(r["weight"] for r in a) / len(a)
    assert sample_mean > corpus_mean, (sample_mean, corpus_mean)


def test_sketch_bins_are_near_equal_depth(spark, sf_dir):
    """Sketch-edge bins deviate from perfect deciles only within the
    sketch's rank error (generous 20% relative bound at test scale)."""
    from big_data__instagram_analysis_spark.queries.scale_ops import (
        _sketch_decile_bins,
    )

    rows = _sketch_decile_bins(spark, sf_dir).collect()
    total = sum(r["n"] for r in rows)
    ideal = total / 10
    assert len(rows) == 10
    for r in rows:
        assert abs(r["n"] - ideal) <= max(2.0, 0.2 * ideal), (r, ideal)
