"""Semantic + plan tests for the round-5 keys (six more TPC-H shapes,
error-tolerant try_* arithmetic, OHLC time-series bars).  Oracle hash
parity runs in tools/check_oracle.py / the driver; these pin the
semantics and plan shapes the hash can't see."""

from __future__ import annotations

from pyspark.sql import functions as F

from i2mapreduce_spark.catalog import load_tables
from tests.plan_util import plan_str as _plan


def test_forecast_revenue_matches_manual_filter(spark, sf_dir):
    from i2mapreduce_spark.queries.tpch_q import Q6_HI, Q6_LO, q_agg_forecast_revenue

    row = q_agg_forecast_revenue(spark, sf_dir).collect()[0]
    li = spark.table("lineitem")
    manual = li.filter(
        (F.col("l_shipdate") >= F.lit(Q6_LO).cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit(Q6_HI).cast("timestamp_ntz"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    )
    assert row.n_lines == manual.count()
    assert row.revenue > 0
    # predicates must reach the scan, not sit post-join
    assert "PushedFilters" in _plan(q_agg_forecast_revenue(spark, sf_dir))


def test_customer_distribution_partitions_all_customers(spark, sf_dir):
    from i2mapreduce_spark.queries.tpch_q import q_agg_customer_distribution

    rows = q_agg_customer_distribution(spark, sf_dir).collect()
    load_tables(spark, sf_dir)
    n_cust = spark.table("customer").count()
    n_with_orders = (
        spark.table("orders").select("o_custkey").distinct().count()
    )
    # every customer lands in exactly one bucket
    assert sum(r.custdist for r in rows) == n_cust
    # the zero-order bucket is exactly the customers with no orders
    zero = {r.c_count: r.custdist for r in rows}.get(0, 0)
    assert zero == n_cust - n_with_orders


def test_large_volume_customers_threshold_and_order(spark, sf_dir):
    from i2mapreduce_spark.queries.tpch_q import (
        Q18_MIN_QTY,
        q_join_large_volume_customers,
    )

    rows = q_join_large_volume_customers(spark, sf_dir).collect()
    assert 0 < len(rows) <= 100
    assert all(r.total_qty > Q18_MIN_QTY for r in rows)
    key = [(-r.totalprice, r.o_orderkey) for r in rows]
    assert key == sorted(key)
    # per-order quantity sums re-derived independently for the returned set
    load_tables(spark, sf_dir)
    want = {
        r.l_orderkey: r.s
        for r in spark.table("lineitem")
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").cast("bigint").alias("s"))
        .collect()
    }
    assert all(want[r.o_orderkey] == r.total_qty for r in rows)


def test_small_qty_and_bracket_revenue_broadcast_part(spark, sf_dir):
    from i2mapreduce_spark.queries.tpch_q import (
        q_agg_bracket_revenue,
        q_agg_small_qty_revenue,
    )

    for fn in (q_agg_small_qty_revenue, q_agg_bracket_revenue):
        plan = _plan(fn(spark, sf_dir))
        assert "BroadcastHashJoin" in plan, plan
        row = fn(spark, sf_dir).collect()[0]
        assert row.n_lines > 0


def test_min_cost_supplier_is_the_observed_minimum(spark, sf_dir):
    from i2mapreduce_spark.queries.tpch_q import (
        Q2_MAX_SIZE,
        q_join_min_cost_supplier,
    )

    out = q_join_min_cost_supplier(spark, sf_dir)
    pdf = out.toPandas()
    load_tables(spark, sf_dir)
    # one row per qualifying part that appears in lineitem
    n_parts = (
        spark.table("lineitem")
        .join(
            spark.table("part").filter(F.col("p_size") <= Q2_MAX_SIZE),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .select("p_partkey")
        .distinct()
        .count()
    )
    assert len(pdf) == n_parts
    assert pdf.p_partkey.is_unique
    # the reported cost is the true minimum unit price for each part
    mins = {
        r.p_partkey: r.m
        for r in spark.table("lineitem")
        .join(
            spark.table("part").filter(F.col("p_size") <= Q2_MAX_SIZE),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_partkey")
        .agg(
            F.round(
                F.min(F.col("l_extendedprice") / F.col("l_quantity")), 4
            ).alias("m")
        )
        .collect()
    }
    assert all(mins[r.p_partkey] == r.min_unit_cost for r in pdf.itertuples())


def test_try_arith_nulls_exactly_on_bad_rows(spark, sf_dir):
    from i2mapreduce_spark.queries.scalar_fns import q_fn_try_arith

    pdf = q_fn_try_arith(spark, sf_dir).toPandas()
    load_tables(spark, sf_dir)
    custkey = {
        r.o_orderkey: r.o_custkey for r in spark.table("orders").collect()
    }
    import math

    for r in pdf.itertuples():
        bad = custkey[r.o_orderkey] % 7 == 0
        assert (r.safe_unit is None or math.isnan(r.safe_unit)) == bad
    assert pdf.div0.isna().all()            # literal /0 -> NULL, no exception
    assert pdf.prio_full_int.isna().all()   # '1-URGENT' never parses as INT
    assert set(pdf.prio_digit.unique()) <= {1, 2, 3, 4, 5}


def test_ohlc_bars_invariants(spark, sf_dir):
    from i2mapreduce_spark.queries.timeseries import q_ts_ohlc_bars

    pdf = q_ts_ohlc_bars(spark, sf_dir).toPandas()
    load_tables(spark, sf_dir)
    assert pdf.n_events.sum() == spark.table("events").count()
    assert (pdf.high_v >= pdf.open_v).all() and (pdf.high_v >= pdf.close_v).all()
    assert (pdf.low_v <= pdf.open_v).all() and (pdf.low_v <= pdf.close_v).all()
    # single-event bars collapse to one price
    ones = pdf[pdf.n_events == 1]
    assert (ones.open_v == ones.close_v).all()
    assert (ones.high_v == ones.low_v).all()


def test_hll_union_estimates_and_merge_losslessness(spark, sf_dir):
    from i2mapreduce_spark.queries.aggregates import q_agg_hll_union

    pdf = q_agg_hll_union(spark, sf_dir).toPandas()
    per_nation = pdf[pdf.c_nationkey >= 0]
    # HLL at these cardinalities (tens per nation) is near-exact; 5% is
    # a loose ceiling
    for r in per_nation.itertuples():
        assert abs(r.est_distinct - r.exact_distinct) <= max(
            1, 0.05 * r.exact_distinct
        )
    load_tables(spark, sf_dir)
    total_exact = spark.table("customer").select("c_custkey").distinct().count()
    global_row = pdf[pdf.c_nationkey == -1]
    assert len(global_row) == 1
    g = int(global_row.global_est.iloc[0])
    assert abs(g - total_exact) <= max(1, 0.05 * total_exact)
    # merge losslessness: union of per-nation sketches == one global sketch
    direct = (
        spark.table("customer")
        .selectExpr("hll_sketch_estimate(hll_sketch_agg(c_custkey)) AS est")
        .collect()[0]
        .est
    )
    assert g == direct


def test_interval_merge_islands_are_disjoint_and_cover(spark, sf_dir):
    from i2mapreduce_spark.queries.windows_q import (
        IVL_SPAN_US,
        q_window_interval_merge,
    )

    pdf = q_window_interval_merge(spark, sf_dir).toPandas()
    load_tables(spark, sf_dir)
    assert pdf.n_events.sum() == spark.table("events").count()
    assert (pdf.end_us - pdf.start_us >= IVL_SPAN_US).all()
    # islands within a user must be strictly separated (no touching)
    for _, grp in pdf.groupby("user_id"):
        g = grp.sort_values("island")
        starts, ends = g.start_us.values, g.end_us.values
        assert (starts[1:] > ends[:-1]).all()


def test_mr_counters_match_declarative_counts(spark, sf_dir):
    from i2mapreduce_spark.queries.mapred_q import q_mr_counters

    got = {
        r.counter: r.value for r in q_mr_counters(spark, sf_dir).collect()
    }
    load_tables(spark, sf_dir)
    o = spark.table("orders")
    assert got["records_in"] == o.count()
    assert got["high_value"] == o.filter(F.col("o_totalprice") > 300000).count()
    assert got["urgent_or_high"] == o.filter(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    ).count()


def test_time_travel_versions_are_independent(spark, sf_dir):
    from i2mapreduce_spark.queries.scans import TT_CUTOFF, q_sink_time_travel

    pdf = (
        q_sink_time_travel(spark, sf_dir)
        .toPandas()
        .set_index("version")
        .sort_index()
    )
    load_tables(spark, sf_dir)
    o = spark.table("orders")
    n_base = o.filter(
        F.col("o_orderdate") < F.lit(TT_CUTOFF).cast("timestamp_ntz")
    ).count()
    assert pdf.loc[0, "n_orders"] == n_base          # v0 intact after v1
    assert pdf.loc[1, "n_orders"] == o.count()       # v1 = base + delta
    assert pdf.loc[1, "revenue"] >= pdf.loc[0, "revenue"]


def test_seasonal_profile_shares_sum_to_one(spark, sf_dir):
    from i2mapreduce_spark.queries.timeseries import q_ts_seasonal_profile

    pdf = q_ts_seasonal_profile(spark, sf_dir).toPandas()
    for _, grp in pdf.groupby("event_type"):
        assert abs(grp.share_of_type.sum() - 1.0) < 0.01
        assert set(grp.hod) <= set(range(24))


def test_inc_cc_delta_warm_start_is_faster_and_exact(spark, sf_dir,
                                                    monkeypatch):
    """The A13 claim, measured: warm-starting CC from the base-graph
    labels must reach the full-graph fixpoint in no more rounds than a
    cold run — and the labels must be IDENTICAL to the cold run."""
    from i2mapreduce_spark.operators import algorithms
    from i2mapreduce_spark.queries.iterative import CC_ITERS, q_inc_cc_delta

    # the key returns only the labels; record the round counts of the
    # connected_components calls it makes (the last one is the warm run)
    runs = []
    cc = algorithms.connected_components

    def recording_cc(*args, **kwargs):
        res = cc(*args, **kwargs)
        runs.append(res)
        return res

    monkeypatch.setattr(algorithms, "connected_components", recording_cc)
    load_tables(spark, sf_dir)
    warm = {
        (r.node, r.label) for r in q_inc_cc_delta(spark, sf_dir).collect()
    }
    warm_rounds = runs[-1].iterations
    cold_res = cc(spark.table("edges_pp"), iters=CC_ITERS)
    cold = {(r.node, r.label) for r in cold_res.state.collect()}
    cold_rounds = cold_res.iterations
    assert warm == cold
    assert warm_rounds <= cold_rounds


def test_epoch_shuffle_is_a_distinct_permutation_per_epoch(spark, sf_dir):
    from i2mapreduce_spark.queries.pipelines import (
        N_EPOCHS,
        q_pipeline_epoch_shuffle,
    )

    pdf = q_pipeline_epoch_shuffle(spark, sf_dir).toPandas()
    load_tables(spark, sf_dir)
    n_docs = spark.table("documents").count()
    orders = {}
    for epoch, grp in pdf.groupby("epoch"):
        # each epoch is a complete 1..n permutation of all docs
        assert sorted(grp.position) == list(range(1, n_docs + 1))
        orders[epoch] = tuple(grp.sort_values("position").doc_id)
    assert len(orders) == N_EPOCHS
    assert orders[0] != orders[1]  # epochs really reshuffle
    # deterministic: a re-run reproduces the same permutations
    pdf2 = q_pipeline_epoch_shuffle(spark, sf_dir).toPandas()
    assert pdf.sort_values(["epoch", "doc_id"]).position.tolist() == \
        pdf2.sort_values(["epoch", "doc_id"]).position.tolist()


def test_csv_malformed_quarantines_only_type_failures(spark, sf_dir):
    from i2mapreduce_spark.queries.scans import q_source_csv_malformed

    pdf = q_source_csv_malformed(spark, sf_dir).toPandas().set_index("mode")
    load_tables(spark, sf_dir)
    n = spark.table("nation").count()
    assert pdf.loc["permissive", "n_rows"] == n + 3      # every line kept
    assert pdf.loc["permissive", "n_bad"] == 1           # only the type failure
    assert pdf.loc["dropmalformed", "n_rows"] == n + 2   # sheds exactly it
