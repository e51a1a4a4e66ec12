"""Relational OLAP operators: hand goldens + plan-shape assertions
(the correctness gate is the DuckDB contract oracle; these tests pin
the integer-cents arithmetic and that Catalyst gets to do its job)."""

import re

import pandas as pd

from approximate_pagerank_public_spark.plans.shape import plan_shape


def test_pricing_summary_hand_golden(spark):
    from approximate_pagerank_public_spark.operators.relational import (
        pricing_summary,
    )

    li = spark.createDataFrame(
        pd.DataFrame(
            {
                "l_returnflag": ["A", "A", "N"],
                "l_linestatus": ["F", "F", "O"],
                "l_quantity": [2.0, 3.0, 1.0],
                "l_extendedprice": [10.50, 20.25, 5.00],
                "l_discount": [0.10, 0.00, 0.05],
                "l_shipdate": pd.to_datetime(
                    ["1997-01-01", "1998-01-01", "1999-06-01"]
                ),
            }
        )
    )
    got = (
        pricing_summary(li, cutoff="1998-09-02")
        .toPandas()
        .sort_values(["l_returnflag", "l_linestatus"])
        .reset_index(drop=True)
    )
    # the 1999 row falls past the cutoff
    assert len(got) == 1
    assert got.loc[0, "sum_qty"] == 5
    assert got.loc[0, "sum_base_cents"] == 1050 + 2025
    # 1050*(100-10) + 2025*100
    assert got.loc[0, "sum_disc_cpct"] == 1050 * 90 + 2025 * 100
    assert got.loc[0, "count_order"] == 2


def test_regional_revenue_plan_broadcasts_dims_and_pushes_filters(spark):
    from approximate_pagerank_public_spark.operators.relational import (
        regional_revenue,
    )
    from approximate_pagerank_public_spark.sources.readers import load_table

    sf = "/root/testdata/sf0.001"
    df = regional_revenue(
        load_table(spark, sf, "region"),
        load_table(spark, sf, "nation"),
        load_table(spark, sf, "customer"),
        load_table(spark, sf, "orders"),
        load_table(spark, sf, "lineitem"),
        load_table(spark, sf, "supplier"),
    )
    # the region-name and order-date predicates reach the parquet scans
    # (pushed filters are scan metadata, not operators)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PushedFilters: \[[^\]]*r_name", plan)
    assert re.search(r"PushedFilters: \[[^\]]*o_orderdate", plan)
    # dictionary-sized dims ride broadcast joins at this SF
    assert plan_shape(df)["BroadcastHashJoin"] >= 1
    # and the result matches the fixture's own arithmetic
    rows = df.collect()
    assert all(r["revenue_cpct"] > 0 for r in rows)


def test_order_priority_counts_hand_golden(spark):
    from approximate_pagerank_public_spark.operators.relational import (
        order_priority_counts,
    )

    orders = spark.createDataFrame(
        pd.DataFrame(
            {
                "o_orderkey": [1, 2, 3],
                "o_orderpriority": ["1-URGENT", "1-URGENT", "2-HIGH"],
                "o_orderdate": pd.to_datetime(
                    ["1996-10-05", "1996-11-01", "1996-12-01"]
                ),
            }
        )
    )
    li = spark.createDataFrame(
        pd.DataFrame(
            {
                "l_orderkey": [1, 1, 2, 3],
                "l_shipdate": pd.to_datetime(
                    # order 1: one line 10 days out, one 90 days out (late)
                    # order 2: 30 days out (on time); order 3: 61 days (late)
                    ["1996-10-15", "1997-01-03", "1996-12-01", "1997-01-31"]
                ),
            }
        )
    )
    got = (
        order_priority_counts(orders, li, late_days=60)
        .toPandas()
        .sort_values("o_orderpriority")
        .reset_index(drop=True)
    )
    assert got["o_orderpriority"].tolist() == ["1-URGENT", "2-HIGH"]
    # order 1 late (semi-join counts it ONCE despite two lines), order 3 late
    assert got["order_count"].tolist() == [1, 1]


def test_returned_revenue_topk_hand_golden(spark):
    from approximate_pagerank_public_spark.operators.relational import (
        returned_revenue_topk,
    )

    customer = spark.createDataFrame(
        pd.DataFrame(
            {
                "c_custkey": [10, 11],
                "c_name": ["a", "b"],
                "c_nationkey": [0, 0],
                "c_acctbal": [12.34, 56.78],
            }
        )
    )
    nation = spark.createDataFrame(
        pd.DataFrame({"n_nationkey": [0], "n_name": ["X"]})
    )
    orders = spark.createDataFrame(
        pd.DataFrame(
            {
                "o_orderkey": [1, 2],
                "o_custkey": [10, 11],
                "o_orderdate": pd.to_datetime(["1996-10-05", "1996-11-01"]),
            }
        )
    )
    li = spark.createDataFrame(
        pd.DataFrame(
            {
                "l_orderkey": [1, 1, 2],
                "l_returnflag": ["R", "N", "R"],
                "l_extendedprice": [10.00, 99.00, 20.00],
                "l_discount": [0.10, 0.00, 0.00],
            }
        )
    )
    got = (
        returned_revenue_topk(customer, orders, li, nation, k=20)
        .toPandas()
        .reset_index(drop=True)
    )
    # customer 11: 2000*100 = 200000 cpct; customer 10: 1000*90 = 90000
    assert got["c_custkey"].tolist() == [11, 10]
    assert got["revenue_cpct"].tolist() == [2000 * 100, 1000 * 90]
    assert got["acctbal_cents"].tolist() == [5678, 1234]
    assert got["n_name"].tolist() == ["X", "X"]


def test_top_supplier_hand_golden(spark):
    from approximate_pagerank_public_spark.operators.relational import (
        top_supplier,
    )

    li = spark.createDataFrame(
        pd.DataFrame(
            {
                "l_suppkey": [1, 1, 2, 3],
                "l_extendedprice": [10.00, 5.00, 14.00, 14.00],
                "l_discount": [0.0, 0.0, 0.0, 0.0],
                "l_shipdate": pd.to_datetime(
                    ["1996-07-02", "1996-08-01", "1996-07-15", "1997-01-01"]
                ),
            }
        )
    )
    sup = spark.createDataFrame(
        pd.DataFrame(
            {"s_suppkey": [1, 2, 3], "s_name": ["s1", "s2", "s3"]}
        )
    )
    got = top_supplier(sup, li).toPandas().sort_values("s_suppkey")
    # supplier 1: 1500 cpct*100 = 150000; supplier 2: 140000; 3 out of window
    assert list(got["s_suppkey"]) == [1]
    assert int(got["total_revenue_cpct"].iloc[0]) == 1000 * 100 + 500 * 100


def test_bracket_revenue_hand_golden(spark):
    from approximate_pagerank_public_spark.operators.relational import (
        bracket_revenue,
    )

    li = spark.createDataFrame(
        pd.DataFrame(
            {
                "l_partkey": [1, 2, 3],
                "l_quantity": [5.0, 30.0, 25.0],
                "l_extendedprice": [10.00, 20.00, 40.00],
                "l_discount": [0.0, 0.0, 0.5],
            }
        )
    )
    part = spark.createDataFrame(
        pd.DataFrame(
            {
                "p_partkey": [1, 2, 3],
                "p_brand": ["Brand#1", "Brand#1", "Brand#20"],
                "p_size": [3, 3, 10],
            }
        )
    )
    got = bracket_revenue(li, part).toPandas()
    # row1: qty 5 in [1,11] size 3 in [1,5] -> 1000*100
    # row2: qty 30 outside [1,11] -> excluded
    # row3: Brand#20 size 10 in [1,15], qty 25 in [20,30] -> 4000*50
    assert int(got["revenue_cpct"].iloc[0]) == 1000 * 100 + 4000 * 50
    assert int(got["n_lines"].iloc[0]) == 2


def test_volume_shipping_both_directions(spark):
    from approximate_pagerank_public_spark.operators.relational import (
        volume_shipping,
    )
    from approximate_pagerank_public_spark.sources.readers import load_table

    sf = "/root/testdata/sf0.001"
    got = volume_shipping(
        load_table(spark, sf, "supplier"),
        load_table(spark, sf, "lineitem"),
        load_table(spark, sf, "orders"),
        load_table(spark, sf, "customer"),
        load_table(spark, sf, "nation"),
    ).toPandas()
    # never the same nation on both sides, years within the window
    assert ((got["supp_nation"] != got["cust_nation"]).all())
    assert set(got["l_year"]).issubset({1996, 1997})
