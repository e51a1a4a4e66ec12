"""Bucketed-layout shuffle elimination (sources/bucketed.py)."""

import pytest
from pyspark.sql import functions as F

from approximate_pagerank_public_spark.plans.shape import plan_shape
from approximate_pagerank_public_spark.sources.bucketed import (
    bucketed_equijoin,
    write_bucketed,
)


@pytest.fixture()
def warehouse(spark, tmp_path):
    yield str(tmp_path)
    for t in ("b_edges", "b_state", "nb_edges", "nb_state"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def _frames(spark):
    edges = spark.range(0, 2000).select(
        (F.col("id") % 97).alias("dst"), (F.col("id") % 31).alias("src")
    )
    state = spark.range(0, 97).select(
        F.col("id").alias("dst"), (F.col("id") * 2).alias("rank")
    )
    return edges, state

def test_bucketed_join_has_zero_shuffles(spark, warehouse):
    edges, state = _frames(spark)
    write_bucketed(edges, "b_edges", 4, ["dst"], path=f"{warehouse}/be")
    write_bucketed(state, "b_state", 4, ["dst"], path=f"{warehouse}/bs")
    with_buckets = bucketed_equijoin(spark, "b_edges", "b_state", ["dst"])
    # force a non-broadcast plan so the exchange (if any) would show
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketed_equijoin(spark, "b_edges", "b_state", ["dst"])
        assert plan_shape(joined)["Exchange"] == 0
        # and the result is still correct
        assert joined.count() == 2000

        # the unbucketed twin DOES shuffle — the comparison that makes
        # the zero above meaningful
        edges.write.mode("overwrite").option(
            "path", f"{warehouse}/nbe"
        ).saveAsTable("nb_edges")
        state.write.mode("overwrite").option(
            "path", f"{warehouse}/nbs"
        ).saveAsTable("nb_state")
        plain = bucketed_equijoin(spark, "nb_edges", "nb_state", ["dst"])
        assert plan_shape(plain)["Exchange"] >= 1
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    del with_buckets


def test_bucketed_groupby_has_zero_shuffles(spark, warehouse):
    edges, _ = _frames(spark)
    write_bucketed(edges, "b_edges", 4, ["dst"], path=f"{warehouse}/be")
    agg = spark.table("b_edges").groupBy("dst").agg(F.count("*").alias("d"))
    assert plan_shape(agg)["Exchange"] == 0
    assert agg.count() == 97


def test_bucket_sorted_layout_roundtrip(spark, warehouse):
    edges, _ = _frames(spark)
    write_bucketed(
        edges, "b_edges", 4, ["dst"], sort_cols=["dst", "src"],
        path=f"{warehouse}/be",
    )
    back = spark.table("b_edges")
    assert back.count() == 2000
    assert sorted(back.columns) == ["dst", "src"]
