"""Bucketed co-located joins: the query-time shuffle must be GONE.

The load-bearing assert is on the physical plan: a join of two tables
bucketed on the join key with matching bucket counts contains ZERO
Exchange nodes — the one-off write-time shuffle replaced every future
query-time shuffle. Values are cross-checked against the plain join.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_pipeline_last_fm_spark.sources.bucketing import read_table, write_bucketed
from etl_pipeline_last_fm_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def bucketed_tables(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_extendedprice"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    write_bucketed(li, "b_lineitem", ["l_orderkey"], n_buckets=4)
    write_bucketed(orders, "o_bucketed", ["o_orderkey"], n_buckets=4)
    yield "b_lineitem", "o_bucketed"
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    spark.sql("DROP TABLE IF EXISTS o_bucketed")


def _plan(df) -> str:
    spark = df.sparkSession
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_bucketed_join_has_no_exchange(spark, sf_dir, bucketed_tables):
    li_t, o_t = bucketed_tables
    j = (
        read_table(spark, li_t)
        .hint("merge")  # force SMJ: broadcast would mask the exchange test
        .join(
            read_table(spark, o_t),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select("l_orderkey", "l_extendedprice", "o_orderdate")
    )
    plan = _plan(j)
    # Both sides consume bucket-derived partitioning directly: the whole
    # plan (join + both scans) contains no shuffle of any kind.
    assert "Exchange" not in plan, plan
    assert "SortMergeJoin" in plan


def test_bucketed_join_values_match_plain_join(spark, sf_dir, bucketed_tables):
    li_t, o_t = bucketed_tables
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_extendedprice"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    plain = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderdate")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    bucketed = (
        read_table(spark, li_t)
        .join(read_table(spark, o_t), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderdate")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert sorted(map(tuple, bucketed.collect())) == sorted(
        map(tuple, plain.collect())
    )
