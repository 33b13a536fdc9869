"""Equivalence tests for the skew rewrites (salted agg/join must return
the same multiset as their plain counterparts) and MERGE upsert."""

from __future__ import annotations

import pytest
from pyspark.sql import Row, functions as F

from dst_spark_k8_lakehouse_spark.operators import skew
from dst_spark_k8_lakehouse_spark.plans import delta_reader as dr
from dst_spark_k8_lakehouse_spark.plans import delta_writer as dw
from dst_spark_k8_lakehouse_spark.plans.delta_dml import merge_delta
from dst_spark_k8_lakehouse_spark.sources.catalog import load_table


def test_salted_agg_matches_plain_groupby(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    plain = {
        (r.l_returnflag, r.n, r.q, r.hi)
        for r in li.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("l_quantity") * 100).cast("long")).alias("q"),
            F.max("l_quantity").alias("hi"),
        )
        .collect()
    }
    salted = {
        (r.l_returnflag, r.n, r.q, r.hi)
        for r in skew.salted_agg(
            li,
            ["l_returnflag"],
            {
                "n": (F.count("*"), F.sum),
                "q": (
                    F.sum(F.round(F.col("l_quantity") * 100).cast("long")),
                    F.sum,
                ),
                "hi": (F.max("l_quantity"), F.max),
            },
            salt_source="l_orderkey",
        ).collect()
    }
    assert salted == plain


def test_salted_join_matches_plain_join(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("key"), "o_orderkey"
    )
    customer = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("key"), "c_name"
    )
    plain = sorted(
        (r.key, r.o_orderkey, r.c_name)
        for r in orders.join(customer, "key").collect()
    )
    salted = sorted(
        (r.key, r.o_orderkey, r.c_name)
        for r in skew.salted_join(orders, customer, "key").collect()
    )
    assert salted == plain


@pytest.fixture()
def target(spark, tmp_path):
    t = str(tmp_path / "tbl")
    dw.create_delta(
        spark.createDataFrame(
            [Row(id=1, val="a"), Row(id=2, val="b"), Row(id=3, val="c")]
        ),
        t,
    )
    return t


def _rows(spark, t):
    return {r.id: r.val for r in dr.read_delta(spark, t).collect()}


def test_merge_upsert(spark, target):
    source = spark.createDataFrame(
        [Row(id=2, val="B2"), Row(id=9, val="new")]
    )
    merge_delta(spark, target, source, on=["id"])
    assert _rows(spark, target) == {1: "a", 2: "B2", 3: "c", 9: "new"}


def test_merge_update_only(spark, target):
    source = spark.createDataFrame([Row(id=3, val="C2"), Row(id=9, val="x")])
    merge_delta(
        spark, target, source, on=["id"], insert_when_not_matched=False
    )
    assert _rows(spark, target) == {1: "a", 2: "b", 3: "C2"}


def test_merge_insert_only(spark, target):
    source = spark.createDataFrame([Row(id=3, val="C2"), Row(id=9, val="x")])
    merge_delta(spark, target, source, on=["id"], update_when_matched=False)
    assert _rows(spark, target) == {1: "a", 2: "b", 3: "c", 9: "x"}


def test_merge_rejects_duplicate_source_keys(spark, target):
    source = spark.createDataFrame([Row(id=2, val="x"), Row(id=2, val="y")])
    with pytest.raises(ValueError, match="duplicate"):
        merge_delta(spark, target, source, on=["id"])


def test_merge_schema_evolution(spark, target):
    """MERGE with a new source column: the column is added first
    (metadata-only), then the upsert fills it; old rows read NULL."""
    source = spark.createDataFrame([Row(id=5, val="e", extra=1)])
    dw.add_column(spark, target, "extra", "long")
    merge_delta(spark, target, source, on=["id"])
    df = dr.read_delta(spark, target)
    assert "extra" in df.columns
    assert df.filter("extra IS NULL").count() == 3
    assert df.filter("id = 5").head().extra == 1
