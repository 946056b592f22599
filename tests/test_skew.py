"""AQE skew-join engagement proof (round-1 VERDICT item 4).

``top_cooccurrence_pairs`` is the one self-join with real degree-skew
exposure at 100x (a hyper-popular order key concentrates the shuffle).
Salting the join key would replicate one side — no help for a big-big
self-join — so the scale posture there is AQE's skew-join splitting.  These tests prove that mechanism actually engages on a hot-key
fixture with the exact join shape (equi self-join on the order key with an
inequality residual), rather than trusting the conf flag.

One subtlety these tests encode: AQE only splits a skewed partition when
the split does not force an extra downstream shuffle.  The real query
aggregates on (product_a, product_b) — different keys than the join's
order_id — so a re-shuffle happens regardless and the split is free.  An
aggregate keyed on order_id itself WOULD veto the split (verified while
writing this test); keep that in mind when adding downstream consumers.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

# Low enough that a test-sized hot partition trips the skew detector:
# a partition is "skewed" when > factor * median AND > threshold bytes.
_SKEW_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16384",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8192",
    "spark.sql.adaptive.coalescePartitions.enabled": "false",
    # force a shuffle join: broadcast would bypass the skew path entirely
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.shuffle.partitions": "8",
}


@pytest.fixture
def skew_session(spark):
    old = {}
    for k, v in _SKEW_CONFS.items():
        old[k] = spark.conf.get(k, None)
        spark.conf.set(k, v)
    yield spark
    for k, v in old.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def _hot_key_items(spark, n_hot: int, n_cold: int):
    """CONTAINS-shaped (order_id, product_id) with one hyper-popular order
    (n_hot rows) among cold 3-product orders."""
    hot = spark.range(n_hot).select(
        F.lit(0).alias("order_id"), F.col("id").alias("product_id")
    )
    cold = spark.range(n_cold).select(
        (F.col("id") % (n_cold // 3) + 1).alias("order_id"),
        (F.col("id") + 1_000_000).alias("product_id"),
    )
    return hot.unionByName(cold)


def _skew_engaged(plan: str) -> bool:
    # Spark 4 prints "SortMergeJoin(skew=true)"; older releases "isSkewJoin=true"
    return "skew=true" in plan or "isSkewJoin=true" in plan


def _pair_total(items):
    """Total unordered co-occurrence pairs via the top_cooccurrence_pairs
    join shape; returns (count, executed plan string)."""
    a, b = items.alias("a"), items.alias("b")
    joined = a.join(
        b,
        (F.col("a.order_id") == F.col("b.order_id"))
        & (F.col("a.product_id") < F.col("b.product_id")),
    ).agg(F.count(F.lit(1)).alias("n_pairs"))
    n = joined.collect()[0]["n_pairs"]
    return n, joined._jdf.queryExecution().executedPlan().toString()


def _expected_pairs(items):
    """Oracle without a join: sum of C(basket_size, 2) per order."""
    sizes = items.groupBy("order_id").agg(F.count(F.lit(1)).alias("n"))
    return sizes.agg(
        F.sum(F.col("n") * (F.col("n") - 1) / 2).cast("long").alias("p")
    ).collect()[0]["p"]


def test_aqe_splits_hot_order_key_in_cooccurrence_shape(skew_session):
    spark = skew_session
    items = _hot_key_items(spark, n_hot=10_000, n_cold=40_000)
    got, plan = _pair_total(items)
    assert got == _expected_pairs(items)  # correctness under the split
    assert _skew_engaged(plan), (
        "AQE skew-join did not engage on the hot order key — the 100 TB "
        f"posture of top_cooccurrence_pairs relies on it. Plan:\n{plan[:2000]}"
    )


def test_skew_split_preserves_join_results(skew_session):
    """Same fixture, skew split on vs off: identical results (the split
    must be a pure physical rewrite)."""
    spark = skew_session
    items = _hot_key_items(spark, n_hot=4_000, n_cold=12_000)
    with_split, plan = _pair_total(items)
    assert _skew_engaged(plan)
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    without_split, plan_off = _pair_total(items)
    assert not _skew_engaged(plan_off)
    assert with_split == without_split == _expected_pairs(items)
