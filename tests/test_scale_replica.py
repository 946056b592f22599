"""The cross-scale replica generator (``tools/scale.py:replicate``): N
key-shifted copies that keep every FK join intact, copy 0 equal to the
base, and per-copy decorrelated document text."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graphdb_td2_spark.io import read_table
from tools.scale import COPY_AS_IS, KEY_SHIFTS, OFF, replicate

N = 3


@pytest.fixture(scope="module")
def replica(spark, sf_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("replica") / f"x{N}")
    replicate(spark, sf_dir, out, N)
    return out


def test_row_counts(spark, sf_dir, replica):
    for table in KEY_SHIFTS:
        base = read_table(spark, sf_dir, table).count()
        assert read_table(spark, replica, table).count() == N * base, table
    for table in COPY_AS_IS:
        base = read_table(spark, sf_dir, table).count()
        assert read_table(spark, replica, table).count() == base, table


def test_copy_zero_equals_base(spark, sf_dir, replica):
    for table, keys in KEY_SHIFTS.items():
        base = read_table(spark, sf_dir, table)
        copy0 = read_table(spark, replica, table).filter(F.col(keys[0]) < OFF)
        assert copy0.exceptAll(base).isEmpty(), table
        assert base.exceptAll(copy0).isEmpty(), table


def test_fk_joins_keep_every_row(spark, replica):
    li = read_table(spark, replica, "lineitem")
    orders = read_table(spark, replica, "orders")
    customer = read_table(spark, replica, "customer")
    events = read_table(spark, replica, "events")
    part = read_table(spark, replica, "part")
    assert li.join(orders, li.l_orderkey == orders.o_orderkey).count() == li.count()
    assert (
        orders.join(customer, orders.o_custkey == customer.c_custkey).count()
        == orders.count()
    )
    k = F.get_json_object(events.props, "$.k").cast("long")
    assert events.join(part, k == part.p_partkey).count() == events.count()


def test_copy_one_text_differs(spark, replica):
    docs = read_table(spark, replica, "documents")
    copy0 = docs.filter(F.col("doc_id") < OFF).select("doc_id", F.col("text").alias("t0"))
    copy1 = docs.filter(F.col("doc_id").between(OFF, 2 * OFF - 1)).select(
        (F.col("doc_id") - OFF).alias("doc_id"), F.col("text").alias("t1")
    )
    pairs = copy0.join(copy1, "doc_id")
    assert pairs.count() == copy0.count() > 0
    assert pairs.filter(F.col("t0") != F.col("t1")).count() > 0
    # a rotation: same words, different order
    assert pairs.filter(_words("t0") != _words("t1")).isEmpty()


def _words(col: str):
    return F.array_sort(F.split(col, " "))
