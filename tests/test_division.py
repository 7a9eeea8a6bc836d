"""Division operator tests.

Case matrix mirrors the reference's SqlTest subset/either-subset coverage
(/root/reference/test/groovy/haplorec/test/util/SqlTest.groovy:222-482):
equal sets, strict subset, strict superset, partial overlap, disjoint.
"""

from __future__ import annotations

import pytest

from haplorec_spark.operators import (
    select_where_either_subset_of,
    select_where_subset_of,
)
from tests.conftest import plan, rows


@pytest.fixture(scope="module")
def ab(spark):
    # A: named sets over (x, y)
    #   a1 -> {(1,1), (1,2)}          (equal to b1, subset of b2)
    #   a2 -> {(1,1), (1,2), (2,2)}   (superset of b1, equal to b2)
    #   a3 -> {(9,9)}                 (disjoint from everything)
    #   a4 -> {(1,2), (2,2)}          (partial overlap with b1)
    a = spark.createDataFrame(
        [
            ("a1", 1, 1), ("a1", 1, 2),
            ("a2", 1, 1), ("a2", 1, 2), ("a2", 2, 2),
            ("a3", 9, 9),
            ("a4", 1, 2), ("a4", 2, 2),
        ],
        "a string, x int, y int",
    )
    # B: b1 -> {(1,1), (1,2)}; b2 -> {(1,1), (1,2), (2,2)}
    b = spark.createDataFrame(
        [
            ("b1", 1, 1), ("b1", 1, 2),
            ("b2", 1, 1), ("b2", 1, 2), ("b2", 2, 2),
        ],
        "b string, x int, y int",
    )
    return a, b


def test_subset_of(ab):
    a, b = ab
    got = rows(
        select_where_subset_of(
            a, b, ["x", "y"], a_group_by=["a"], b_group_by=["b"]
        )
    )
    # a ⊆ b: a1⊆b1 (equal), a1⊆b2, a2⊆b2 (equal), a4⊆b2
    assert got == [("a1", "b1"), ("a1", "b2"), ("a2", "b2"), ("a4", "b2")]


def test_either_subset_of(ab):
    a, b = ab
    got = rows(
        select_where_either_subset_of(
            a, b, ["x", "y"], a_group_by=["a"], b_group_by=["b"]
        )
    )
    # adds the superset direction: b1 ⊆ a2
    assert got == [
        ("a1", "b1"), ("a1", "b2"), ("a2", "b1"), ("a2", "b2"), ("a4", "b2"),
    ]


def test_subset_with_prefiltered_b(ab):
    # tableBWhere in the reference = pre-filtering B here; restricting B
    # to b1's rows must drop every pair involving b2.
    a, b = ab
    got = rows(
        select_where_subset_of(
            a, b.filter("b = 'b1'"), ["x", "y"],
            a_group_by=["a"], b_group_by=["b"],
        )
    )
    assert got == [("a1", "b1")]


def test_select_projection(ab):
    a, b = ab
    got = rows(
        select_where_subset_of(
            a, b, ["x", "y"], a_group_by=["a"], b_group_by=["b"],
            select=["b"],
        )
    )
    assert got == [("b1",), ("b2",)]


def test_broadcast_a_same_result(ab):
    a, b = ab
    got = rows(
        select_where_subset_of(
            a, b, ["x", "y"], a_group_by=["a"], b_group_by=["b"],
            broadcast_a=True,
        )
    )
    assert got == [("a1", "b1"), ("a1", "b2"), ("a2", "b2"), ("a4", "b2")]


def test_overlapping_group_keys_rejected(ab):
    a, b = ab
    with pytest.raises(ValueError):
        select_where_subset_of(
            a, b.withColumnRenamed("b", "a"), ["x", "y"],
            a_group_by=["a"], b_group_by=["a"],
        )


def test_subset_plan_is_broadcast_join_and_hash_aggregate(ab):
    # The match count is an equi-join plus an aggregate: never a
    # nested-loop or cartesian join, whatever the set sizes.
    a, b = ab
    shape = plan(
        select_where_subset_of(
            a, b, ["x", "y"], a_group_by=["a"], b_group_by=["b"],
            broadcast_a=True,
        )
    )
    assert "BroadcastHashJoin" in shape
    assert "HashAggregate" in shape
    assert "BroadcastNestedLoopJoin" not in shape
    assert "CartesianProduct" not in shape
