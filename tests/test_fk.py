"""FK-resolution and scraped-data collapse tests (load_dsv / pipelines
semantics)."""

from __future__ import annotations

import re

from haplorec_spark.operators.fk import (
    assign_ids,
    collapse_by_key,
    resolve_fk_ids,
)
from tests.conftest import executed_plans, plan, rows


def test_assign_ids_deterministic(spark):
    df = spark.createDataFrame(
        [("b",), ("a",), ("b",), ("c",)], "k string"
    )
    got = rows(assign_ids(df, ["k"]))
    assert got == [("a", 1), ("b", 2), ("c", 3)]


def test_assign_ids_large_path_no_single_partition_exchange(spark):
    """Above the small-dimension threshold the id assignment must never
    funnel the key set through one task: range partitioning +
    per-partition record numbers, no global window (Exchange
    SinglePartition) anywhere in the plan."""
    df = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    # assign_ids runs its range shuffle inside a localCheckpoint, so the
    # returned frame plans as a scan of the checkpoint: read the plans of
    # every SQL execution the call ran, plus the returned frame's own.
    out, plans = executed_plans(
        spark,
        lambda: assign_ids(
            df, ["c_name"], id_column="cid", small_key_limit=10
        ),
    )
    plans.append(plan(out))
    # formatted plans print an Exchange's partitioning in its details
    single_partition = re.compile(
        r"^\(\d+\) Exchange\n(?:.+\n)*?Arguments: SinglePartition", re.M
    )
    assert not any(single_partition.search(p) for p in plans)
    assert any("rangepartitioning" in p for p in plans)
    # dense, 1-based, ordered by key
    got = [r.cid for r in out.orderBy("c_name").collect()]
    assert got == list(range(1, len(got) + 1))


def test_assign_ids_paths_agree(spark):
    """Small-dim window path and large two-phase path assign identical
    ids (global sort order of the natural key)."""
    df = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    small = rows(assign_ids(df, ["c_name"], id_column="cid"))
    large = rows(
        assign_ids(df, ["c_name"], id_column="cid", small_key_limit=10)
    )
    assert small == large


def test_resolve_fk_ids_rewrites_natural_key(spark):
    fact = spark.createDataFrame(
        [(1, "x"), (2, "y"), (3, "x")], "rid int, k string"
    )
    resolved, dim = resolve_fk_ids(fact, ["k"], id_column="k_id")
    assert rows(dim) == [("x", 1), ("y", 2)]
    assert rows(resolved, "rid", "k_id") == [(1, 1), (2, 2), (3, 1)]


def test_collapse_by_key_unique_join(spark):
    df = spark.createDataFrame(
        [("g1", "*1", "*1", "poor metabolizers"),
         ("g1", "*1", "*1", "poor metabolizer"),
         ("g1", "*1", "*1", "slow"),
         ("g2", "*1", "*2", "fast")],
        "gene_name string, h1 string, h2 string, phenotype_name string",
    )
    got = rows(
        collapse_by_key(
            df, ["gene_name", "h1", "h2"],
            strip_trailing_s=["phenotype_name"],
        )
    )
    # pluralization collapses to one value; distinct values sort-joined
    assert got == [
        ("g1", "*1", "*1", "poor metabolizer. slow"),
        ("g2", "*1", "*2", "fast"),
    ]
