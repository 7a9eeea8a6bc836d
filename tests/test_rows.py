"""Row-condensing operator tests.

Pure-kernel goldens come from the reference's RowTest
(/root/reference/test/groovy/haplorec/test/util/RowTest.groovy); the
Spark faces are checked for the same semantics on DataFrames.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from haplorec_spark.operators.rows import (
    collapse,
    collapse_rows,
    no_duplicates,
    no_duplicates_rows,
    report_can_collapse,
    report_merge,
)
from tests.conftest import plan, rows


# -- RowTest.testNoDuplicates goldens ---------------------------------------

NO_DUP_INPUT = [
    {"a": 1, "b": 2, "c": 3, "d": 4, "e": 5, "f": 6, "g": 7},
    {"a": 1, "b": 2, "c": 3, "d": 4, "e": 5, "f": 7, "g": 8},
    {"a": 1, "b": 2, "c": 3, "d": 4, "e": 5, "f": 8, "g": 9},
    {"a": 3, "b": 4, "c": 3, "d": 4, "e": 5, "f": 6, "g": 7},
    {"a": 3, "b": 4, "c": 3, "d": 4, "e": 5, "f": 7, "g": 8},
    {"a": 3, "b": 4, "c": 3, "d": 4, "e": 5, "f": 8, "g": 9},
]

NO_DUP_GROUPS = {
    "A": (["a"], ["a", "b", "c"]),
    "B": (["c"], ["c", "d", "e"]),
    "C": (["e", "f"], ["e", "f", "g"]),
}


def test_no_duplicates_rows_golden():
    assert no_duplicates_rows(NO_DUP_INPUT, NO_DUP_GROUPS) == [
        {"a": 1, "b": 2, "c": 3, "d": 4, "e": 5, "f": 6, "g": 7},
        {"e": 5, "f": 7, "g": 8},
        {"e": 5, "f": 8, "g": 9},
        {"a": 3, "b": 4, "c": 3},
        {},
        {},
    ]


def test_no_duplicates_spark_matches_kernel(spark):
    df = spark.createDataFrame(
        [tuple(r[c] for c in "abcdefg") for r in NO_DUP_INPUT],
        "a int, b int, c int, d int, e int, f int, g int",
    ).withColumn("seq", __import__("pyspark").sql.functions.monotonically_increasing_id())
    out = no_duplicates(df, NO_DUP_GROUPS, order_by=["seq"])
    got = [
        {k: v for k, v in r.asDict().items() if k != "seq" and v is not None}
        for r in out.orderBy("seq").collect()
    ]
    assert got == no_duplicates_rows(NO_DUP_INPUT, NO_DUP_GROUPS)


def test_no_duplicates_plan_is_window_not_cartesian(spark):
    df = spark.createDataFrame(
        [tuple(r[c] for c in "abcdefg") for r in NO_DUP_INPUT],
        "a int, b int, c int, d int, e int, f int, g int",
    ).withColumn("seq", F.monotonically_increasing_id())
    shape = plan(no_duplicates(df, NO_DUP_GROUPS, order_by=["seq"]))
    assert "Window" in shape
    assert "CartesianProduct" not in shape


# -- RowTest.testCollapse goldens -------------------------------------------

def test_collapse_default_non_overlap():
    got = collapse_rows([
        {"a": 1, "b": 2, "c": 3},
        {"c": 3},
        {"a": 1, "b": 2},
    ])
    assert got == [
        {"a": 1, "b": 2, "c": 3},
        {"c": 3, "a": 1, "b": 2},
    ]


def test_collapse_null_counts_as_present_by_default():
    got = collapse_rows([
        {"a": 1, "b": 2, "c": 3},
        {"c": 3},
        {"a": 1, "b": 2, "c": None},
    ])
    assert got == [
        {"a": 1, "b": 2, "c": 3},
        {"c": 3},
        {"a": 1, "b": 2, "c": None},
    ]


def _non_null_can_collapse(header, last, cur):
    last_k = {k for k, v in last.items() if v is not None}
    cur_k = {k for k, v in cur.items() if v is not None}
    return not (last_k & cur_k)


def _fill_merge(header, last, cur):
    for h in header:
        if last.get(h) is None:
            last[h] = cur.get(h)


def test_collapse_custom_non_null_semantics():
    header = ["a", "b", "c"]
    for order in (
        [
            {"a": 1, "b": 2, "c": 3},
            {"c": 3},
            {"a": 1, "b": 2, "c": None},
        ],
        [
            {"a": 1, "b": 2, "c": 3},
            {"a": 1, "b": 2, "c": None},
            {"c": 3},
        ],
    ):
        got = collapse_rows(
            order, header, _non_null_can_collapse, _fill_merge
        )
        assert [
            {k: v for k, v in r.items() if v is not None} for r in got
        ] == [
            {"a": 1, "b": 2, "c": 3},
            {"a": 1, "b": 2, "c": 3},
        ]


# -- report-flavoured collapse (sql/Report.groovy:94-141) -------------------

def test_report_can_collapse_header_order():
    header = ["a", "b", "c"]
    # empty rows always collapse
    assert report_can_collapse(header, {}, {"a": 1})
    assert report_can_collapse(header, {"a": 1}, {})
    # non-overlap + cur strictly after last in header order
    assert report_can_collapse(header, {"a": 1}, {"b": 2, "c": 3})
    # overlap forbidden
    assert not report_can_collapse(header, {"a": 1, "b": 2}, {"b": 3})
    # cur's first column before last's last column forbidden
    assert not report_can_collapse(header, {"b": 1}, {"a": 2})


def test_report_merge_copies_non_null():
    last = {"a": 1, "b": None}
    report_merge(["a", "b"], last, {"b": 2, "a": None})
    assert last == {"a": 1, "b": 2}


def test_collapse_spark_matches_kernel_per_partition(spark):
    # Each partition_by group collapses on its own, in order_by order,
    # as the kernel does on that group's rows; nothing merges across
    # groups. The key and order columns ride along outside the header
    # the collapse rules look at, as in the reports.
    header = ["a", "b", "c"]
    groups = {
        1: [{"a": 1, "b": 2, "c": 3}, {"c": 3}, {"a": 1, "b": 2}],
        2: [{"a": 4}, {"b": 5}, {"c": 6}, {"a": 7, "b": 8}],
    }
    df = spark.createDataFrame(
        [
            (g, seq, *(r.get(h) for h in header))
            for g, rs in groups.items()
            for seq, r in enumerate(rs)
        ],
        "g int, seq int, a int, b int, c int",
    ).repartition(3)

    # Local copies of the module-level rules: the executor's Python
    # worker cannot import this test module.
    def can(_hdr, last, cur):
        return not (
            {h for h in header if last[h] is not None}
            & {h for h in header if cur[h] is not None}
        )

    def merge(_hdr, last, cur):
        for h in header:
            if last[h] is None:
                last[h] = cur[h]

    out = collapse(
        df, order_by=["seq"], partition_by=["g"],
        can_collapse=can, merge=merge,
    )
    got = rows(out, "g", *header)
    want = sorted(
        (g, *(r.get(h) for h in header))
        for g, rs in groups.items()
        for r in collapse_rows(
            [{h: r.get(h) for h in header} for r in rs],
            header, _non_null_can_collapse, _fill_merge,
        )
    )
    assert got == want
    assert got == [(1, 1, 2, 3), (1, 1, 2, 3), (2, 4, 5, 6), (2, 7, 8, None)]
