from __future__ import annotations

import os

import pytest

from haplorec_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    confs = {
        "spark.driver.memory": "4g",
        "spark.ui.enabled": "false",
        "spark.sql.codegen.cache.maxEntries": "5000",
    }
    # Mode-neutrality CI hook: SPARK_GRAFT_ANSI=false reruns the whole
    # suite under the non-default ANSI setting (default runs ansi=true,
    # the Spark 4 default).
    ansi = os.environ.get("SPARK_GRAFT_ANSI")
    if ansi:
        confs["spark.sql.ansi.enabled"] = ansi
    s = get_spark(
        app_name="haplorec_spark_tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_confs=confs,
    )
    yield s


def rows(df, *cols):
    """Collect as sorted list of tuples for order-insensitive comparison."""
    if cols:
        df = df.select(*cols)
    return sorted(
        tuple(r) for r in df.collect()
    )


def plan(df) -> str:
    """The formatted physical plan, for plan-shape assertions."""
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
    return df._jdf.queryExecution().explainString(
        mode.fromString("formatted")
    )
