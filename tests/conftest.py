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


def executed_plans(spark, action):
    """Run ``action()``; return its result and the formatted physical
    plans of every SQL execution it ran, for plan-shape assertions on
    work the returned frame no longer shows (a ``localCheckpoint`` plans
    as ``Scan ExistingRDD``).

    Reads Spark internals, not public API (written against Spark 4.1):
    the session's SQL status store and ``LiveListenerBus.waitUntilEmpty``
    (package-private on the JVM, reached through py4j). A Spark upgrade
    that moves them breaks this helper, not the code under test.
    """
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def executions():
        it = store.executionsList().iterator()
        while it.hasNext():
            yield it.next()

    # the store keeps each plan in the session's UI explain mode: pin it
    # to the form plan() prints. The store is filled by an asynchronous
    # listener, so drain the bus before each read.
    old_mode = spark.conf.get("spark.sql.ui.explainMode")
    spark.conf.set("spark.sql.ui.explainMode", "formatted")
    try:
        bus.waitUntilEmpty()
        last = max((e.executionId() for e in executions()), default=-1)
        result = action()
        bus.waitUntilEmpty()
    finally:
        spark.conf.set("spark.sql.ui.explainMode", old_mode)
    return result, [
        e.physicalPlanDescription()
        for e in executions()
        if e.executionId() > last
    ]
