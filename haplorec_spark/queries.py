"""The engine's query registry over the synthetic TPC-H-ish tables.

Each entry pairs a Spark DataFrame program with an equivalent ANSI-SQL
oracle (run by DuckDB in the driver's correctness harness). Together they
exercise every operator class in SURVEY.md §2 on the generic relational
surface:

aggregation (A1/A6/A7), multi-way joins (J1/J2/J6), relational division
(J3-J5), ordered pivot (A10/A11), pair normalization (F4/J10), window
dedup (A12/W5), disjunctive-join rewrite (J7), FK resolution (S10/W5),
anti joins (division-failure semantics SO3/SO4), and event-time
bucketing (the batch face of streaming §2.8). Rotated out of the
50-entry driver budget in round 5 (each kept below, DuckDB-checked in
test_registry.py; their physical operators appear in other gated
plans): union-distinct, distinct projection, semi join (slots went to
the dedup-span / semantic-dedup / weighted-sampling gates), large
orders, anti join, top supplier (slots went to the chunking / PQ-ADC /
linear-classifier gates), running revenue (slot went to the
text-normalization gate; the ordered running-sum window stays gated
via q_sessionize's cumulative gap-flag sum).

Numeric discipline: every floating aggregate is wrapped in ``round(x, N)``
computed identically on both engines so value-hash comparison is stable;
sums of products keep the same association order (sum over the raw
product expression).
"""

from __future__ import annotations

from dataclasses import dataclass
from importlib import import_module
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from haplorec_spark.operators.division import (
    select_where_either_subset_of,
    select_where_subset_of,
)
from haplorec_spark.operators.pivot import grouped_rows_to_columns

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Oracle comparisons assume naive-UTC timestamps (DuckDB reads parquet
    # timestamps naive); pin the session zone in case the caller's session
    # was built elsewhere with a local zone.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # events.parquet stores TIMESTAMP(NANOS) which Spark's vectorized
        # reader rejects; read the raw int64 nanos and truncate to micros
        # — exactly what DuckDB's microsecond TIMESTAMP does on read, so
        # oracle comparisons see identical instants.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # integer DIV: a double division would round at ~1.7e15 and
            # shift some timestamps by 1 microsecond
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        elif ts_type == "timestamp_ntz":
            # TIMESTAMP(MICROS) without tz annotation: cast to the
            # session-zone timestamp — a no-op on the wall-clock values
            # because the session zone is pinned UTC above, and it keeps
            # every downstream timestamp function (unix_micros, window,
            # lag-gap arithmetic) on one type
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


@dataclass
class Query:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    sql: str | None  # DuckDB oracle; None -> rows-only check
    doc: str = ""


_REGISTRY: dict[str, Query] = {}


def register(name: str, sql: str | None, doc: str = ""):
    def deco(fn):
        _REGISTRY[name] = Query(name, fn, sql, doc)
        return fn
    return deco


#: Queries ADDED to the declared set after round 11. The driver
#: contract allows adding declared queries but never removing one, and
#: its correctness harness checks at most the FIRST 50 in registration
#: order (round 1 registered 52 and the last two got no CORRECTNESS
#: row) — so every round-11 query must keep its position inside the
#: checked 50 and additions are pushed to the tail, where an absent
#: correctness row costs nothing that round 11 had.
ADDED_AFTER_BUDGET = ("q_dedup_verified_pairs",)


#: Modules whose import registers queries. registry() lists this
#: module's queries first, then each operator module's in this order,
#: each module's in source order, so the order does not depend on which
#: module a process happened to import first.
REGISTERING_MODULES = (
    __name__,
    "haplorec_spark.operators.text",
    "haplorec_spark.operators.sampling",
    "haplorec_spark.operators.dedup",
    "haplorec_spark.operators.multimodal",
    "haplorec_spark.operators.web",
    "haplorec_spark.operators.similarity",
    "haplorec_spark.operators.bloom",
    "haplorec_spark.operators.html",
)


def registry() -> dict[str, Query]:
    # Import side-effect registration of the training-data operators.
    for module in REGISTERING_MODULES[1:]:
        import_module(module)
    reg = {
        q.name: q
        for q in sorted(
            _REGISTRY.values(),
            key=lambda q: (
                REGISTERING_MODULES.index(q.fn.__module__),
                q.fn.__code__.co_firstlineno,
            ),
        )
    }
    for name in ADDED_AFTER_BUDGET:
        q = reg.pop(name, None)
        if q is not None:
            reg[name] = q
    return reg


# ---------------------------------------------------------------- A1/A6/A7

@register(
    "q01_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                    AS sum_qty,
           round(sum(l_extendedprice), 2)                               AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)            AS sum_disc_price,
           round(avg(l_quantity), 6)                                    AS avg_qty,
           round(avg(l_extendedprice), 6)                               AS avg_price,
           count(*)                                                     AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    "TPC-H Q1-style pricing summary: scan + filter + hash aggregate",
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ------------------------------------------------------------------- J1/J2

@register(
    "q03_shipping_priority",
    """
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate  > TIMESTAMP '1996-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    "TPC-H Q3-style: selective 3-way join + aggregate + top-k",
)
def q03_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1996-03-15").cast("timestamp")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@register(
    "q05_local_supplier_volume",
    """
    SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
    "TPC-H Q5-style: 6-way join with dimension filters",
)
def q05_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            s,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(r, F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


# ---------------------------------------------------------------- J3 (division)

_DIVISION_SQL = """
    WITH a AS (SELECT DISTINCT p_type, p_brand FROM part),
         b AS (SELECT DISTINCT l_suppkey, p_brand
               FROM lineitem JOIN part ON l_partkey = p_partkey),
         cnt AS (SELECT a.p_type, b.l_suppkey, count(*) AS c
                 FROM b JOIN a USING (p_brand)
                 GROUP BY a.p_type, b.l_suppkey),
         asz AS (SELECT p_type, count(*) AS n FROM a GROUP BY p_type),
         bsz AS (SELECT l_suppkey, count(*) AS n FROM b GROUP BY l_suppkey)
"""


@register(
    "q_division_subset",
    _DIVISION_SQL + """
    SELECT DISTINCT cnt.p_type, cnt.l_suppkey
    FROM cnt JOIN asz USING (p_type)
    WHERE cnt.c = asz.n
    """,
    "relational division: suppliers covering every brand of a part type",
)
def q_division_subset(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = table(spark, sf_dir, "part")
    li = table(spark, sf_dir, "lineitem")
    type_brands = part.select("p_type", "p_brand").distinct()
    supp_brands = (
        li.join(part, li.l_partkey == part.p_partkey)
        .select("l_suppkey", "p_brand")
        .distinct()
    )
    return select_where_subset_of(
        type_brands, supp_brands, ["p_brand"],
        a_group_by=["p_type"], b_group_by=["l_suppkey"], broadcast_a=True,
    )


@register(
    "q_division_either_subset",
    _DIVISION_SQL + """
    SELECT DISTINCT cnt.p_type, cnt.l_suppkey
    FROM cnt JOIN asz USING (p_type) JOIN bsz USING (l_suppkey)
    WHERE cnt.c = least(asz.n, bsz.n)
    """,
    "either-direction set containment between brand sets",
)
def q_division_either_subset(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = table(spark, sf_dir, "part")
    li = table(spark, sf_dir, "lineitem")
    type_brands = part.select("p_type", "p_brand").distinct()
    supp_brands = (
        li.join(part, li.l_partkey == part.p_partkey)
        .select("l_suppkey", "p_brand")
        .distinct()
    )
    return select_where_either_subset_of(
        type_brands, supp_brands, ["p_brand"],
        a_group_by=["p_type"], b_group_by=["l_suppkey"], broadcast_a=True,
    )


# --------------------------------------------------------------- A10 (pivot)

_PIVOT_SQL = """
    WITH g AS (
        SELECT l_orderkey,
               list_sort(list({'ln': l_linenumber, 'pk': l_partkey,
                               'q': l_quantity})) AS rs,
               count(*) AS n
        FROM lineitem GROUP BY l_orderkey
    )
    SELECT l_orderkey,
           rs[1].pk AS partkey1, rs[2].pk AS partkey2,
           rs[1].q  AS qty1,     rs[2].q  AS qty2
    FROM g WHERE n <= 2
"""


@register(
    "q_pivot_order_lines",
    _PIVOT_SQL,
    "ordered positional pivot: <=2 order lines into one wide row",
)
def q_pivot_order_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return grouped_rows_to_columns(
        li.select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity"),
        ["l_orderkey"],
        {
            "l_orderkey": "l_orderkey",
            "l_partkey": ["partkey1", "partkey2"],
            "l_quantity": ["qty1", "qty2"],
        },
        order_rows_by=["l_linenumber"],
    )


@register(
    "q_pair_normalize",
    _PIVOT_SQL.replace(
        "SELECT l_orderkey,\n           rs[1].pk AS partkey1, rs[2].pk AS partkey2,\n           rs[1].q  AS qty1,     rs[2].q  AS qty2\n    FROM g WHERE n <= 2",
        """SELECT l_orderkey,
           least(rs[1].pk, rs[2].pk)    AS partkey1,
           greatest(rs[1].pk, rs[2].pk) AS partkey2
    FROM g WHERE n = 2""",
    ),
    "pair ordering via least/greatest (genotype hap1<=hap2 analog)",
)
def q_pair_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    piv = q_pivot_order_lines(spark, sf_dir)
    return piv.filter(F.col("partkey2").isNotNull()).select(
        "l_orderkey",
        F.least("partkey1", "partkey2").alias("partkey1"),
        F.greatest("partkey1", "partkey2").alias("partkey2"),
    )


# ------------------------------------------------------- A12/W5 (window dedup)

# Not a driver gate since round 5 (slot rotated to q_decontaminate):
# the partitioned row_number window is the same physical shape as the
# still-gated q_topk_orders_per_segment (and W4 stays gated through
# q_report_no_duplicates' first-seen window). DuckDB-checked in
# test_registry.py.
def q_first_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_orderdate")
    )


# --------------------------------------------------------- A4/SO1, A3, SO3/SO4

# Not driver gates since round 5: q_union_distinct / q_distinct_projection /
# q_semi_join are one-liner Spark calls whose physical operators (union +
# HashAggregate distinct, left-semi BroadcastHashJoin) appear in many other
# gated plans (dedup_clusters' edge union, ann_recall's semi join, every
# .distinct() in the dedup family). Their registry slots rotated to the
# round-4 operator families (q_dedup_spans, q_semantic_dedup,
# q_sample_weighted) so the 50-entry driver cap lands on code that had no
# SQL-oracle gate. Still DuckDB-checked by tests/test_registry.py.
def q_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    a = c.filter(
        (F.col("c_mktsegment") == "MACHINERY") & (F.col("c_acctbal") > 3000)
    ).select("c_custkey")
    b = o.filter(F.col("o_totalprice") > 150000).select(
        F.col("o_custkey").alias("c_custkey")
    )
    return a.union(b).distinct()


def q_distinct_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "part").select("p_brand", "p_type").distinct()


def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = table(spark, sf_dir, "supplier")
    li = table(spark, sf_dir, "lineitem")
    return s.join(
        li, s.s_suppkey == li.l_suppkey, "left_semi"
    ).select("s_suppkey", "s_name")


# Not a driver gate since round 5 (slot rotated to q_ann_pq_adc): the
# left-anti join physical operator is exercised by the division gates
# (anti-join failure branch) and decontaminate's plan. The 1998+
# restriction keeps the check non-vacuous (every customer has SOME
# order). Still DuckDB-checked by tests/test_registry.py.
# Not a driver gate (the 50-slot budget is full): the embeddings-table
# sanity audit (profiling.embedding_profile). DuckDB-checked by
# tests/test_registry.py::ROTATED_OUT_ORACLES.
def q_embedding_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from haplorec_spark.operators.profiling import embedding_profile

    return embedding_profile(table(spark, sf_dir, "embeddings"))


def _language_ngram_oracle_sql(min_score: float | None = None) -> str:
    """DuckDB replica of text.language_id_ngram, built from the SAME
    trigram-profile literals so implementation and oracle agree on the
    profiles by construction (the established lexicon-gate pattern).
    Promoted into the driver 50 in round 7 (q_collapse_by_key rotated
    out — its physical shape is covered by q_report_collapse).
    ``min_score`` adds the unknown-language floor arm (round 8): below
    it the argmax is replaced by 'und', replaying
    text._floor_pred. Round 9: the trigram stream runs over the
    script-segmented canonical form (text.segmented_text_sql — no-op
    on spaced scripts, per-character isolation on zh/ja/th), replayed
    via the shared _duck_segmented_sql twin."""
    from haplorec_spark.operators.text import (
        LANG_TRIGRAM_PROFILES,
        _duck_segmented_sql,
    )

    score_exprs = []
    for lang, prof in LANG_TRIGRAM_PROFILES.items():
        arr = ", ".join("'" + t + "'" for t in prof)
        score_exprs.append(
            f"round(len(list_filter(t3, t -> list_contains([{arr}], t)))"
            f" / len(t3)::DOUBLE, 6) AS s_{lang}"
        )
    langs = list(LANG_TRIGRAM_PROFILES)
    best = "greatest(" + ", ".join(f"s_{la}" for la in langs) + ")"
    pred = "CASE " + " ".join(
        f"WHEN s_{la} = {best} THEN '{la}'" for la in langs
    ) + " END"
    if min_score is not None:
        pred = (
            f"CASE WHEN {best} >= {min_score!r} THEN ({pred}) "
            f"ELSE 'und' END"
        )
    seg = _duck_segmented_sql("lower(text)")
    return f"""
        WITH t AS (SELECT doc_id,
                          list_transform(
                              generate_series(1, greatest(length(s) - 2, 1)),
                              i -> substr(s, i, 3)) AS t3
                   FROM (SELECT doc_id, ' ' || {seg} || ' ' AS s
                         FROM documents)),
             scored AS (SELECT doc_id, {', '.join(score_exprs)} FROM t)
        SELECT doc_id, {pred} AS predicted_lang, {best} AS lang_score
        FROM scored
    """


@register(
    "q_text_language_ngram",
    _language_ngram_oracle_sql(),
    "trigram-profile language ID (15 languages incl. zh/ja/ko/th), "
    "map-side literal "
    "profiles (training-data text-analysis family)",
)
def q_text_language_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from haplorec_spark.operators.text import language_id_ngram

    return language_id_ngram(table(spark, sf_dir, "documents"))


# Not a driver gate (the 50-slot budget is full): the TRAINED
# language-ID rung (text.language_id_model) scoring with the pinned
# distilled one-vs-rest trigram model. DuckDB-checked by
# tests/test_registry.py::ROTATED_OUT_ORACLES, whose SQL embeds the
# same PINNED_LANGID_MODEL literals (bias + per-trigram weights +
# sigmoid + declaration-order argmax).
def q_text_language_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    from haplorec_spark.operators.text import (
        PINNED_LANGID_MODEL,
        language_id_model,
    )

    return language_id_model(
        table(spark, sf_dir, "documents"), PINNED_LANGID_MODEL
    )


# Not driver gates (the 50-slot budget is full): the round-9
# space-free-script faces over real parquet. On the all-Latin sf
# tables the script-segmented stream is the documented exact no-op,
# so these oracles pin the expression-level parity of the
# segmentation/waiver machinery on real data; the CJK behavior itself
# is fixture-oracle-checked in tests/test_text.py (sf documents carry
# no CJK text to exercise it).
def q_text_quality_script(spark: SparkSession, sf_dir: str) -> DataFrame:
    from haplorec_spark.operators.text import quality_score

    return quality_score(
        table(spark, sf_dir, "documents"), segmentation="script"
    )


def q_script_fractions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from haplorec_spark.operators.text import script_fractions

    return script_fractions(table(spark, sf_dir, "documents"))


# Not a driver gate (the 50-slot budget is full): weekly cohort
# retention over the events table; DuckDB oracle replays the
# ISO-Monday week truncation and day/7 period arithmetic
# (test_registry.py).
def q_retention_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from haplorec_spark.operators.retention import retention_cohorts

    return retention_cohorts(table(spark, sf_dir, "events"))


# Driver gate since round 10 (slot rotated in from
# q_salted_event_type_stats): the ordered-funnel family over the
# events table; the oracle unrolls the single-attempt fold as
# per-step constrained first-match joins.
@register(
    "q_funnel_events",
    """
    WITH e AS (SELECT user_id, ts, event_id, event_type FROM events
               WHERE event_type IN ('view', 'click', 'purchase')),
         m1 AS (SELECT user_id, ts AS t1, event_id AS i1
                FROM (SELECT user_id, ts, event_id,
                             row_number() OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS rn
                      FROM e WHERE event_type = 'view')
                WHERE rn = 1),
         m2 AS (SELECT user_id, t1, ts AS t2, event_id AS i2
                FROM (SELECT e.user_id, m1.t1, e.ts, e.event_id,
                             row_number() OVER (PARTITION BY e.user_id
                                 ORDER BY e.ts, e.event_id) AS rn
                      FROM e JOIN m1 USING (user_id)
                      WHERE e.event_type = 'click'
                        AND (e.ts, e.event_id) > (m1.t1, m1.i1)
                        AND epoch_us(e.ts) - epoch_us(m1.t1)
                            <= 259200000000::BIGINT)
                WHERE rn = 1),
         m3 AS (SELECT user_id
                FROM (SELECT e.user_id,
                             row_number() OVER (PARTITION BY e.user_id
                                 ORDER BY e.ts, e.event_id) AS rn
                      FROM e JOIN m2 USING (user_id)
                      WHERE e.event_type = 'purchase'
                        AND (e.ts, e.event_id) > (m2.t2, m2.i2)
                        AND epoch_us(e.ts) - epoch_us(m2.t1)
                            <= 259200000000::BIGINT)
                WHERE rn = 1),
         u AS (SELECT DISTINCT user_id FROM e)
    SELECT u.user_id,
           (CASE WHEN m3.user_id IS NOT NULL THEN 3
                 WHEN m2.user_id IS NOT NULL THEN 2
                 WHEN m1.user_id IS NOT NULL THEN 1
                 ELSE 0 END)::INT AS depth,
           m1.t1 AS t_first
    FROM u
    LEFT JOIN m1 USING (user_id)
    LEFT JOIN m2 USING (user_id)
    LEFT JOIN m3 USING (user_id)
    """,
    "ordered funnel view->click->purchase within a 72 h budget: one "
    "user-keyed shuffle + map-side array fold vs per-step first-match "
    "joins",
)
def q_funnel_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from haplorec_spark.operators.funnel import funnel_depth

    # 72 h budget: at sf0.001 the depths split 5/5/5 (every user
    # completes an unbudgeted funnel in this dense synthetic stream,
    # which would make the gate vacuous)
    return funnel_depth(
        table(spark, sf_dir, "events"), ["view", "click", "purchase"],
        within_seconds=259200,
    )


# Not a driver gate (the 50-slot budget is full): crawl-decode QA —
# per-character replacement/control/mojibake rates; DuckDB oracle from
# the shared duck_encoding_quality_sql twin (test_registry.py). The
# synthetic corpus is clean, so damage is seeded deterministically:
# every 5th doc gains a mojibake tail, every 7th a U+FFFD, every 11th
# a stray control character.
def q_encoding_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from haplorec_spark.operators.text import encoding_quality

    docs = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            "concat(text,"
            " CASE WHEN doc_id % 5 = 0 THEN ' Ã© â€™ broken' ELSE '' END,"
            " CASE WHEN doc_id % 7 = 0 THEN ' � lost' ELSE '' END,"
            " CASE WHEN doc_id % 11 = 0 THEN ' ctl' ELSE '' END)"
        ).alias("text"),
    )
    return encoding_quality(docs)


def _verified_pairs_oracle_sql() -> str:
    """The bounded star-verification decision procedure replayed end
    to end in DuckDB: shared md5 minhash/banding, window-sized
    buckets (all pairs at m <= 4, star edges above), exact
    1-word-shingle Jaccard, hub acceptance at >= 0.8, margin-band
    ambiguity in [0.65, 0.8), escalation against the bucket's first 5
    members (sample 4 + hub, hub edges excluded via the star
    anti-join), same rounding. Promoted into the 50 driver gates in
    round 12 (the round-11 flagship semantics)."""
    w17 = " ".join(f"w{i}" for i in range(1, 18))
    esc = " UNION ALL ".join(
        f"SELECT {i} AS doc_id, '{t}' AS text"
        for i, t in [
            (300000, f"{w17} h0a h0b h0c"),
            (300001, f"{w17} x0a q0z x0c"),
            (300002, f"{w17} x0a x0b x0c"),
            (300003, f"{w17} h0a h0b h0c"),
            (300004, f"{w17} h0a h0b h0c"),
            (300005, f"{w17} h0a h0b h0c"),
        ]
    )
    jac = (
        "round(len(list_intersect(wa.sh, wb.sh))::DOUBLE /"
        " (len(wa.sh) + len(wb.sh)"
        " - len(list_intersect(wa.sh, wb.sh))), 6)"
    )
    return f"""
    WITH d AS (SELECT doc_id, text FROM documents
               UNION ALL
               SELECT 200000 + k AS doc_id, text
               FROM documents, range(10) t(k) WHERE doc_id = 0
               UNION ALL {esc}),
         w AS (SELECT doc_id,
                      list_distinct(string_split(lower(text), ' ')) AS sh
               FROM d),
         tok AS (SELECT doc_id, unnest(sh) AS shingle FROM w),
         sig AS (SELECT doc_id, seed,
                        min(md5(seed::VARCHAR || '|' || shingle)) AS mh
                 FROM tok CROSS JOIN range(6) t(seed)
                 GROUP BY doc_id, seed),
         sized AS (SELECT doc_id, seed AS band, mh AS band_key,
                          count(*) OVER (PARTITION BY seed, mh) AS m,
                          min(doc_id) OVER (PARTITION BY seed, mh) AS hub,
                          row_number() OVER (PARTITION BY seed, mh
                                             ORDER BY doc_id) AS rk
                   FROM sig),
         small_pairs AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
                         FROM sized a JOIN sized b USING (band, band_key)
                         WHERE a.m <= 4 AND a.doc_id < b.doc_id),
         star AS (SELECT band, band_key, hub AS a, doc_id AS b
                  FROM sized WHERE m > 4 AND doc_id <> hub),
         cand AS (SELECT a, b FROM small_pairs
                  UNION SELECT a, b FROM star),
         jac AS (SELECT c.a, c.b, {jac} AS j
                 FROM cand c JOIN w wa ON wa.doc_id = c.a
                             JOIN w wb ON wb.doc_id = c.b),
         accepted AS (SELECT a, b, j FROM jac WHERE j >= 0.8),
         starj AS (SELECT s.band, s.band_key, s.b, jac.j
                   FROM star s
                   JOIN jac ON jac.a = s.a AND jac.b = s.b),
         ambiguous AS (SELECT DISTINCT band, band_key, b AS member
                       FROM starj
                       WHERE j >= 0.65 AND j < 0.8
                         AND b NOT IN (SELECT b FROM accepted)),
         samples AS (SELECT band, band_key, doc_id AS s FROM sized
                     WHERE m > 4 AND rk <= 5),
         esc_pairs AS (SELECT DISTINCT smp.s AS a, am.member AS b
                       FROM ambiguous am
                       JOIN samples smp USING (band, band_key)
                       WHERE smp.s < am.member
                         AND NOT EXISTS (SELECT 1 FROM star st
                                         WHERE st.a = smp.s
                                           AND st.b = am.member)),
         escj AS (SELECT a, b, j FROM (
                      SELECT e.a, e.b, {jac} AS j
                      FROM esc_pairs e
                      JOIN w wa ON wa.doc_id = e.a
                      JOIN w wb ON wb.doc_id = e.b)
                  WHERE j >= 0.8)
    SELECT DISTINCT a AS doc_id_a, b AS doc_id_b, j AS jaccard
    FROM (SELECT * FROM accepted UNION ALL SELECT * FROM escj)
    """


# Promoted into the 50 driver gates in round 12 (slot from
# q_rollup_pricing, whose oracle moved to the rotated-out registry):
# the round-11 bounded star-verification path end-to-end —
# small-bucket all-pairs + star-edge hub checks + margin-band
# escalation against the bucket sample; the DuckDB oracle replays the
# whole decision procedure (minhash/banding via the shared md5
# arithmetic, window-sized buckets, exact Jaccard, the ambiguity
# scan, and the sample escalation). Seeds make every branch
# non-vacuous: a 10-copy family of doc 0 (over-cap star bucket,
# hub-cleared drops) and the searched 6-doc escalation family whose
# margin-band member is reachable ONLY through escalation. 1-word
# shingles and 6 one-row bands so the family's searched bucket
# structure holds.
@register(
    "q_dedup_verified_pairs",
    _verified_pairs_oracle_sql(),
    "bounded star-verification: Jaccard-verified near-dup pairs with "
    "O(m·bands) work on over-cap families (hub edges + margin-band "
    "escalation)",
)
def q_dedup_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from haplorec_spark.operators.dedup import lsh_verified_pairs

    w17 = " ".join(f"w{i}" for i in range(1, 18))
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    family = (
        docs.filter(F.col("doc_id") == 0)
        .crossJoin(spark.range(10).select(F.col("id").alias("_k")))
        .select((F.lit(200000) + F.col("_k")).alias("doc_id"), "text")
    )
    esc = spark.createDataFrame(
        [
            (300000, f"{w17} h0a h0b h0c"),
            (300001, f"{w17} x0a q0z x0c"),
            (300002, f"{w17} x0a x0b x0c"),
            (300003, f"{w17} h0a h0b h0c"),
            (300004, f"{w17} h0a h0b h0c"),
            (300005, f"{w17} h0a h0b h0c"),
        ],
        "doc_id long, text string",
    )
    return lsh_verified_pairs(
        docs.unionByName(family).unionByName(esc),
        threshold=0.8, margin=0.15, escalate_sample=4,
        num_hashes=6, bands=6, shingle_n=1, hot_bucket_cap=4,
    )


# Not a driver gate (the 50-slot budget is full): the audit face of
# the bounded star-verification path — decision-class counts per
# bucket-size band on the SAME seeded corpus as
# q_dedup_verified_pairs, so the false-keep budget (the
# below_margin_kept row) is observable before a big run; DuckDB
# oracle replays the classification (test_registry.py).
def q_verification_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from haplorec_spark.operators.dedup import verification_profile

    w17 = " ".join(f"w{i}" for i in range(1, 18))
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    family = (
        docs.filter(F.col("doc_id") == 0)
        .crossJoin(spark.range(10).select(F.col("id").alias("_k")))
        .select((F.lit(200000) + F.col("_k")).alias("doc_id"), "text")
    )
    esc = spark.createDataFrame(
        [
            (300000, f"{w17} h0a h0b h0c"),
            (300001, f"{w17} x0a q0z x0c"),
            (300002, f"{w17} x0a x0b x0c"),
            (300003, f"{w17} h0a h0b h0c"),
            (300004, f"{w17} h0a h0b h0c"),
            (300005, f"{w17} h0a h0b h0c"),
        ],
        "doc_id long, text string",
    )
    return verification_profile(
        docs.unionByName(family).unionByName(esc),
        threshold=0.8, margin=0.15,
        num_hashes=6, bands=6, shingle_n=1, hot_bucket_cap=4,
    )


# Not a driver gate (the 50-slot budget is full): per-adjacent-step
# funnel timings — median/p90 seconds-to-convert from the SAME
# single-shuffle fold as funnel_depth; DuckDB oracle reconstructs the
# single-attempt witness chain greedily (first view, first qualifying
# click, first qualifying purchase) with row_number windows
# (test_registry.py). The 72 h budget matches q_funnel_events so all
# three depths are populated at sf0.001.
def q_funnel_step_timings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from haplorec_spark.operators.funnel import funnel_step_timings

    return funnel_step_timings(
        table(spark, sf_dir, "events"), ["view", "click", "purchase"],
        within_seconds=259200,
    )


# Not a driver gate (the 50-slot budget is full): mojibake REPAIR —
# the detection operator's reversing twin; DuckDB oracle from the
# shared fix_encoding_chain_sql substitution chain with per-engine
# damage-guard spellings (test_registry.py). Seeds cover all three
# outcomes: repairable cp1252 mojibake (every 5th doc — repaired),
# U+FFFD loss the table cannot help (every 7th — untouched by the
# strictly-reduces guard), and legitimate accented text (every 3rd —
# untouched by table construction).
def q_fix_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from haplorec_spark.operators.text import fix_encoding

    docs = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            "concat(text,"
            " CASE WHEN doc_id % 5 = 0"
            "      THEN ' CafÃ© â€™ donâ€™t â‚¬9' ELSE '' END,"
            " CASE WHEN doc_id % 7 = 0 THEN ' � lost' ELSE '' END,"
            " CASE WHEN doc_id % 3 = 0"
            "      THEN ' São café naïve' ELSE '' END)"
        ).alias("text"),
    )
    return fix_encoding(docs)


# Not a driver gate (the 50-slot budget is full): the CAPPED LSH
# candidate path — all pairs for buckets <= cap, star edges above —
# against a DuckDB oracle expressing the same branch split via window
# counts (test_registry.py). A seeded 10-copy family makes the star
# branch non-vacuous at sf0.001 (cap=3); natural small buckets cover
# the all-pairs branch.
def q_dedup_minhash_lsh_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    from haplorec_spark.operators.dedup import lsh_candidate_pairs

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    family = (
        docs.filter(F.col("doc_id") == 0)
        .crossJoin(spark.range(10).select(F.col("id").alias("_k")))
        .select((F.lit(200000) + F.col("_k")).alias("doc_id"), "text")
    )
    return lsh_candidate_pairs(
        docs.unionByName(family), hot_bucket_cap=3
    )


# Promoted into the 50 in round 11 (slot from q_events_user_stats):
# the retry-window funnel (windowFunnel semantics — max depth over ALL
# within-budget attempts); the oracle expresses the same maximum as
# per-level constrained joins with max-start witnesses. The 12 h
# budget makes retry non-vacuous: first attempts expire and later
# step-1 occurrences complete.
@register(
    "q_funnel_events_retry",
    """
    WITH e AS (SELECT user_id, ts, event_id, event_type FROM events
               WHERE event_type IN ('view', 'click', 'purchase')),
         v AS (SELECT user_id, ts, event_id FROM e
               WHERE event_type = 'view'),
         c AS (SELECT user_id, ts, event_id FROM e
               WHERE event_type = 'click'),
         p AS (SELECT user_id, ts, event_id FROM e
               WHERE event_type = 'purchase'),
         d1 AS (SELECT user_id, max(ts) AS s FROM v GROUP BY user_id),
         d2 AS (SELECT v.user_id, max(v.ts) AS s
                FROM v JOIN c ON c.user_id = v.user_id
                 AND (c.ts, c.event_id) > (v.ts, v.event_id)
                 AND epoch_us(c.ts) - epoch_us(v.ts)
                     <= 43200000000::BIGINT
                GROUP BY v.user_id),
         d3 AS (SELECT v.user_id, max(v.ts) AS s
                FROM v
                JOIN c ON c.user_id = v.user_id
                 AND (c.ts, c.event_id) > (v.ts, v.event_id)
                JOIN p ON p.user_id = v.user_id
                 AND (p.ts, p.event_id) > (c.ts, c.event_id)
                 AND epoch_us(p.ts) - epoch_us(v.ts)
                     <= 43200000000::BIGINT
                GROUP BY v.user_id),
         u AS (SELECT DISTINCT user_id FROM e)
    SELECT u.user_id,
           (CASE WHEN d3.user_id IS NOT NULL THEN 3
                 WHEN d2.user_id IS NOT NULL THEN 2
                 WHEN d1.user_id IS NOT NULL THEN 1
                 ELSE 0 END)::INT AS depth,
           (CASE WHEN d3.user_id IS NOT NULL THEN d3.s
                 WHEN d2.user_id IS NOT NULL THEN d2.s
                 ELSE d1.s END) AS t_first
    FROM u
    LEFT JOIN d1 USING (user_id)
    LEFT JOIN d2 USING (user_id)
    LEFT JOIN d3 USING (user_id)
    """,
    "windowFunnel retry semantics: exact DP, max depth over all "
    "within-budget attempts, max-start witness",
)
def q_funnel_events_retry(spark: SparkSession, sf_dir: str) -> DataFrame:
    from haplorec_spark.operators.funnel import funnel_depth

    return funnel_depth(
        table(spark, sf_dir, "events"), ["view", "click", "purchase"],
        within_seconds=43200, retry=True,
    )


# Not a driver gate (the 50-slot budget is full): the C4-style
# blocked-terms gate's audit face; DuckDB oracle from the shared
# duck_blocked_term_sql twin (test_registry.py). The term list is
# real corpus vocabulary so both outcomes appear at sf0.001.
def q_blocked_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from haplorec_spark.operators.text import blocked_term_fraction

    return blocked_term_fraction(
        table(spark, sf_dir, "documents"), ["spark", "join", "window"]
    )


# Not a driver gate (the 50-slot budget is full): the stupid-backoff
# trigram rung of the perplexity ladder; DuckDB oracle replays counts
# and backoff arithmetic (test_registry.py).
def q_text_trigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from haplorec_spark.operators.text import trigram_logprob_score

    return trigram_logprob_score(table(spark, sf_dir, "documents"))


# Not a driver gate (the 50-slot budget is full): quality-aware
# survivor selection over the gated q_dedup_clusters output — its
# DuckDB oracle composes that gate's own SQL (test_registry.py), so
# clusters and survivors stay consistent by construction.
def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from haplorec_spark.operators.dedup import (
        dedup_clusters,
        dedup_survivors,
        lsh_candidate_pairs,
    )

    docs = table(spark, sf_dir, "documents")
    clusters = dedup_clusters(lsh_candidate_pairs(docs))
    scored = docs.withColumn("score", F.length("text"))
    return dedup_survivors(scored, clusters, score_col="score").select(
        "doc_id", "source"
    )


# Not a driver gate since round 9 (slot rotated to q_html_extract, the
# new crawl-extraction family): the normalize chain is a pure map-side
# regexp program whose every rule also runs inside other gated plans
# (the dedup hashing prelude, quality metrics). Still DuckDB-checked by
# tests/test_registry.py (ROTATED_OUT_ORACLES["q_text_normalize"]).
def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from haplorec_spark.operators.text import normalize_text

    return normalize_text(
        table(spark, sf_dir, "documents"),
        fold_accents=True,
        strip_punctuation=True,
        fold_digits=True,
    )


# Not driver gates (the 50-slot budget is full): the unknown-language
# floor arm of each language-ID rung (round 8). Thresholds sit
# mid-distribution at sf0.001 (measured percentiles) so each oracle
# exercises BOTH outcomes — some documents flip to 'und', some keep
# their argmax label; tests/test_registry.py asserts non-vacuity.
# DuckDB-checked by ROTATED_OUT_ORACLES.
LANGID_FLOORS = {"lexicon": 0.051, "ngram": 0.1003, "model": 0.068}


def q_text_language_id_floor(spark: SparkSession, sf_dir: str) -> DataFrame:
    from haplorec_spark.operators.text import language_id

    return language_id(
        table(spark, sf_dir, "documents"),
        min_score=LANGID_FLOORS["lexicon"],
    )


def q_text_language_ngram_floor(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from haplorec_spark.operators.text import language_id_ngram

    return language_id_ngram(
        table(spark, sf_dir, "documents"),
        min_score=LANGID_FLOORS["ngram"],
    )


def q_text_language_model_floor(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from haplorec_spark.operators.text import (
        PINNED_LANGID_MODEL,
        language_id_model,
    )

    return language_id_model(
        table(spark, sf_dir, "documents"),
        PINNED_LANGID_MODEL,
        min_score=LANGID_FLOORS["model"],
    )


# Not a driver gate (the 50-slot budget is full): ANN recall@k — the
# evaluation harness that turns the approximate-index knobs (LSH
# probe flips, IVF nprobe, PQ m, refine) into measured recall curves.
# Approx = the LSH gate's result, exact = the brute-force gate's, so
# the DuckDB oracle composes those two gates' own oracle SQL verbatim
# (tests/test_registry.py) — implementation and oracle agree on both
# inputs by construction.
def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from haplorec_spark.operators.similarity import (
        ann_lsh_topk,
        ann_recall,
        brute_force_topk,
    )

    emb = table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 10)
    return ann_recall(
        ann_lsh_topk(emb, probes, k=5),
        brute_force_topk(emb, probes, k=5),
    )


# Not a driver gate (the 50-slot budget is full): the unigram-LM
# tokenizer's candidate-piece seeding — the SQL-expressible half of
# the trainer (the EM loop itself is iterative and replica-pinned in
# tests/test_unigram.py). DuckDB-checked by ROTATED_OUT_ORACLES.
def q_unigram_seed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from haplorec_spark.operators.bpe import bpe_word_counts
    from haplorec_spark.operators.unigram import unigram_seed_counts

    return unigram_seed_counts(
        bpe_word_counts(table(spark, sf_dir, "documents")),
        max_piece_len=4,
    )


# Not a driver gate (the 50-slot budget is full): GPT-2-regex
# pre-tokenized word counts — the word-frequency table the tokenizer
# trainer consumes under pretokenize="gpt2" (contraction suffixes,
# unicode letter/digit/punctuation category runs, leading-space
# ownership, case preserved). DuckDB-checked by
# tests/test_registry.py::ROTATED_OUT_ORACLES via an RE2-safe
# equivalent (RE2 lacks the pattern's (?!\S) lookahead; a marker
# inserted before the last whitespace of each run reproduces the
# last-space-glues-to-the-word behavior exactly — fixture-proven in
# tests/test_bpe.py against a pure-Python replica).
def q_bpe_gpt2_word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from haplorec_spark.operators.bpe import bpe_word_counts

    return bpe_word_counts(
        table(spark, sf_dir, "documents"), pretokenize="gpt2"
    )


# Not a driver gate (the 50-slot budget is full): the max_doc_freq
# hot-shingle cut — the 100 TB lever of ngram_jaccard_pairs, capping
# the shingle self-join's hottest keys — DuckDB-checked by
# tests/test_registry.py::ROTATED_OUT_ORACLES with a threshold chosen
# so the cut CHANGES the answer at sf0.001 (df > 5 shingles exist and
# carry pairs; tests assert cut != uncut).
def q_dedup_ngram_jaccard_dfcut(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from haplorec_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        table(spark, sf_dir, "documents"),
        threshold=0.2,
        max_doc_freq=0.01,
    )


def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp")
    )
    return c.join(
        o, c.c_custkey == o.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


# ------------------------------------------------- J7 (disjunctive join rewrite)

@register(
    "q_theta_or_join",
    _PIVOT_SQL.replace(
        "SELECT l_orderkey,\n           rs[1].pk AS partkey1, rs[2].pk AS partkey2,\n           rs[1].q  AS qty1,     rs[2].q  AS qty2\n    FROM g WHERE n <= 2",
        """, pairs AS (
        SELECT l_orderkey, rs[1].pk AS pk1, rs[2].pk AS pk2
        FROM g WHERE n = 2
    )
    SELECT DISTINCT pairs.l_orderkey, p.p_partkey, p.p_brand
    FROM pairs JOIN part p
      ON p.p_partkey = pairs.pk1 OR p.p_partkey = pairs.pk2""",
    ),
    "disjunctive ON (x = a OR x = b) rewritten as explode + equi-join",
)
def q_theta_or_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The reference's report layer joins haplotype rows to genotypes on
    # (hap = hap1 OR hap = hap2) (util/pipeline/Report.groovy:72-85); a
    # BNL join at scale. Spark-first rewrite: unpivot the two slots and
    # equi-join, then dedup (a row matching both slots must appear once).
    piv = q_pivot_order_lines(spark, sf_dir).filter(
        F.col("partkey2").isNotNull()
    )
    exploded = piv.select(
        "l_orderkey",
        F.explode(F.array("partkey1", "partkey2")).alias("p_partkey"),
    )
    part = table(spark, sf_dir, "part")
    return (
        exploded.join(part, on="p_partkey")
        .select("l_orderkey", "p_partkey", "p_brand")
        .distinct()
    )


# ----------------------------------------------------------- S10 (FK resolve)

@register(
    "q_fk_resolve",
    """
    WITH dim AS (
        SELECT c_mktsegment,
               row_number() OVER (ORDER BY c_mktsegment) AS segment_id
        FROM (SELECT DISTINCT c_mktsegment FROM customer)
    )
    SELECT c_custkey, c_name, segment_id
    FROM customer JOIN dim USING (c_mktsegment)
    """,
    "surrogate-id assignment + natural-key rewrite (load_dsv analog)",
)
def q_fk_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from haplorec_spark.operators.fk import resolve_fk_ids

    c = table(spark, sf_dir, "customer")
    resolved, _dim = resolve_fk_ids(
        c, ["c_mktsegment"], id_column="segment_id"
    )
    return resolved.select("c_custkey", "c_name", "segment_id")


# --------------------------------------------- A13 (accumulative collapse)

@register(
    "q_report_collapse",
    """
    SELECT o_custkey, o_orderkey, o_orderdate, o_orderstatus
    FROM orders
    """,
    "accumulative row collapse (Row.collapse analog): sparse halves of "
    "each order row merge back to whole rows in the grouped kernel",
)
def q_report_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from haplorec_spark.operators.rows import (
        collapse,
        report_can_collapse,
        report_merge,
    )

    o = table(spark, sf_dir, "orders")
    # Shred every order row into a key half and a payload half — the
    # sparse shape Row.noDuplicates produces — then let the collapse
    # kernel stitch consecutive halves back together per hash bucket.
    head = o.select(
        "o_custkey", "o_orderkey",
        F.lit(None).cast("timestamp").alias("o_orderdate"),
        F.lit(None).cast("string").alias("o_orderstatus"),
        (F.col("o_orderkey") * 2).alias("_seq"),
    )
    tail = o.select(
        F.lit(None).cast("bigint").alias("o_custkey"),
        F.lit(None).cast("bigint").alias("o_orderkey"),
        "o_orderdate", "o_orderstatus",
        (F.col("o_orderkey") * 2 + 1).alias("_seq"),
    )
    sparse = head.unionByName(tail).withColumn(
        "_bucket", F.pmod(F.floor(F.col("_seq") / 2), F.lit(32))
    )
    # The visible header is fixed; hoist it (and the per-row dict
    # filters) out of the per-ROW can_collapse call — the old lambda
    # rebuilt the filtered header list and two filtered dicts for every
    # row of every bucket (round-13 kernel profile).
    visible = [c for c in sparse.columns if not c.startswith("_")]

    def _can(hdr, a, b):
        return report_can_collapse(
            visible,
            {k: a[k] for k in visible if a[k] is not None},
            {k: b[k] for k in visible if b[k] is not None},
        )

    merged = collapse(
        sparse,
        order_by=["_seq"],
        partition_by=["_bucket"],
        can_collapse=_can,
        merge=report_merge,
    )
    return merged.select(
        "o_custkey", "o_orderkey", "o_orderdate", "o_orderstatus"
    )


# --------------------------------------------------- F13 (wide<->long melt)

# Not a driver gate since round 5 (slot rotated to q_dsir_select): the
# melt is one map-side Expand whose kernel stays DuckDB-cross-checked
# in test_rows.py/test_registry.py; the slot moved to the new DSIR
# importance-resampling family, which had no hard gate.
def q_melt_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    from haplorec_spark.operators.reshape import melt

    p = table(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_retailprice").cast("double").alias("retailprice"),
        F.col("p_size").cast("double").alias("size"),
    )
    return melt(p, ["p_partkey"], ["retailprice", "size"])


# ------------------------------------------- F7 (phenotype-name normalization)

# Not a driver gate since round 5 (slot rotated to q_web_domain_cap):
# the normalize is one map-side lower+regexp whose kernel stays golden-
# tested in test_functions.py and DuckDB-checked in test_registry.py.
def q_phenotype_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from haplorec_spark.functions import normalize_phenotype_name

    p = table(spark, sf_dir, "part")
    decorated = F.concat(
        F.col("p_type"), F.lit(" (~2-11% of patients).")
    )
    return p.select(
        "p_partkey",
        normalize_phenotype_name(decorated).alias("phenotype_name"),
    )


# ------------------------------------------------------ F9 (collapse-by-key)

# Not a driver gate from round 7 (rotated out to free a slot for the
# newest operator family, q_text_language_ngram): its group+collect
# physical shape is also exercised by the driver-gated
# q_report_collapse, and the oracle stays green via
# tests/test_registry.py::ROTATED_OUT_ORACLES.
def q_collapse_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from haplorec_spark.operators.fk import collapse_by_key

    c = table(spark, sf_dir, "customer").select("c_nationkey", "c_mktsegment")
    return collapse_by_key(c, ["c_nationkey"])


# ------------------------------------------------ events (batch face of §2.8)

# Not a driver gate: q_stream_events_hourly runs the Structured
# Streaming face of this exact aggregate against the identical DuckDB
# oracle, so one gate verifies both faces (the driver's correctness
# harness checks at most 50 queries; this keeps every registered gate
# inside that budget). Batch/stream parity is additionally pinned by
# tests/test_streaming.py.
def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour").alias("w"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"), "event_type",
            "n_events", "sum_value",
        )
    )


# Rotated out of the 50 in round 11 (slot went to
# q_funnel_events_retry): the plain per-user profile aggregate's
# machinery — groupBy count/countDistinct/min/max — is covered by
# q01_pricing_summary and q_sessionize; DuckDB oracle kept in the
# rotated-out registry (test_registry.py).
def q_events_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("event_type").alias("n_types"),
        F.round(F.max("value"), 2).alias("max_value"),
        F.round(F.min("value"), 2).alias("min_value"),
    )


# ----------------------------------------------------- exact group percentiles

@register(
    "q_price_percentiles",
    """
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5), 6)  AS median_price,
           round(quantile_cont(l_extendedprice, 0.95), 6) AS p95_price
    FROM lineitem GROUP BY l_returnflag
    """,
    "exact interpolated percentiles per group (continuous quantile)",
)
def q_price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from haplorec_spark.operators.percentiles import group_percentiles

    li = table(spark, sf_dir, "lineitem")
    # round 12: the value-buffering percentile() aggregate (O(group
    # size) on one task) is replaced by the distinct-value histogram +
    # cumulative-window interpolation — identical answers (quantile_cont
    # semantics, DuckDB's interpolation spelling), buffers bounded by
    # distinct prices, not rows
    return group_percentiles(
        li, ["l_returnflag"], "l_extendedprice", [0.5, 0.95],
        names=["median_price", "p95_price"],
    )


# ------------------------------------------------------- rollup grouping sets

# Briefly rotated out mid-round-12 when q_dedup_verified_pairs was
# promoted, then RESTORED the same round: the driver contract allows
# adding declared queries but never removing one, so the registry now
# holds 51 (this gate's registration, SQL, and result hash are
# byte-identical to its round-11 row).
@register(
    "q_rollup_pricing",
    """
    SELECT l_returnflag, l_linestatus,
           count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    "ROLLUP grouping sets: per-(flag,status), per-flag, and grand totals",
)
def q_rollup_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


# ----------------------------------------------- sessionization (lag + cumsum)

@register(
    "q_sessionize",
    """
    WITH gaps AS (
        SELECT user_id, ts,
               CASE WHEN ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                         OR lag(ts) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
        SELECT user_id, ts,
               (sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                       ROWS UNBOUNDED PRECEDING))::BIGINT
                   AS session_id
        FROM gaps
    )
    SELECT user_id, session_id,
           count(*) AS n_events,
           min(ts) AS session_start,
           max(ts) AS session_end
    FROM numbered GROUP BY user_id, session_id
    """,
    "gap-based sessionization: lag + running sum windows, then per-"
    "session aggregates",
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id", "ts",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                # exact microsecond gap: cast('long') would floor to
                # seconds and disagree with the oracle at boundaries
                F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
                > 1800 * 1_000_000
            ),
            1,
        ).otherwise(0).alias("new_session"),
    )
    wc = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    numbered = gaps.withColumn(
        "session_id", F.sum("new_session").over(wc)
    )
    return numbered.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


# -------------------------------------------- §2.8 streaming face (batch parity)

@register(
    "q_stream_events_hourly",
    """
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           count(*) AS n_events,
           round(sum("value"), 2) AS sum_value
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    """,
    "Structured Streaming windowed aggregate run to completion "
    "(availableNow) — must hash-match the batch oracle exactly",
)
def q_stream_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile
    import uuid

    from haplorec_spark.streaming import (
        read_events_stream,
        stream_events_hourly,
    )

    # File-source streams read directories; stage the single parquet
    # file into one (driver-local, events is MBs at any tested SF).
    staging = tempfile.mkdtemp(prefix="events_stream_")
    shutil.copy(f"{sf_dir}/events.parquet", f"{staging}/events.parquet")
    name = f"stream_hourly_{uuid.uuid4().hex[:8]}"
    # The stateful aggregate opens one state store per shuffle partition;
    # its state (hour x event_type groups) is tiny, so 64 stores are pure
    # fixed overhead. Scope 8 partitions to the stream start (the conf is
    # captured at start()) and restore for subsequent batch queries.
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            stream_events_hourly(read_events_stream(spark, staging))
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return spark.table(name)


# ------------------------------------------------- skew-safe aggregation path

# Not a driver gate since round 10 (slot rotated to q_funnel_events so
# the newest event-analytics family has a driver row): the two-phase
# salted aggregate's correctness contract — equals the plain groupBy —
# is engine-internal arithmetic with no novel plan shape, and it stays
# DuckDB-checked by tests/test_registry.py::ROTATED_OUT_ORACLES plus
# the salting unit tests in test_scale.py.
def q_salted_event_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from haplorec_spark.operators.scale import salted_aggregate

    ev = table(spark, sf_dir, "events").select("event_type", "value")
    out = salted_aggregate(
        ev,
        ["event_type"],
        {
            "n_events": (F.count(F.lit(1)), F.sum("n_events")),
            "sum_value": (F.sum("value"), F.sum("sum_value")),
        },
        salt_buckets=16,
    )
    return out.select(
        "event_type", "n_events", F.round("sum_value", 2).alias("sum_value")
    )


# ---------------------------------- correlated / HAVING / argmax query shapes

# Not a driver gate since round 9 (slot rotated to q_bloom_member, the
# new membership-sketch family): the correlated-min decorrelation is a
# hash aggregate + an equi self-join, both shapes in many other gated
# plans (q_top_supplier's rotated twin, every join gate). Still
# DuckDB-checked by tests/test_registry.py.
def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    # alias the derived side's key: mincost shares lineage with li, so an
    # unaliased join key would be an ambiguous self-join reference
    mincost = li.groupBy(
        F.col("l_partkey").alias("mc_partkey")
    ).agg(F.min("l_extendedprice").alias("min_price"))
    return (
        li.join(
            mincost,
            (F.col("l_partkey") == F.col("mc_partkey"))
            & (F.col("l_extendedprice") == F.col("min_price")),
        )
        .select(
            "l_partkey", "l_suppkey",
            F.round(F.col("l_extendedprice"), 2).alias("price"),
        )
    )


# Not a driver gate since round 5 (slot rotated to q_text_chunks): the
# aggregate + HAVING shape (TPC-H Q18) is a join + hash aggregate + filter,
# all of which appear in many other gated plans (q01's aggregate,
# q_events_user_stats' HAVING-style filter, every join gate). Still
# DuckDB-checked by tests/test_registry.py.
def q_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_custkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"),
             F.sum("l_quantity").alias("_raw"))
        .filter(F.col("_raw") > 150)
        .drop("_raw")
    )


# Not a driver gate since round 5 (slot rotated to q_text_linear_score):
# the argmax-over-aggregate shape (TPC-H Q15) is a hash aggregate + a
# broadcast scalar join, both exercised by many other gated plans
# (q_min_cost_supplier's correlated-min rewrite is the harder variant
# and keeps its gate). Still DuckDB-checked by tests/test_registry.py.
def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    revenue = li.groupBy("l_suppkey").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("total_revenue")
    )
    top = revenue.agg(F.max("total_revenue").alias("m"))
    return (
        s.join(revenue, s.s_suppkey == revenue.l_suppkey)
        .join(F.broadcast(top), F.col("total_revenue") == F.col("m"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


# ----------------------------------------- A12 (column-group first-seen dedup)

@register(
    "q_report_no_duplicates",
    """
    SELECT o_orderkey,
           CASE WHEN rn_c = 1 THEN o_custkey END     AS o_custkey,
           CASE WHEN rn_c = 1 THEN o_orderdate END   AS o_orderdate,
           CASE WHEN rn_s = 1 THEN o_orderstatus END AS o_orderstatus
    FROM (SELECT o_orderkey, o_custkey, o_orderdate, o_orderstatus,
                 row_number() OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderkey) AS rn_c,
                 row_number() OVER (PARTITION BY o_orderstatus
                                    ORDER BY o_orderkey) AS rn_s
          FROM orders)
    """,
    "first-seen column-group dedup (Row.noDuplicates analog) via windows",
)
def q_report_no_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from haplorec_spark.operators.rows import no_duplicates

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderstatus"
    )
    return no_duplicates(
        o,
        {
            "cust": (["o_custkey"], ["o_custkey", "o_orderdate"]),
            "status": (["o_orderstatus"], ["o_orderstatus"]),
        },
        order_by=["o_orderkey"],
    )


# ------------------------------------------------- J6 (left-join report chain)

@register(
    "q_left_join_chain",
    """
    SELECT o_orderkey, o_orderstatus, c_name, n_name, r_name
    FROM orders
    LEFT JOIN customer ON o_custkey = c_custkey
    LEFT JOIN nation   ON c_nationkey = n_nationkey
    LEFT JOIN region   ON n_regionkey = r_regionkey
    WHERE o_totalprice > 180000
    """,
    "multi-table LEFT-join chain (condensed report mega-join analog)",
)
def q_left_join_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 180000)
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "left")
        .join(n, c.c_nationkey == n.n_nationkey, "left")
        .join(r, n.n_regionkey == r.r_regionkey, "left")
        .select("o_orderkey", "o_orderstatus", "c_name", "n_name", "r_name")
    )


# ------------------------------------------------ lead/lag window analytics

# Not a driver gate since round 9 (slot rotated to q_ann_sq_adc, the
# new quantization rung): the lag-window + aggregate shape is also
# gated via q_sessionize (lag + cumulative window over the same
# partitioning). Still DuckDB-checked by tests/test_registry.py.
def q_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.withColumn(
            "gap_days",
            F.datediff(F.col("o_orderdate"), F.lag("o_orderdate").over(w)),
        )
        .filter(F.col("gap_days").isNotNull())
        .groupBy("o_custkey")
        .agg(
            F.round(F.avg("gap_days"), 6).alias("avg_gap_days"),
            F.count("*").alias("n_gaps"),
        )
    )


# ------------------------------------------- running totals (ordered window)

# Not a driver gate since round 5 (slot rotated to q_text_normalize):
# the ordered-window running sum is the same physical shape as
# q_sessionize's cumulative gap-flag sum (Window.orderBy + unbounded
# preceding), which keeps its gate; the DECIMAL-accumulation variant
# stays DuckDB-checked by tests/test_registry.py.
def q_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("month")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("month_rev"))
    w = Window.orderBy("month").rowsBetween(Window.unboundedPreceding, 0)
    return monthly.select(
        "month",
        F.round(F.sum("month_rev").over(w).cast("double"), 2).alias(
            "running_rev"
        ),
    )


# ----------------------------------------------------- top-k rows per group

@register(
    "q_topk_orders_per_segment",
    """
    SELECT c_mktsegment, o_orderkey, o_totalprice
    FROM (SELECT c_mktsegment, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY c_mktsegment
                                    ORDER BY o_totalprice DESC,
                                             o_orderkey) AS rn
          FROM orders JOIN customer ON o_custkey = c_custkey)
    WHERE rn <= 3
    """,
    "top-3 orders by value per market segment (join + ranked window top-k)",
)
def q_topk_orders_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    j = o.join(c, o.o_custkey == c.c_custkey)
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        j.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("c_mktsegment", "o_orderkey", "o_totalprice")
    )


# ---------------------------------------------- named-column pivot (crosstab)

@register(
    "q_pivot_status_matrix",
    """
    SELECT o_orderpriority,
           count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
           count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
           count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
    FROM orders GROUP BY o_orderpriority
    """,
    "named-column pivot (groupBy().pivot()) — crosstab of priority x status",
)
def q_pivot_status_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["F", "O", "P"])
        .withColumnsRenamed({"F": "n_f", "O": "n_o", "P": "n_p"})
    )


# ------------------------------------------------------------- as-of join

@register(
    "q_asof_click_purchase",
    """
    SELECT p.event_id, p.user_id, p.ts,
           c.ts    AS asof_ts,
           round(c.value, 6) AS asof_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT user_id, ts, max("value") AS value
                    FROM events WHERE event_type = 'click'
                    GROUP BY user_id, ts) c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
    "as-of join: latest click at-or-before each purchase, per user "
    "(union + ordered window; single shuffle on user_id)",
)
def q_asof_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from haplorec_spark.operators.asof import asof_join

    ev = table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    # Pre-aggregate to one row per (user_id, ts): asof ties on equal
    # timestamps resolve arbitrarily (asof.py determinism contract), so
    # carrying `value` through duplicate click timestamps would make
    # both engines nondeterministic and the value-hash gate flaky.
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("value"))
    )
    return asof_join(
        purchases, clicks, on=["user_id"], left_ts="ts", right_ts="ts",
        right_cols=["value"],
    ).select(
        "event_id", "user_id", "ts", "asof_ts",
        F.round("asof_value", 6).alias("asof_value"),
    )


# -------------------------------------------------- interval (range) join

@register(
    "q_range_ship_window",
    """
    SELECT o_orderkey,
           count(l_shipdate) AS n_shipped
    FROM (SELECT o_orderkey, o_orderdate,
                 o_orderdate + INTERVAL 3 DAY AS hi
          FROM orders
          WHERE o_orderdate >= TIMESTAMP '1995-03-01'
            AND o_orderdate <  TIMESTAMP '1995-03-08') o
    LEFT JOIN lineitem
      ON l_shipdate BETWEEN o_orderdate AND hi
    GROUP BY o_orderkey
    """,
    "interval join: lineitems shipped inside each order's 3-day window "
    "(bucketed equi-join on a day grid — no nested-loop range join)",
)
def q_range_ship_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from haplorec_spark.operators.ranges import interval_join

    o = (
        table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1995-03-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1995-03-08").cast("timestamp"))
        )
        .select(
            "o_orderkey",
            "o_orderdate",
            (F.col("o_orderdate") + F.expr("INTERVAL 3 DAYS")).alias("hi"),
        )
    )
    li = table(spark, sf_dir, "lineitem").select("l_shipdate")
    hits = interval_join(
        li, o, point_ts="l_shipdate", lo_ts="o_orderdate", hi_ts="hi",
        bucket_seconds=86400,
    )
    counts = hits.groupBy("o_orderkey").agg(
        F.count("l_shipdate").alias("n_shipped")
    )
    # outer semantics: keep zero-match orders
    return (
        o.select("o_orderkey")
        .join(counts, on="o_orderkey", how="left")
        .na.fill(0, ["n_shipped"])
    )
