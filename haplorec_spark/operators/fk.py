"""Surrogate-id assignment and foreign-key rewrite.

Reproduces the semantics of the reference's FK-resolving bulk loader
(/root/reference/script/load_dsv.py:66-134): a table T with an
auto-increment id is loaded first, then referencing tables replace their
natural-key columns K with the generated T.id.

The reference's ids depend on insert order (lastrowid capture,
load_dsv.py:147-153); ours are assigned by ``row_number`` over an
explicit deterministic ordering of the natural key — a documented
semantic tightening (SURVEY.md §4 item 4).

Scale design: the dimension (distinct natural keys) is small relative to
the fact table, so id assignment is a single narrow aggregate + window
over the distinct keys, and the rewrite is a broadcast equi-join — no
large shuffle beyond the distinct itself.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def assign_ids(
    dim: DataFrame,
    natural_key: Sequence[str],
    *,
    id_column: str = "id",
    num_partitions: int | None = None,
    small_key_limit: int = 100_000,
) -> DataFrame:
    """Distinct natural keys -> dense 1-based surrogate ids.

    Deterministic: ids follow the sort order of the natural key columns
    regardless of partitioning.

    Adaptive two-phase: the distinct key count is measured first (one
    job over the persisted key set — its result is reused either way).

    * ``<= small_key_limit`` keys: a single-partition ordered window.
      This is the reference's own regime (load_dsv.py:90-105 loads a
      small referenced table); the bottleneck task is BOUNDED by the
      measured count, so it cannot silently degrade on big inputs.
    * larger: RANGE partition + sort within partitions (one shuffle,
      every partition independent), per-partition counts collected to
      the driver (one row per partition — cluster-sized, not
      data-sized), then each row's id = its partition's offset + its
      record number within the sorted partition
      (``monotonically_increasing_id``'s documented lower 33 bits).
      No single-partition Exchange anywhere, no Python workers.
    """
    spark = dim.sparkSession
    # localCheckpoint, not persist (round 13): the measured count and
    # the returned frame share one materialization either way, but a
    # persist with no unpersist path pins executor storage for the
    # driver's lifetime (the caller gets the frame lazily, so no line
    # of this function can safely release it) — checkpointed blocks
    # are released by the ContextCleaner when the frame is GC'd, and
    # downstream plans read a LogicalRDD instead of re-embedding the
    # distinct. Trade: a lost executor cannot recompute its slice; the
    # frame is dimension-sized, never fact-sized.
    keys = dim.select(*natural_key).distinct().localCheckpoint()
    n_keys = keys.count()

    if n_keys <= small_key_limit:
        w = Window.orderBy(*[F.col(c) for c in natural_key])
        return keys.withColumn(
            id_column, F.row_number().over(w).cast("long")
        )

    n_parts = num_partitions or spark.sparkContext.defaultParallelism
    ranged = (
        keys.repartitionByRange(n_parts, *natural_key)
        .sortWithinPartitions(*natural_key)
        .withColumn("__part", F.spark_partition_id())
        # record number within the partition, in sorted row order:
        # monotonically_increasing_id puts the partition id in the upper
        # bits and the per-partition record number in the lower 33
        # (assumes < 2^33 ~ 8.6e9 keys per partition)
        .withColumn(
            "__local",
            F.monotonically_increasing_id() % F.lit(1 << 33).cast("bigint"),
        )
        # checkpoint, not persist: same release-path rationale as
        # ``keys`` above, plus a consistency upgrade — the per-partition
        # record numbers are FROZEN in the materialized blocks, so the
        # counts collected below and the rows the caller reads can never
        # come from two separate computations.
        .localCheckpoint()
    )
    counts = dict(
        (r["__part"], r["count"])
        for r in ranged.groupBy("__part").count().collect()
    )
    acc = 0
    offset_pairs = []
    for p in sorted(counts):
        offset_pairs.extend([F.lit(p), F.lit(acc)])
        acc += counts[p]
    offset_map = F.create_map(*offset_pairs)
    return ranged.select(
        *natural_key,
        (
            F.col("__local") + offset_map[F.col("__part")] + 1
        ).cast("long").alias(id_column),
    )


def collapse_by_key(
    df: DataFrame,
    key: Sequence[str],
    *,
    separator: str = ". ",
    strip_trailing_s: Sequence[str] = (),
) -> DataFrame:
    """F9: collapse rows sharing a primary key by unique-joining each
    non-key field's distinct values.

    Reproduces the scraped-data collapser
    (/root/reference/src/python/pharmgkb/pipelines.py:97-151): group by
    the item's primary key; every non-key field becomes the distinct set
    of its values joined on ``separator``. Fields named in
    ``strip_trailing_s`` first drop a trailing 's'
    (genotype_phenotype_collapser, pipelines.py:120-132 — CYP2D6's
    inconsistent "poor metabolizers" pluralization).

    The reference joins a Python ``set`` (arbitrary order); we sort the
    distinct values — a documented determinism tightening.
    """
    aggs = []
    for c in df.columns:
        if c in key:
            continue
        v = F.col(c)
        if c in strip_trailing_s:
            v = F.regexp_replace(v, "s+$", "")
        aggs.append(
            F.array_join(
                F.array_sort(F.array_distinct(F.collect_list(v))), separator
            ).alias(c)
        )
    return df.groupBy(*key).agg(*aggs).select(*df.columns)


def resolve_fk_ids(
    fact: DataFrame,
    natural_key: Sequence[str],
    *,
    id_column: str = "id",
    drop_key: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Attach surrogate ids to ``fact`` by its natural-key columns.

    Returns ``(fact_with_id, dimension)`` — the join replaces the
    reference's per-row lastrowid bookkeeping (load_dsv.py:107-134) with
    one broadcast equi-join.
    """
    dim = assign_ids(fact, natural_key, id_column=id_column)
    out = fact.join(F.broadcast(dim), on=list(natural_key), how="inner")
    if drop_key:
        out = out.drop(*natural_key)
    return out, dim
