"""Structured Streaming surface.

The reference is strictly batch (SURVEY.md §2.8) — its lazy row
iterators are single-pass pipelining, not unbounded streams. This module
is the forward-looking streaming face a 100 TB deployment needs:

* :func:`read_events_stream` / :func:`stream_events_hourly` — the
  event-time tumbling-window aggregate (the streaming twin of the batch
  ``q_events_hourly`` query) with a watermark bounding state for late
  data.
* :func:`stream_user_running_totals` — a custom stateful operator via
  ``applyInPandasWithState``: per-user running event counts/sums
  maintained across micro-batches (GroupState, update mode).
* :func:`stream_dedup_events` — ingest-time exact dedup for
  at-least-once sources via ``dropDuplicatesWithinWatermark``: state
  holds only keys inside the watermark horizon, so re-delivered events
  are dropped with bounded state (the streaming twin of the batch
  dedup family's exact path).
* :func:`incremental_variant_ingest` — ``foreachBatch`` job ingest: each
  micro-batch of variant rows becomes one pipeline job appended to the
  job_id-partitioned stage tables; the batch pipeline is reused
  unchanged (the idiomatic incremental face noted in SURVEY.md §2.8).
* :func:`stream_dedup_ingest` / :func:`stream_semantic_dedup_ingest` —
  ``foreachBatch`` corpus ingest with cross-batch dedup against a
  persisted store (exact content hashes, MinHash-LSH band keys, or
  k-means-cell embeddings), exactly-once via ingest_batch dynamic
  partition overwrite.
* :func:`stream_funnel_ingest` — ``foreachBatch`` funnel-state
  maintenance: both funnel semantics are left folds over time-ordered
  events, so each batch folds ONTO the persisted per-user accumulator
  (a steps-bounded timestamp array — state is user-count-sized, never
  event-history-sized) and :func:`funnel_state_depths` decodes depths
  equal to batch ``funnel_depth`` over all history; exactly-once via
  ingest_batch dynamic overwrite, ordering contract enforced per user.
* :func:`stream_pq_index_ingest` — ``foreachBatch`` ANN-index
  maintenance: encode each vector batch against the pinned IVF-PQ
  centroids/codebooks and append (ingest_batch, cluster)-partitioned
  codes, keeping ``pq_store_topk`` queryable mid-ingest with the same
  exactly-once contract.

Scale: windowed aggregates shuffle on (window, event_type) with
map-side partial aggregation; watermarks bound state size; the stateful
operator keys state by user_id so it distributes with the shuffle.
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

def _events_schema(ts_type) -> StructType:
    return StructType([
        StructField("event_id", LongType()),
        StructField("ts", ts_type),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ])


def read_events_stream(spark: SparkSession, events_dir: str) -> DataFrame:
    """Unbounded scan of event parquet files as they land.

    Event files may store ``ts`` as TIMESTAMP(MICROS) (read natively) or
    TIMESTAMP(NANOS), which Spark's vectorized reader rejects — for
    those the stream reads the raw int64 nanos and truncates to
    microsecond timestamps exactly like the batch reader
    (queries.table), so batch and stream agree. File streams need a
    user-supplied schema, so probe the directory with a batch read
    (footer merge across files) to pick the variant. An empty
    directory defaults to TIMESTAMP(MICROS) so the stream can start
    first and pick up files as they land (a *nonexistent* path still
    fails — Spark's file source itself requires the directory); the
    directory must then stay type-homogeneous — a later file with the
    other physical ts type fails the running stream with a parquet
    schema-conversion error, which is the fail-fast we want (silent
    coercion would corrupt event times). A mixed directory at start
    time fails the probe immediately for the same reason.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        # mergeSchema folds every footer, so a type-mixed directory
        # fails here (clear error at definition) instead of mid-stream.
        probed = dict(
            spark.read.option("mergeSchema", "true").parquet(events_dir).dtypes
        ).get("ts")
    except AnalysisException:
        # Empty dir: no footer to probe. Start with the standard
        # MICROS schema and let files land later. (A nonexistent path
        # re-raises below from readStream itself, same as before.)
        probed = "timestamp"
    if probed == "bigint":  # TIMESTAMP(NANOS) surfaced as raw int64
        raw = (
            spark.readStream.schema(_events_schema(LongType()))
            .parquet(events_dir)
        )
        # integer DIV, not floor(ts/1000): double division rounds at
        # this magnitude and would shift some timestamps by 1 microsecond
        return raw.withColumn(
            "ts", F.timestamp_micros(F.expr("ts DIV 1000"))
        )
    return (
        spark.readStream.schema(_events_schema(TimestampType()))
        .parquet(events_dir)
    )


def stream_events_hourly(
    events: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """Streaming tumbling-window aggregate with late-data watermark —
    identical result columns to the batch q_events_hourly."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"), "event_type",
            "n_events", "sum_value",
        )
    )


def stream_dedup_events(
    events: DataFrame,
    *,
    keys: list[str] | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Ingest-time exact dedup for at-least-once delivery.

    ``dropDuplicatesWithinWatermark`` keeps one row per ``keys`` while
    the key's event time is within the watermark horizon — exactly the
    window in which an at-least-once source (Kafka redelivery, file
    re-drops, job retries) can produce duplicates. State is bounded by
    the horizon, unlike streaming ``dropDuplicates`` whose key state
    grows forever; at 100 TB/day that difference is the whole design.

    Batch frames fall back to plain ``dropDuplicates`` (same contract:
    which duplicate survives is arbitrary, so downstream must not
    depend on non-key columns of the survivor — the batch face is the
    parity oracle for the streaming face in tests).
    """
    keys = keys or ["event_id"]
    if not events.isStreaming:
        return events.dropDuplicates(keys)
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys
    )


def user_sessions(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Session-window aggregation per user: events whose inter-arrival
    gap stays under ``gap`` merge into one session.

    Works identically over a batch or streaming frame
    (``session_window`` is engine-native); streaming adds the watermark
    so open sessions finalize once event time moves past gap+watermark.
    The batch face is the verification oracle for the streaming one.
    """
    src = events
    if events.isStreaming:
        src = events.withWatermark("ts", watermark)
    return (
        src.groupBy(
            F.session_window("ts", gap).alias("w"), F.col("user_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id", "n_events", "sum_value",
        )
    )


_RUNNING_SCHEMA = StructType([
    StructField("user_id", LongType()),
    StructField("n_events", LongType()),
    StructField("sum_value", DoubleType()),
])

_STATE_SCHEMA = StructType([
    StructField("n", LongType()),
    StructField("s", DoubleType()),
])


def _running_totals_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    n, s = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        s += float(pdf["value"].sum())
    state.update((n, s))
    yield pd.DataFrame(
        {"user_id": [user_id], "n_events": [n], "sum_value": [round(s, 2)]}
    )


def stream_user_running_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user running totals across
    micro-batches (applyInPandasWithState, update mode)."""
    return events.groupBy("user_id").applyInPandasWithState(
        _running_totals_fn,
        outputStructType=_RUNNING_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_dedup_ingest(
    doc_stream: DataFrame,
    *,
    store_path: str,
    out_path: str,
    checkpoint_dir: str,
    mode: str = "near",
    text_col: str = "text",
    id_col: str = "doc_id",
    verify_threshold: float | None = None,
    verify_margin: float = 0.1,
    verify_escalate_sample: int = 16,
    segmentation: str = "whitespace",
    hot_bucket_cap: int | None | str = "auto",
    history_probe_cap: int | None = None,
):
    """foreachBatch corpus ingest with cross-batch dedup against a
    persisted store: each micro-batch drops documents matching history
    (the store) or an earlier document in the same batch, appends the
    survivors to ``out_path``, and advances the store with their keys.

    ``mode='near'`` uses the MinHash-LSH band-key store
    (:func:`~haplorec_spark.operators.dedup.incremental_candidate_pairs`),
    ``mode='exact'`` the content-hash store
    (:func:`~haplorec_spark.operators.dedup.incremental_exact_duplicates`).
    Either store stays ~1000× smaller than the corpus, which is the
    whole design: ingest work scales with the drop, not with history.

    ``verify_threshold`` (near mode) inserts an exact-Jaccard
    verification pass between LSH candidacy and the drop: only
    candidates whose true shingle Jaccard reaches the threshold are
    dropped, so a false-positive band collision cannot silently delete
    a unique document at ingest. History text comes from the curated
    ``out_path`` itself (survivors keep their text there), so no extra
    store is needed; the verification joins are candidate-sized.
    ``None`` (default) keeps the aggressive drop-all-candidates
    behavior.

    With verification on, the IN-BATCH half runs the BOUNDED
    star-verify path
    (:func:`~haplorec_spark.operators.dedup.lsh_verified_pairs`): a
    band bucket larger than ``hot_bucket_cap`` is checked via its m−1
    hub–member edges plus margin-band escalation against a
    ``verify_escalate_sample``-bounded member sample — O(m·bands)
    verification rows instead of the O(m²) all-pairs shuffle a
    boilerplate mega-family used to force on exactly this
    configuration. ``verify_margin`` tunes the documented false-keep
    risk (a member whose hub similarity falls below
    ``threshold − verify_margin`` is kept unescalated); pass
    ``hot_bucket_cap=None`` to restore the exact quadratic
    verification when the exhaustive answer matters more.

    The HISTORY half's fan-out is bounded by design — the store
    advances with survivors only, so a duplicate family holds one
    representative there — but a band key can still go hot through
    FALSE collisions across many distinct survivors.
    ``history_probe_cap`` bounds that tail: per probed (band,
    band_key), only the cap smallest stored ids join back
    (:func:`~haplorec_spark.operators.dedup.history_candidate_pairs`'s
    ``store_probe_cap``, with its documented miss risk). ``None``
    (default) keeps the exhaustive probe.

    Exactly-once: survivors and store keys both land in
    ``ingest_batch=<batch_id>`` partitions via dynamic partition
    overwrite, so a replayed batch rewrites its own partitions instead
    of double-appending (same scheme as :func:`incremental_variant_ingest`).
    Returns the started StreamingQuery.
    """
    from haplorec_spark.operators.dedup import (
        exact_duplicates,
        history_candidate_pairs,
        incremental_candidate_pairs,
        incremental_exact_duplicates,
        lsh_band_keys,
        lsh_candidate_pairs,
        lsh_verified_pairs,
        verify_jaccard_pairs,
    )

    if mode not in ("near", "exact"):
        raise ValueError(f"unknown dedup mode: {mode!r}")
    if verify_threshold is not None and mode != "near":
        raise ValueError("verify_threshold applies to mode='near' only")
    cap = 1024 if hot_bucket_cap == "auto" else hot_bucket_cap

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        spark = batch_df.sparkSession
        spark.conf.set(
            "spark.sql.sources.partitionOverwriteMode", "dynamic"
        )
        batch_df = batch_df.persist()
        try:
            spark.read.parquet(store_path)
            have_store = True
        except AnalysisException:
            have_store = False
        if mode == "exact":
            losers = (
                incremental_exact_duplicates(
                    batch_df, store_path, text_col=text_col, id_col=id_col
                )
                if have_store
                else exact_duplicates(
                    batch_df, text_col=text_col, id_col=id_col
                ).select(
                    F.col(id_col).alias("doc_id_new"),
                    F.col("canonical_id").alias("doc_id_matched"),
                )
            )
        elif verify_threshold is not None and cap is not None:
            # Bounded verification: the in-batch half runs the
            # star-verify path (O(m·bands) rows on a mega-family);
            # the history half verifies its candidate join as before
            # (the store-side guard is representatives-only
            # compaction, not the cap).
            losers = lsh_verified_pairs(
                batch_df,
                threshold=verify_threshold,
                margin=verify_margin,
                escalate_sample=verify_escalate_sample,
                text_col=text_col,
                id_col=id_col,
                segmentation=segmentation,
                hot_bucket_cap=cap,
                # per-batch plans must not accumulate GC-lifetime cache
                # entries; the recompute is batch-sized
                cache=False,
            ).select(
                F.col("doc_id_b").alias("doc_id_new"),
                F.col("doc_id_a").alias("doc_id_matched"),
            )
            if have_store:
                vs_history = history_candidate_pairs(
                    batch_df, store_path, text_col=text_col,
                    id_col=id_col, segmentation=segmentation,
                    store_probe_cap=history_probe_cap,
                )
                # history text lives in the curated output itself
                losers = losers.unionByName(
                    verify_jaccard_pairs(
                        vs_history,
                        batch_df,
                        spark.read.parquet(out_path).select(
                            F.col(id_col), F.col(text_col)
                        ),
                        threshold=verify_threshold,
                        text_col=text_col,
                        id_col=id_col,
                        segmentation=segmentation,
                    ).select("doc_id_new", "doc_id_matched")
                )
        else:
            losers = (
                incremental_candidate_pairs(
                    batch_df, store_path, text_col=text_col,
                    id_col=id_col, segmentation=segmentation,
                    hot_bucket_cap=cap,
                    store_probe_cap=history_probe_cap,
                )
                if have_store
                else lsh_candidate_pairs(
                    batch_df, text_col=text_col, id_col=id_col,
                    segmentation=segmentation, hot_bucket_cap=cap,
                ).select(
                    F.col("doc_id_b").alias("doc_id_new"),
                    F.col("doc_id_a").alias("doc_id_matched"),
                )
            )
            if verify_threshold is not None:
                matched_docs = batch_df.select(
                    F.col(id_col), F.col(text_col)
                )
                if have_store:
                    # history text lives in the curated output itself
                    matched_docs = matched_docs.unionByName(
                        spark.read.parquet(out_path).select(
                            F.col(id_col), F.col(text_col)
                        )
                    )
                losers = verify_jaccard_pairs(
                    losers,
                    batch_df,
                    matched_docs,
                    threshold=verify_threshold,
                    text_col=text_col,
                    id_col=id_col,
                    segmentation=segmentation,
                )
        survivors = batch_df.join(
            losers.select(
                F.col("doc_id_new").alias(id_col)
            ).distinct(),
            on=id_col,
            how="left_anti",
        ).persist()
        (
            survivors.withColumn("ingest_batch", F.lit(batch_id))
            .write.mode("overwrite").partitionBy("ingest_batch")
            .parquet(out_path)
        )
        keys = (
            lsh_band_keys(
                survivors, text_col=text_col, id_col=id_col,
                segmentation=segmentation,
            )
            if mode == "near"
            else survivors.select(
                F.col(id_col), F.md5(F.col(text_col)).alias("_h")
            )
        )
        if mode == "near":
            # record/validate the shingle mode the store's band keys
            # hash (cross-mode queries silently match nothing)
            from haplorec_spark.operators.dedup import (
                _write_segmentation_marker,
            )

            _write_segmentation_marker(spark, store_path, segmentation)
        (
            keys.withColumn("ingest_batch", F.lit(batch_id))
            .write.mode("overwrite").partitionBy("ingest_batch")
            .parquet(store_path)
        )
        survivors.unpersist()
        batch_df.unpersist()

    return (
        doc_stream.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_bloom_dedup_ingest(
    doc_stream: DataFrame,
    *,
    store_path: str,
    out_path: str,
    checkpoint_dir: str,
    expected_items: int = 8_000_000,
    fpp: float = 1e-6,
    n_bits: int | None = None,
    n_hashes: int | None = None,
    seed: str = "bloom-ingest",
    text_col: str = "text",
    id_col: str = "doc_id",
    max_broadcast_bits: int | None = None,
):
    """foreachBatch corpus ingest with FIXED-SIZE cross-batch exact
    dedup: a Bloom filter over content hashes replaces
    :func:`stream_dedup_ingest`'s per-document hash store.

    The trade the fixed size buys: the exact store grows with history
    (one row per surviving document — corpus-sized after a year of
    drops), while this store is ``n_bits/63`` chunk rows FOREVER
    (~28.8 bits/doc at the 1e-6 default — a ~29 MB bitset, ~58 MB of
    chunk rows, for the 8M-doc default budget). The
    price: a false positive drops a UNIQUE incoming document at rate
    ≤ fpp (choose fpp for the loss you tolerate; 1e-6 loses ~1 doc
    per million). No duplicate ever passes — membership has no false
    negatives, and in-batch duplicates are dropped exactly
    (:func:`~haplorec_spark.operators.dedup.exact_duplicates` on the
    batch itself, which is batch-sized).

    Filter identity (n_bits, n_hashes, seed) pins at first write via
    the ``_params`` marker (the LSH store's segmentation-marker
    contract): later batches — and any job whose config drifted — use
    or fail against the STORED parameters. Size explicitly with
    ``n_bits``/``n_hashes`` TOGETHER (a partial pair raises — half an
    identity silently resized is how filters probe wrong) or
    implicitly via ``expected_items``/``fpp``; ``expected_items`` is
    the LIFETIME unique-document budget, not the batch size — an
    overfull filter degrades fpp smoothly, so budget high (bits are
    cheap). Sizing is validated against the probe's broadcast bound
    BEFORE the identity pins (review-caught: the old 10M default
    exceeded the bound, so batch 0 pinned parameters batch 1 could
    never probe); pass ``max_broadcast_bits`` to raise the bound
    knowingly for bigger lifetime budgets.

    Exactly-once: survivors land in ``ingest_batch=<id>`` partitions
    (dynamic overwrite — the module's scheme), and the batch's bits
    land in the SAME-keyed partitions of ``<store>/bits``; bit_or is
    associative AND idempotent, so a replayed batch rewrites its
    partition and the read-side merge
    (:func:`~haplorec_spark.operators.bloom.read_bloom_bits`) yields
    the same filter. Returns the started StreamingQuery.
    """
    from haplorec_spark.operators.bloom import (
        MAX_BROADCAST_BITS,
        bloom_build,
        bloom_parameters,
        bloom_probe,
        read_bloom_bits,
        read_bloom_params_marker,
        write_bloom_params_marker,
    )
    from haplorec_spark.operators.dedup import exact_duplicates

    if (n_bits is None) != (n_hashes is None):
        raise ValueError(
            "pass n_bits and n_hashes together (a partial filter "
            "identity would be silently completed from the "
            "expected_items/fpp defaults)"
        )
    probe_bound = (
        MAX_BROADCAST_BITS if max_broadcast_bits is None
        else max_broadcast_bits
    )

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        spark = batch_df.sparkSession
        spark.conf.set(
            "spark.sql.sources.partitionOverwriteMode", "dynamic"
        )
        stored = read_bloom_params_marker(spark, store_path)
        if stored is not None:
            bits_n, bits_k, bits_seed = stored
        elif n_bits is not None:
            bits_n, bits_k, bits_seed = n_bits, n_hashes, seed
        else:
            bits_n, bits_k = bloom_parameters(expected_items, fpp)
            bits_seed = seed
        if bits_n > probe_bound:
            # refuse BEFORE pinning: a marker above the probe bound
            # would make every store-backed batch unprobeable
            raise ValueError(
                f"filter sizing n_bits={bits_n} exceeds the probe "
                f"broadcast bound {probe_bound}; lower expected_items/"
                "raise fpp, or pass max_broadcast_bits knowingly"
            )
        batch_df = batch_df.persist()
        # in-batch exact dedup (batch-sized, exact — no fp inside a
        # batch): keep each content hash's canonical (min-id) row
        in_batch_losers = exact_duplicates(
            batch_df, text_col=text_col, id_col=id_col
        ).select(id_col)
        fresh = batch_df.join(in_batch_losers, on=id_col, how="left_anti")
        from pyspark.errors.exceptions.captured import AnalysisException

        try:
            bits = read_bloom_bits(spark, store_path)
            have_store = True
        except AnalysisException:
            have_store = False
        keyed = fresh.withColumn("_h", F.md5(F.col(text_col)))
        if have_store:
            keyed = bloom_probe(
                keyed, bits, ["_h"],
                n_bits=bits_n, n_hashes=bits_k, seed=bits_seed,
                max_broadcast_bits=probe_bound,
            ).filter(~F.col("maybe_member")).drop("maybe_member")
        survivors = keyed.persist()
        (
            survivors.drop("_h")
            .withColumn("ingest_batch", F.lit(batch_id))
            .write.mode("overwrite").partitionBy("ingest_batch")
            .parquet(out_path)
        )
        write_bloom_params_marker(
            spark, store_path,
            n_bits=bits_n, n_hashes=bits_k, seed=bits_seed,
        )
        (
            bloom_build(
                survivors.select("_h"), ["_h"],
                n_bits=bits_n, n_hashes=bits_k, seed=bits_seed,
            )
            .withColumn("ingest_batch", F.lit(batch_id))
            .write.mode("overwrite").partitionBy("ingest_batch")
            .parquet(f"{store_path}/bits")
        )
        survivors.unpersist()
        batch_df.unpersist()

    return (
        doc_stream.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_semantic_dedup_ingest(
    vec_stream: DataFrame,
    *,
    store_path: str,
    out_path: str,
    checkpoint_dir: str,
    threshold: float = 0.95,
    n_clusters: int = 8,
    iterations: int = 2,
    nprobe: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
):
    """foreachBatch embedding ingest with semantic (SemDedup) cross-
    batch dedup — the embedding face of :func:`stream_dedup_ingest`.

    The first non-empty batch learns the k-means codebook and pins it
    at ``<store>/codebook``; every later batch assigns to the SAME
    cells (re-learning would put old and new vectors in incompatible
    cells), drops vectors matching probed-cell history or an earlier
    in-batch vector, appends survivors to ``out_path``, and advances
    ``<store>/cells``. Cells are partitioned (ingest_batch, cluster):
    the batch column gives replayed batches exactly-once partition
    overwrite, the cluster column gives history reads partition
    pruning to just the probed cells.
    """
    from haplorec_spark.operators.similarity import (
        _collect_codebook,
        _project_with_cells,
        incremental_semantic_pairs,
        kmeans_centroids,
        within_cell_pairs,
    )

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        spark = batch_df.sparkSession
        spark.conf.set(
            "spark.sql.sources.partitionOverwriteMode", "dynamic"
        )
        batch_df = batch_df.persist()
        try:
            centroids = spark.read.parquet(f"{store_path}/codebook")
            # an empty codebook (interrupted first write) is no store:
            # re-learn rather than assign everything to zero cells
            have_store = centroids.first() is not None
        except AnalysisException:
            have_store = False
        if have_store:
            losers = incremental_semantic_pairs(
                batch_df, store_path, threshold=threshold, nprobe=nprobe,
                vec_col=vec_col, id_col=id_col,
            ).select(F.col("vec_id_new").alias(id_col))
        else:
            centroids = kmeans_centroids(
                batch_df, n_clusters, iterations,
                vec_col=vec_col, id_col=id_col,
            )
            # deterministic on replay: same batch -> same codebook
            centroids.write.mode("overwrite").parquet(
                f"{store_path}/codebook"
            )
            centroids = spark.read.parquet(f"{store_path}/codebook")
            losers = within_cell_pairs(
                batch_df, centroids, threshold=threshold, nprobe=nprobe,
                vec_col=vec_col, id_col=id_col,
            ).select(F.col("vec_id_b").alias(id_col))
        survivors = batch_df.join(
            losers.distinct(), on=id_col, how="left_anti"
        ).persist()
        (
            survivors.withColumn("ingest_batch", F.lit(batch_id))
            .write.mode("overwrite").partitionBy("ingest_batch")
            .parquet(out_path)
        )
        (
            # cell assignment folds into the store projection (map-side
            # argmin), never an id-keyed join against a separate
            # assignment frame
            _project_with_cells(
                survivors, _collect_codebook(centroids),
                vec_col=vec_col, id_col=id_col,
            )
            .withColumn("ingest_batch", F.lit(batch_id))
            .write.mode("overwrite")
            .partitionBy("ingest_batch", "cluster")
            .parquet(f"{store_path}/cells")
        )
        survivors.unpersist()
        batch_df.unpersist()

    return (
        vec_stream.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_pq_index_ingest(
    vec_stream: DataFrame,
    *,
    store_path: str,
    checkpoint_dir: str,
    n_clusters: int = 8,
    iterations: int = 2,
    m: int = 4,
    pq_k: int = 16,
    pq_iterations: int = 2,
    residual: bool = False,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
):
    """foreachBatch ANN-index maintenance: keep a queryable IVF-PQ
    store current over a vector stream.

    The index face of :func:`stream_semantic_dedup_ingest` (which
    DROPS near-duplicates; this INDEXES everything): the first
    non-empty batch trains and pins ``<store>/centroids`` +
    ``<store>/codebooks``; every batch encodes against the PINNED
    index (re-training would make old and new codes incomparable) and
    appends (id, codes, cluster) partitioned by (ingest_batch,
    cluster) — the batch column gives replayed batches exactly-once
    partition overwrite, the cluster column keeps
    :func:`~haplorec_spark.operators.similarity.pq_store_topk`
    queries partition-pruned mid-ingest. A crash between the
    centroids and codebooks writes recovers by retraining both (the
    codebooks read fails -> the pin is incomplete -> batch restarts
    the pin), so the store never wedges half-initialized.
    """
    from haplorec_spark.operators.similarity import (
        _encode_with_cells,
        train_pq_index,
    )

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        spark = batch_df.sparkSession
        spark.conf.set(
            "spark.sql.sources.partitionOverwriteMode", "dynamic"
        )
        batch_df = batch_df.persist()
        try:
            centroids = spark.read.parquet(f"{store_path}/centroids")
            codebooks = spark.read.parquet(f"{store_path}/codebooks")
            # empty frames (interrupted pin) are no index
            have_index = (
                centroids.first() is not None
                and codebooks.first() is not None
            )
        except AnalysisException:
            have_index = False
        if not have_index:
            # first batch (or recovering a half-pinned store): train +
            # pin both frames, read the pinned copies back —
            # deterministic on replay
            centroids, codebooks = train_pq_index(
                batch_df, store_path,
                n_clusters=n_clusters, iterations=iterations,
                m=m, pq_k=pq_k, pq_iterations=pq_iterations,
                residual=residual, vec_col=vec_col, id_col=id_col,
            )
        stored_residual = (
            "residual" in codebooks.columns
            and bool(codebooks.first()["residual"])
        )
        (
            _encode_with_cells(
                batch_df, centroids, codebooks,
                residual=stored_residual, vec_col=vec_col, id_col=id_col,
            )
            .withColumn("ingest_batch", F.lit(batch_id))
            .write.mode("overwrite")
            .partitionBy("ingest_batch", "cluster")
            .parquet(f"{store_path}/codes")
        )
        batch_df.unpersist()

    return (
        vec_stream.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def incremental_variant_ingest(
    variant_stream: DataFrame,
    pipeline: Any,
    warehouse: str,
    *,
    checkpoint_dir: str,
    job_id_offset: int = 0,
):
    """foreachBatch ingest: each micro-batch of (patient_id,
    physical_chromosome, snp_id, allele, zygosity) rows runs as one
    pipeline job whose stage outputs append to job_id-partitioned
    parquet under ``warehouse``; the job's cached frames are released
    once its tables are written.

    Returns the started StreamingQuery. Job ids are
    ``job_id_offset + batch_id + 1`` — deterministic on replay, so a
    restarted query overwrites its own partitions (exactly-once per
    batch via dynamic partition overwrite).
    """

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        job_id = job_id_offset + batch_id + 1
        out = pipeline.run_job(job_id=job_id, variants=batch_df)
        try:
            pipeline.materialize(out, warehouse)
        finally:
            pipeline.release(job_id)

    return (
        variant_stream.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_drift_monitor(
    doc_stream: DataFrame,
    baseline_freq: DataFrame,
    *,
    out_path: str,
    checkpoint_dir: str,
    columns: list[str] | None = None,
    k: int = 10,
    alpha: float = 0.5,
):
    """foreachBatch drift monitor: score every incoming micro-batch's
    value distributions against a pinned baseline histogram and append
    (ingest_batch, column, psi, n_buckets, batch_rows) to
    ``out_path`` — the streaming face of
    :func:`~haplorec_spark.operators.profiling.value_histogram_psi`
    (a new drop whose domain mix / language mix / status values shift
    hard from the baseline shows up as a PSI spike BEFORE it pollutes
    the curated corpus downstream).

    ``baseline_freq`` is a :func:`~haplorec_spark.operators.profiling.
    frequent_values` frame from the reference snapshot (top-k-sized —
    it rides along as a tiny static side input). Per batch: one top-k
    histogram over the batch (the ``frequent_values`` single shuffle)
    + histogram-sized PSI arithmetic. Exactly-once via
    ``ingest_batch=<batch_id>`` dynamic partition overwrite (the
    module's standard replay scheme). Returns the started
    StreamingQuery.
    """
    from haplorec_spark.operators.profiling import (
        frequent_values,
        value_histogram_psi,
    )

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.persist()
        n_rows = batch_df.count()  # doubles as the empty-batch guard
        if not n_rows:
            batch_df.unpersist()
            return
        fv = frequent_values(batch_df, columns, k)
        psi = value_histogram_psi(baseline_freq, fv, alpha=alpha)
        out = psi.select(
            F.lit(batch_id).alias("ingest_batch"),
            "column",
            "psi",
            "n_buckets",
            F.lit(n_rows).alias("batch_rows"),
        ).repartition(1)
        # the output plan descends from the MAIN session's baseline
        # frame (foreachBatch hands us a cloned session for batch_df),
        # so the dynamic-overwrite conf must be set on the session the
        # write actually runs under — out.sparkSession, not batch_df's.
        # Save/restore: unlike the per-batch cloned sessions the other
        # ingests configure, this is the USER's session — the flip must
        # not leak into their unrelated overwrite writes.
        conf = out.sparkSession.conf
        prev = conf.get("spark.sql.sources.partitionOverwriteMode", None)
        conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            (
                out.write.mode("overwrite")
                .partitionBy("ingest_batch")
                .parquet(out_path)
            )
        finally:
            if prev is None:
                conf.unset("spark.sql.sources.partitionOverwriteMode")
            else:
                conf.set(
                    "spark.sql.sources.partitionOverwriteMode", prev
                )
            batch_df.unpersist()

    return (
        doc_stream.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_tokenizer_drift(
    doc_stream: DataFrame,
    merges: DataFrame,
    baseline_hist: DataFrame,
    *,
    out_path: str,
    checkpoint_dir: str,
    text_col: str = "text",
    byte_level: bool = False,
    pretokenize: str = "whitespace",
    alpha: float = 0.5,
):
    """foreachBatch tokenizer-rot monitor: score every incoming
    micro-batch against a PINNED tokenizer artifact and append
    (ingest_batch, psi, n_buckets, fertility, batch_rows, n_tokens,
    n_words) to ``out_path`` — the tokenizer-specific face of
    :func:`stream_drift_monitor`, because for a long-lived corpus
    stream the tokenizer is the component that silently rots: the
    merge table was learned on yesterday's distribution, and a drop
    whose language/jargon/markup mix has moved encodes into MORE,
    SHORTER tokens long before any downstream quality metric reacts.

    Two complementary signals per batch, both against the pinned
    ``merges``:

    * **fertility** — BPE tokens per whitespace word (the standard
      tokenizer-fit number; rises as the vocabulary stops covering
      the stream);
    * **psi** — population stability index of the batch's BPE
      token-LENGTH histogram vs ``baseline_hist`` (a
      :func:`~haplorec_spark.operators.bpe.bpe_token_length_histogram`
      frame from the tokenizer's own training corpus, histogram-sized,
      riding along as a tiny static side input).

    ``byte_level`` and ``pretokenize`` must match the pinned
    artifact's flags (both travel in ``bpe.save_bpe_tokenizer`` meta)
    — scoring a gpt2-pretokenized tokenizer with whitespace words
    would report phantom drift.

    Per batch: ONE corpus shuffle (the word-count frame, checkpointed
    and shared by the histogram and the fertility denominator) + one
    distinct-word encode (the bounded pandas UDF) + two
    histogram-sized aggregates. Batch parity with the batch
    operators is test-pinned; exactly-once via
    ``ingest_batch=<batch_id>`` dynamic partition overwrite (the
    module's standard replay scheme). Returns the started
    StreamingQuery.
    """
    from haplorec_spark.operators.bpe import (
        bpe_token_length_histogram,
        bpe_word_counts,
    )
    from haplorec_spark.operators.profiling import value_histogram_psi

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.persist()
        n_rows = batch_df.count()  # doubles as the empty-batch guard
        if not n_rows:
            batch_df.unpersist()
            return
        # ONE corpus-batch shuffle: the word-count frame feeds both
        # the token-length histogram and the fertility denominator
        wc = bpe_word_counts(
            batch_df, text_col=text_col, pretokenize=pretokenize
        ).localCheckpoint(eager=True)
        hist = bpe_token_length_histogram(
            batch_df,
            merges,
            text_col=text_col,
            byte_level=byte_level,
            word_counts=wc,
        ).localCheckpoint(eager=True)  # consumed by PSI and the totals
        totals = hist.agg(F.sum("n_rows").alias("t")).first()
        n_tokens = int(totals["t"] or 0)
        n_words = int(
            wc.agg(F.sum("count").alias("t")).first()["t"] or 0
        )
        # the output row is BUILT driver-side from scalars instead of
        # projected off the PSI frame: a non-empty batch whose texts
        # contain zero words yields an EMPTY histogram, and a
        # frame-shaped projection would then emit no row at all —
        # silently absent from the monitor instead of recorded with
        # n_words=0. Every non-empty batch appends exactly one row.
        p = (
            value_histogram_psi(baseline_hist, hist, alpha=alpha)
            .select("psi", "n_buckets")
            .first()
        )
        out = batch_df.sparkSession.createDataFrame(
            [
                (
                    int(batch_id),
                    float(p["psi"]) if p and p["psi"] is not None else None,
                    int(p["n_buckets"]) if p else 0,
                    round(n_tokens / n_words, 6) if n_words else 0.0,
                    int(n_rows),
                    int(n_tokens),
                    int(n_words),
                )
            ],
            "ingest_batch bigint, psi double, n_buckets bigint, "
            "fertility double, batch_rows bigint, n_tokens bigint, "
            "n_words bigint",
        )
        # out is built on batch_df's (cloned) session, but the conf
        # flip below must still save/restore — foreachBatch clones
        # SHARE the underlying SQLConf entry unless the query sets
        # per-query overrides, and leaking partitionOverwriteMode
        # would silently change unrelated writes.
        conf = out.sparkSession.conf
        prev = conf.get("spark.sql.sources.partitionOverwriteMode", None)
        conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            (
                out.write.mode("overwrite")
                .partitionBy("ingest_batch")
                .parquet(out_path)
            )
        finally:
            if prev is None:
                conf.unset("spark.sql.sources.partitionOverwriteMode")
            else:
                conf.set(
                    "spark.sql.sources.partitionOverwriteMode", prev
                )
            batch_df.unpersist()

    return (
        doc_stream.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_curate_ingest(
    doc_stream: DataFrame,
    *,
    store_path: str,
    out_path: str,
    checkpoint_dir: str,
    config=None,
    verify_threshold: float | None = None,
):
    """Streaming corpus curation: the config-driven twin of
    :func:`haplorec_spark.curation.curate_documents` for an unbounded
    document source.

    Each micro-batch passes through the MAP-SIDE curation stages
    (:func:`~haplorec_spark.curation.map_side_curation`: language
    detection/keep-list, quality + repetition floors, literal-map
    classifier gate, PII redaction, split assignment — all pure
    projections/filters, so they run on the stream itself with zero
    state), then ``config.dedup`` selects the cross-batch dedup store:
    ``"exact"`` / ``"near"`` delegate to :func:`stream_dedup_ingest`
    (content-hash or MinHash-LSH store, exactly-once
    ``ingest_batch``-partitioned output; ``verify_threshold`` as
    there), ``None`` appends the filtered batches with the same
    exactly-once partition scheme and no store. Corpus-global stages
    (mixture, DSIR, packing, …) stay batch-only and raise loudly —
    run :func:`curate_documents` over the accumulated ``out_path``
    when a training snapshot is cut.

    Returns the started StreamingQuery.
    """
    from haplorec_spark.curation import CurationConfig, map_side_curation

    cfg = config if config is not None else CurationConfig(dedup=None)
    filtered = map_side_curation(doc_stream, cfg)
    if cfg.dedup in ("exact", "near"):
        return stream_dedup_ingest(
            filtered,
            store_path=store_path,
            out_path=out_path,
            checkpoint_dir=checkpoint_dir,
            mode=cfg.dedup,
            text_col=cfg.text_col,
            id_col=cfg.id_col,
            verify_threshold=verify_threshold,
        )
    if cfg.dedup:
        raise ValueError(f"unknown dedup mode: {cfg.dedup!r}")

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        sp = batch_df.sparkSession
        sp.conf.set(
            "spark.sql.sources.partitionOverwriteMode", "dynamic"
        )
        (
            batch_df.withColumn("ingest_batch", F.lit(batch_id))
            .write.mode("overwrite").partitionBy("ingest_batch")
            .parquet(out_path)
        )

    return (
        filtered.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_dsir_score(
    doc_stream: DataFrame,
    vocab: DataFrame,
    *,
    out_path: str,
    checkpoint_dir: str,
    min_log_weight: float | None = None,
    alpha: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """foreachBatch DSIR scoring: weight every incoming micro-batch's
    documents against a PINNED combined vocabulary
    (:func:`~haplorec_spark.operators.sampling.build_dsir_vocab` from
    the reference raw+target snapshot) and append (ingest_batch, id,
    n_tokens, log_weight) to ``out_path`` — the streaming face of
    :func:`~haplorec_spark.operators.sampling.importance_weights`.
    The frozen ratio is the point: per-batch re-learned LMs would
    drift with whatever each drop happens to contain.

    ``min_log_weight`` keeps only documents at or above the floor
    (the streaming selection face — Gumbel top-k needs a global view,
    so streams select by threshold; calibrate the floor offline from
    the batch weight distribution). Per batch: one token join against
    the pinned vocab + a per-doc sum. Exactly-once via
    ``ingest_batch=<batch_id>`` dynamic partition overwrite (the
    module's standard replay scheme). Returns the started
    StreamingQuery.
    """
    from haplorec_spark.operators.sampling import importance_weights

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):  # empty-batch guard
            return
        w = importance_weights(
            batch_df,
            vocab=vocab,
            alpha=alpha,
            text_col=text_col,
            id_col=id_col,
        )
        if min_log_weight is not None:
            w = w.filter(F.col("log_weight") >= min_log_weight)
        out = w.select(
            F.lit(batch_id).alias("ingest_batch"),
            id_col,
            "n_tokens",
            "log_weight",
        ).repartition(1)
        # same session caveat as stream_drift_monitor: the plan
        # descends from the MAIN session's pinned vocab, so the
        # dynamic-overwrite flip goes on out.sparkSession and must be
        # restored (it is the user's session, not a per-batch clone).
        conf = out.sparkSession.conf
        prev = conf.get("spark.sql.sources.partitionOverwriteMode", None)
        conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            (
                out.write.mode("overwrite")
                .partitionBy("ingest_batch")
                .parquet(out_path)
            )
        finally:
            if prev is None:
                conf.unset("spark.sql.sources.partitionOverwriteMode")
            else:
                conf.set(
                    "spark.sql.sources.partitionOverwriteMode", prev
                )

    return (
        doc_stream.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


# ------------------------------------------------- streaming funnel state


def _write_funnel_params_marker(
    spark, path: str, steps, within_seconds, retry: bool,
    compacted_through: int = -1,
) -> None:
    """Record the funnel identity at ``<path>/_params`` (the bloom
    ``_params`` convention): state arrays are only meaningful under
    the exact (steps, budget, semantics) they were folded with, so a
    job whose config drifted fails at write time instead of silently
    continuing the wrong DP. Steps are JSON-encoded (a delimiter-join
    would let distinct lists collide). ``compacted_through`` is the
    highest batch id a compaction has folded — the replay horizon
    (see :func:`compact_funnel_state`)."""
    import json

    _validate_funnel_params_marker(spark, path, steps, within_seconds, retry)
    spark.createDataFrame(
        [(json.dumps(list(steps)), within_seconds, retry,
          int(compacted_through))],
        "steps string, within_seconds long, retry boolean,"
        " compacted_through long",
    ).write.mode("overwrite").parquet(f"{path}/_params")


def _read_funnel_params_marker(spark, path: str):
    import json

    from pyspark.errors.exceptions.captured import AnalysisException

    try:
        r = spark.read.parquet(f"{path}/_params").first()
    except AnalysisException:
        return None
    return (
        json.loads(r["steps"]),
        r["within_seconds"],
        bool(r["retry"]),
        int(r["compacted_through"])
        if "compacted_through" in r.__fields__
        else -1,
    )


def _validate_funnel_params_marker(
    spark, path: str, steps, within_seconds, retry: bool
) -> None:
    stored = _read_funnel_params_marker(spark, path)
    want = (
        list(steps),
        None if within_seconds is None else int(within_seconds),
        bool(retry),
    )
    if stored is not None and (stored[0], stored[1], stored[2]) != want:
        raise ValueError(
            f"funnel state at {path} was folded with "
            f"(steps={stored[0]}, within={stored[1]}, "
            f"retry={stored[2]}); continuing it with (steps={want[0]}, "
            f"within={want[1]}, retry={want[2]}) would corrupt the DP — "
            "use the stored config or a fresh state path"
        )


def stream_funnel_ingest(
    event_stream: DataFrame,
    *,
    steps: list[str],
    state_path: str,
    checkpoint_dir: str,
    within_seconds: int | None = None,
    retry: bool = False,
    late_policy: str = "error",
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
):
    """foreachBatch streaming twin of
    :func:`~haplorec_spark.operators.funnel.funnel_depth`: each
    micro-batch folds its events ONTO the persisted per-user funnel
    state, so the accumulated state always equals the batch fold over
    all history — without ever re-reading history.

    Why this is exact: both funnel semantics are LEFT FOLDS over the
    user's time-ordered events (the witness prefix for single-attempt,
    the windowFunnel DP for ``retry=True``), and a left fold over a
    concatenation is the fold of the second part started from the
    first part's final state. The state store holds per user the fold
    accumulator (a ``len(steps)``-bounded array — matched timestamps
    for single-attempt, per-level witness structs for ``retry=True``;
    a few dozen bytes either way, NOT the events), so state size is
    user-count-bounded and ingest work is batch-sized: the historical
    event stream is never re-scanned. Because the accumulator carries
    the full witness chain, the store decodes BOTH faces: depths
    (:func:`funnel_state_depths`) and step-timing percentiles
    (:func:`funnel_state_step_timings`).

    Ordering contract: events must arrive in non-decreasing
    (ts, event_id) order PER USER across batches (in-batch order is
    free — the batch sorts before folding). ``late_policy="error"``
    (default) verifies this against each user's stored high-water
    mark and fails the batch loudly on a violation;
    ``"unchecked"`` skips the verification (callers whose source
    guarantees ordering save the check's column compare — the fold
    would silently treat a late event as current, so only opt out
    when the guarantee is real).

    Exactly-once: each batch writes only its UPDATED users into an
    ``ingest_batch=<id>`` partition (dynamic overwrite — a replayed
    batch rewrites its own partition; the fold re-reads only states
    from EARLIER batches, so the rewrite is idempotent). Readers take
    each user's latest partition (:func:`funnel_state_depths`);
    :func:`compact_funnel_state` folds accumulated partitions into
    one. The (steps, budget, semantics) identity is pinned at
    ``<state_path>/_params`` and validated on every run.

    Returns the started StreamingQuery.
    """
    ingest = _funnel_ingest_fn(
        steps=steps, state_path=state_path,
        within_seconds=within_seconds, retry=retry,
        late_policy=late_policy, user_col=user_col, ts_col=ts_col,
        type_col=type_col, id_col=id_col,
    )
    return (
        event_stream.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _funnel_ingest_fn(
    *,
    steps: list[str],
    state_path: str,
    within_seconds: int | None,
    retry: bool,
    late_policy: str,
    user_col: str,
    ts_col: str,
    type_col: str,
    id_col: str,
):
    """The per-batch fold of :func:`stream_funnel_ingest` as a
    standalone callable — module-level so the replay-idempotence
    property (re-running a batch_id rewrites its own partition from
    strictly earlier states) is directly testable."""
    from haplorec_spark.operators.funnel import (
        RETRY_WITNESS_ENTRY,
        _retry_witness_fold_sql,
        _witness_fold_sql,
    )

    if not steps:
        raise ValueError("funnel needs at least one step")
    if retry and within_seconds is None:
        raise ValueError(
            "retry=True is meaningful only with a within_seconds budget"
        )
    if late_policy not in ("error", "unchecked"):
        raise ValueError(f"unknown late_policy: {late_policy!r}")
    k = len(steps)
    if retry:
        # round 12: the stored accumulator is the WITNESS DP (per
        # level t0/ev/gp), not just chain starts, so the state decodes
        # step timings as well as depths; both are the same left fold
        empty_init = (
            f"array_repeat(cast(null as {RETRY_WITNESS_ENTRY}), {k})"
        )
        fold = _retry_witness_fold_sql(
            steps, within_seconds, init=f"coalesce(_wit, {empty_init})"
        )
    else:
        empty_init = "cast(array() as array<timestamp>)"
        fold = _witness_fold_sql(
            steps, within_seconds, init=f"coalesce(_wit, {empty_init})"
        )

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        from haplorec_spark.operators.funnel import _grouped_funnel_events

        # pre-aggregation emptiness probe: an early-out scan, not the
        # full per-user shuffle (review-caught double aggregation)
        if not batch_df.filter(F.col(type_col).isin(list(steps))).take(1):
            return
        spark = batch_df.sparkSession
        params = _read_funnel_params_marker(spark, state_path)
        if params is not None and batch_id <= params[3]:
            raise ValueError(
                f"stream_funnel_ingest batch {batch_id}: the state at "
                f"{state_path} was compacted through batch "
                f"{params[3]}, so this batch's pre-compaction inputs "
                "are gone — a batch at or below the compaction horizon "
                "cannot replay. Compact only after a CLEAN stop "
                "(checkpoint committed); recover by rebuilding the "
                "state from the full event history"
            )
        _write_funnel_params_marker(
            spark, state_path, steps, within_seconds, retry,
            compacted_through=params[3] if params is not None else -1,
        )
        spark.conf.set(
            "spark.sql.sources.partitionOverwriteMode", "dynamic"
        )
        # the shared single-shuffle funnel input; batch high-water
        # bounds come map-side off the already-sorted array
        grouped = _grouped_funnel_events(
            batch_df, steps,
            user_col=user_col, ts_col=ts_col, type_col=type_col,
            id_col=id_col, max_events_per_user=None,
        ).select(
            "user_id",
            "evs",
            F.expr("element_at(evs, 1)").alias("_first"),
            F.expr("element_at(evs, size(evs))").alias("_last"),
        )
        try:
            # a replayed batch must fold from strictly EARLIER states,
            # not its own crashed attempt's partition
            stored = spark.read.parquet(state_path)
            _ensure_funnel_state_schema(stored, retry, state_path)
            prev = _latest_state(
                stored.filter(
                    F.col("ingest_batch") < batch_id
                )
            ).select(
                "user_id",
                F.col("wit").alias("_wit"),
                "last_ts",
                "last_eid",
            )
        except AnalysisException:
            prev = None
        wit_type = (
            f"array<{RETRY_WITNESS_ENTRY}>" if retry
            else "array<timestamp>"
        )
        joined = (
            grouped.join(prev, on="user_id", how="left")
            if prev is not None
            else grouped.withColumn(
                "_wit", F.lit(None).cast(wit_type)
            )
            .withColumn("last_ts", F.lit(None).cast("timestamp"))
            .withColumn("last_eid", F.lit(None).cast("long"))
        )
        joined = joined.persist()
        try:
            if late_policy == "error":
                late = joined.filter(
                    F.col("last_ts").isNotNull()
                    & (
                        (F.col("_first.ts") < F.col("last_ts"))
                        | (
                            (F.col("_first.ts") == F.col("last_ts"))
                            & (F.col("_first.eid") <= F.col("last_eid"))
                        )
                    )
                ).count()
                if late:
                    raise ValueError(
                        f"stream_funnel_ingest batch {batch_id}: {late} "
                        "user(s) received events at or before their "
                        "stored high-water mark — the fold contract "
                        "needs non-decreasing (ts, event_id) per user "
                        "across batches; fix the source ordering or "
                        "rebuild the state from the full history"
                    )
            (
                joined.select(
                    "user_id",
                    F.expr(fold).alias("wit"),
                    F.col("_last.ts").alias("last_ts"),
                    F.col("_last.eid").alias("last_eid"),
                )
                .withColumn("ingest_batch", F.lit(batch_id))
                .write.mode("overwrite")
                .partitionBy("ingest_batch")
                .parquet(state_path)
            )
        finally:
            joined.unpersist()

    return ingest


def funnel_state_depths(spark, state_path: str) -> DataFrame:
    """(user_id, depth, t_first) from a :func:`stream_funnel_ingest`
    state store — per user the LATEST partition's accumulator,
    decoded under the store's pinned semantics (``_params``): equal
    row-for-row to batch ``funnel_depth`` over the full event history
    (parity test-pinned)."""
    params = _read_funnel_params_marker(spark, state_path)
    if params is None:
        raise ValueError(
            f"no funnel state at {state_path} (missing _params marker)"
        )
    retry = params[2]
    stored = spark.read.parquet(state_path)
    _ensure_funnel_state_schema(stored, retry, state_path)
    latest = _latest_state(stored)
    if retry:
        depth = "size(filter(wit, x -> x IS NOT NULL))"
        return latest.select(
            "user_id",
            F.expr(depth).cast("int").alias("depth"),
            # depth 0 must be guarded: element_at(_, 0) is an error
            F.expr(
                f"CASE WHEN {depth} = 0 THEN CAST(NULL AS timestamp)"
                f" ELSE element_at(wit, {depth}).t0 END"
            ).alias("t_first"),
        )
    return latest.select(
        "user_id",
        F.expr("size(wit)").cast("int").alias("depth"),
        F.expr(
            "CASE WHEN size(wit) = 0 THEN CAST(NULL AS timestamp)"
            " ELSE element_at(wit, 1) END"
        ).alias("t_first"),
    )


def funnel_state_step_timings(
    spark,
    state_path: str,
    *,
    percentiles=(0.5, 0.9),
) -> DataFrame:
    """(step_ix, step, n_users, p<P>_seconds...): per-adjacent-step
    conversion-time percentiles decoded STRAIGHT from a
    :func:`stream_funnel_ingest` state store — row-for-row equal to
    batch :func:`~haplorec_spark.operators.funnel.funnel_step_timings`
    over the full event history (parity test-pinned, both semantics),
    without re-reading a single historical event.

    Works because the stored accumulator already carries the gap
    witnesses: the single-attempt state is the matched-timestamp
    prefix (gaps = adjacent differences), and the ``retry=True`` state
    is the per-level witness DP with each level's gap microseconds in
    ``gp`` (round 12 — states written by the round-11 layout, which
    stored only chain starts, are refused with rebuild guidance by the
    schema guard). Percentiles ride the shared
    distinct-value-histogram tail (``funnel._step_timing_report``), so
    no user-sized buffer appears here either; the steps ladder comes
    from the store's pinned ``_params``.
    """
    params = _read_funnel_params_marker(spark, state_path)
    if params is None:
        raise ValueError(
            f"no funnel state at {state_path} (missing _params marker)"
        )
    steps, _, retry = params[0], params[1], params[2]
    if len(steps) < 2:
        raise ValueError("step timings need at least two steps")
    stored = spark.read.parquet(state_path)
    _ensure_funnel_state_schema(stored, retry, state_path)
    latest = _latest_state(stored)
    if retry:
        gaps = latest.select(
            "user_id",
            F.posexplode(
                F.expr(
                    "filter(transform(wit, (x, j) ->"
                    " CASE WHEN j >= 1 AND x IS NOT NULL"
                    " THEN x.gp ELSE CAST(NULL AS bigint) END),"
                    " g -> g IS NOT NULL)"
                )
            ).alias("_pos", "_gp"),
        )
    else:
        gaps = latest.select(
            "user_id",
            F.posexplode(
                F.expr(
                    "transform(slice(wit, 2, greatest(size(wit) - 1, 0)),"
                    " (t, j) ->"
                    " unix_micros(t) - unix_micros(element_at(wit, j + 1)))"
                )
            ).alias("_pos", "_gp"),
        )
    from haplorec_spark.operators.funnel import _step_timing_report

    return _step_timing_report(spark, gaps, steps, percentiles)


def funnel_state_counts(spark, state_path: str) -> DataFrame:
    """(step_ix, step, n_users, conversion): the funnel REPORT decoded
    straight from a :func:`stream_funnel_ingest` state store — the
    third streaming face next to :func:`funnel_state_depths` and
    :func:`funnel_state_step_timings`, row-for-row equal to batch
    :func:`~haplorec_spark.operators.funnel.funnel_counts` over the
    full event history for users with at least one funnel-step event
    (users with none never enter the state store, exactly as they
    never enter the batch fold — both faces report the same ladder).
    Steps come from the pinned ``_params``; the ladder aggregation is
    the shared steps-sized tail (``funnel._funnel_report``)."""
    from haplorec_spark.operators.funnel import _funnel_report

    params = _read_funnel_params_marker(spark, state_path)
    if params is None:
        raise ValueError(
            f"no funnel state at {state_path} (missing _params marker)"
        )
    return _funnel_report(
        spark, funnel_state_depths(spark, state_path), params[0]
    )


def _ensure_funnel_state_schema(
    stored: DataFrame, retry: bool, state_path: str
) -> None:
    """Refuse a retry-mode state whose ``wit`` column predates the
    round-12 witness layout (a bare timestamp array of chain starts):
    decoding it as witness structs would fail confusingly mid-plan,
    and CONTINUING the fold onto it would silently discard the gap
    history. Loud refusal with the recovery path instead."""
    from pyspark.sql.types import StructType

    elem = stored.schema["wit"].dataType.elementType
    if retry and not isinstance(elem, StructType):
        raise ValueError(
            f"funnel state at {state_path} stores bare chain-start "
            "timestamps (pre-round-12 retry layout); this version "
            "stores per-level witness structs so the state can decode "
            "step timings — rebuild the state from the full event "
            "history at a fresh path"
        )
    if not retry and isinstance(elem, StructType):
        raise ValueError(
            f"funnel state at {state_path} stores witness structs but "
            "_params says retry=False — the store is torn; rebuild it "
            "from the full event history"
        )


def _latest_state(stored: DataFrame) -> DataFrame:
    """Each user's most recent state row — the ONE latest-partition
    resolution every per-user state-store family (funnel, retention)
    shares across its ingest, readers, and compactor (hand copies
    would drift)."""
    return (
        stored.withColumn(
            "_rk",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(
                    F.col("ingest_batch").desc()
                )
            ),
        )
        .filter(F.col("_rk") == 1)
        .drop("_rk")
    )


def compact_funnel_state(spark, state_path: str) -> None:
    """Fold a funnel state store's accumulated per-batch partitions
    into one (``ingest_batch = -1``, keeping the partition depth so
    later batches append normally): after thousands of micro-batches
    every reader pays a partition-wide latest-per-user window over
    all history — compaction resolves it once.

    Run it ONLY between cleanly stopped stream runs (checkpoint
    committed): compaction destroys the strictly-earlier partitions a
    crash-replay would fold from, so the highest batch id folded is
    recorded in ``_params`` as the replay horizon and a later batch
    at or below it REFUSES to run instead of silently double-folding.
    The rewrite stages everything — compacted rows AND the marker —
    into a sibling directory and promotes it by rename
    (:func:`~haplorec_spark.operators.stores.promote_dir`), so no
    crash window leaves the store marker-less (the drift guard would
    otherwise be disarmed). Offline single-writer, like the other
    store compactions."""
    import json

    from haplorec_spark.operators.stores import delete_dir, promote_dir

    params = _read_funnel_params_marker(spark, state_path)
    if params is None:
        raise ValueError(
            f"no funnel state at {state_path} (missing _params marker)"
        )
    stored = spark.read.parquet(state_path)
    horizon = stored.agg(F.max("ingest_batch")).first()[0]
    latest = _latest_state(stored).select(
        "user_id", "wit", "last_ts", "last_eid",
        F.lit(-1).cast("long").alias("ingest_batch"),
    )
    stage = f"{state_path}__compact"
    delete_dir(spark, stage)
    (
        latest.write.mode("overwrite")
        .partitionBy("ingest_batch")
        .parquet(stage)
    )
    spark.createDataFrame(
        [(json.dumps(list(params[0])), params[1], params[2],
          int(max(horizon, params[3])))],
        "steps string, within_seconds long, retry boolean,"
        " compacted_through long",
    ).write.mode("overwrite").parquet(f"{stage}/_params")
    promote_dir(spark, stage, state_path)


# ------------------------------------------------- streaming retention


def _write_retention_params_marker(
    spark, path: str, period: str, compacted_through: int = -1
) -> None:
    """Pin the retention identity at ``<path>/_params`` (the funnel
    marker convention): period arrays are only meaningful under the
    period granularity they were truncated with, so a job whose
    ``period`` drifted fails at write time instead of silently folding
    week starts into a month-grain store."""
    stored = _read_retention_params_marker(spark, path)
    if stored is not None and stored[0] != period:
        raise ValueError(
            f"retention state at {path} was folded with "
            f"period={stored[0]!r}; continuing it with "
            f"period={period!r} would mix truncation grains — use the "
            "stored period or a fresh state path"
        )
    spark.createDataFrame(
        [(period, int(compacted_through))],
        "period string, compacted_through long",
    ).write.mode("overwrite").parquet(f"{path}/_params")


def _read_retention_params_marker(spark, path: str):
    from pyspark.errors.exceptions.captured import AnalysisException

    try:
        r = spark.read.parquet(f"{path}/_params").first()
    except AnalysisException:
        return None
    return (r["period"], int(r["compacted_through"]))


def stream_retention_ingest(
    event_stream: DataFrame,
    *,
    state_path: str,
    checkpoint_dir: str,
    period: str = "week",
    user_col: str = "user_id",
    ts_col: str = "ts",
):
    """foreachBatch streaming twin of
    :func:`~haplorec_spark.operators.retention.retention_cohorts`:
    each micro-batch merges its users' distinct activity periods onto
    the persisted per-user state, and the store always decodes
    (:func:`retention_state_cohorts`) to EXACTLY the batch cohort
    matrix over the full event history — without re-reading history.

    Why this is exact — and STRONGER than the funnel's contract: the
    retention state is a SEMILATTICE, not a sequential fold. Per user
    it is the set of distinct ``period``-truncated activity
    timestamps (the cohort is just that set's minimum, recomputed at
    read time), and set union is commutative, associative, and
    idempotent — so batches may arrive in ANY order, carry overlapping
    or duplicate events, and deliver a user's earliest activity LAST,
    and the converged state is identical. No high-water mark, no
    ``late_policy``: there is nothing to violate. A late-arriving
    earlier event simply shrinks the stored minimum and the decoder
    re-derives every period_ix from the new cohort.

    State size: one row per user with a period array bounded by the
    CALENDAR (distinct periods the stream has spanned — 52/year at
    week grain), never by event count; the corpus's event granularity
    dies inside each batch's map-side distinct.

    Exactly-once: the funnel store's mechanics — each batch writes
    only its touched users into an ``ingest_batch=<id>`` partition
    via dynamic overwrite, folding from strictly-earlier partitions,
    so a replayed batch rewrites its own partition bit-identically.
    The ``period`` identity is pinned at ``<state_path>/_params``;
    :func:`compact_retention_state` folds partitions to one and
    records the replay horizon.

    Returns the started StreamingQuery.
    """
    ingest = _retention_ingest_fn(
        state_path=state_path, period=period,
        user_col=user_col, ts_col=ts_col,
    )
    return (
        event_stream.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _retention_ingest_fn(
    *,
    state_path: str,
    period: str,
    user_col: str,
    ts_col: str,
):
    """The per-batch merge of :func:`stream_retention_ingest` as a
    standalone callable — module-level so replay idempotence and
    order independence are directly testable at the batch level."""
    from haplorec_spark.operators.retention import _PERIODS

    if period not in _PERIODS:
        raise ValueError(
            f"period must be one of {sorted(_PERIODS)}, got {period!r}"
        )

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        # null-ts events carry no activity signal — dropped up front,
        # the batch operator's pinned convention (and the reason no
        # state row can ever hold an empty period set); the filter is
        # on the CAST value, exactly as the batch spelling, so an
        # uncastable string ts drops identically on both faces.
        # A batch left EMPTY by this filter early-returns before the
        # horizon/drift guards — the funnel ingest's semantics for a
        # no-step batch: a batch contributing nothing folds nothing,
        # so there is nothing to double-fold or corrupt; the next
        # contributing batch still hits both guards.
        batch_df = batch_df.filter(
            F.col(ts_col).cast("timestamp").isNotNull()
        )
        if not batch_df.take(1):
            return
        spark = batch_df.sparkSession
        params = _read_retention_params_marker(spark, state_path)
        if params is not None and batch_id <= params[1]:
            raise ValueError(
                f"stream_retention_ingest batch {batch_id}: the state "
                f"at {state_path} was compacted through batch "
                f"{params[1]}, so this batch's pre-compaction inputs "
                "are gone — a batch at or below the compaction horizon "
                "cannot replay. Compact only after a CLEAN stop; "
                "recover by rebuilding the state from the full history"
            )
        _write_retention_params_marker(
            spark, state_path, period,
            compacted_through=params[1] if params is not None else -1,
        )
        spark.conf.set(
            "spark.sql.sources.partitionOverwriteMode", "dynamic"
        )
        batch_periods = (
            batch_df.select(
                F.col(user_col).alias("user_id"),
                F.date_trunc(
                    period, F.col(ts_col).cast("timestamp")
                ).alias("p"),
            )
            .groupBy("user_id")
            .agg(F.array_sort(F.collect_set("p")).alias("_new"))
        )
        try:
            # a replayed batch must merge from strictly EARLIER
            # states, not its own crashed attempt's partition
            prev = _latest_state(
                spark.read.parquet(state_path).filter(
                    F.col("ingest_batch") < batch_id
                )
            ).select("user_id", F.col("periods").alias("_old"))
        except AnalysisException:
            prev = None
        merged = (
            batch_periods.join(prev, on="user_id", how="left")
            if prev is not None
            else batch_periods.withColumn(
                "_old", F.lit(None).cast("array<timestamp>")
            )
        )
        (
            merged.select(
                "user_id",
                F.array_sort(
                    F.array_union(
                        F.coalesce(
                            F.col("_old"),
                            F.expr("cast(array() as array<timestamp>)"),
                        ),
                        F.col("_new"),
                    )
                ).alias("periods"),
            )
            .withColumn("ingest_batch", F.lit(batch_id))
            .write.mode("overwrite")
            .partitionBy("ingest_batch")
            .parquet(state_path)
        )

    return ingest


def retention_state_cohorts(
    spark, state_path: str, *, max_period_ix: int | None = None
) -> DataFrame:
    """(cohort, period_ix, n_active, n_cohort, retention) decoded from
    a :func:`stream_retention_ingest` state store — row-for-row equal
    to batch :func:`~haplorec_spark.operators.retention.
    retention_cohorts` over the full event history (parity
    test-pinned, week and month grains, arbitrary-order drops).

    The cohort is each stored period set's minimum, so a
    late-arriving earlier period re-anchors the user's whole row at
    decode time with no state surgery. The period-index arithmetic
    and the matrix tail are the batch operator's own
    (``_period_ix_expr`` / ``_retention_matrix``) — one spelling, no
    drift. Work is state-sized (explode of calendar-bounded arrays),
    never event-history-sized."""
    from haplorec_spark.operators.retention import (
        _period_ix_expr,
        _retention_matrix,
    )

    params = _read_retention_params_marker(spark, state_path)
    if params is None:
        raise ValueError(
            f"no retention state at {state_path} (missing _params "
            "marker)"
        )
    period = params[0]
    latest = _latest_state(spark.read.parquet(state_path))
    joined = latest.select(
        "user_id",
        F.element_at("periods", 1).alias("cohort"),
        F.explode("periods").alias("p"),
    ).withColumn("period_ix", _period_ix_expr(period))
    if max_period_ix is not None:
        joined = joined.filter(F.col("period_ix") <= max_period_ix)
    return _retention_matrix(joined)


def compact_retention_state(spark, state_path: str) -> None:
    """Fold a retention state store's per-batch partitions into one
    (``ingest_batch = -1``) — :func:`compact_funnel_state`'s
    mechanics: staged rewrite of rows AND marker, promoted by rename,
    with the highest folded batch id recorded as the replay horizon
    so a stale crash-replay refuses instead of double-merging (the
    merge itself is idempotent, but its inputs are gone). Offline
    single-writer, between cleanly stopped runs."""
    from haplorec_spark.operators.stores import delete_dir, promote_dir

    params = _read_retention_params_marker(spark, state_path)
    if params is None:
        raise ValueError(
            f"no retention state at {state_path} (missing _params "
            "marker)"
        )
    stored = spark.read.parquet(state_path)
    horizon = stored.agg(F.max("ingest_batch")).first()[0]
    latest = _latest_state(stored).select(
        "user_id", "periods",
        F.lit(-1).cast("long").alias("ingest_batch"),
    )
    stage = f"{state_path}__compact"
    delete_dir(spark, stage)
    (
        latest.write.mode("overwrite")
        .partitionBy("ingest_batch")
        .parquet(stage)
    )
    spark.createDataFrame(
        [(params[0], int(max(horizon, params[1])))],
        "period string, compacted_through long",
    ).write.mode("overwrite").parquet(f"{stage}/_params")
    promote_dir(spark, stage, state_path)
