"""Structured Streaming tests: batch/stream agreement, stateful operator,
incremental job ingest — all driven with availableNow triggers against
the driver-provided events parquet and pipeline fixtures."""

from __future__ import annotations

import pytest

from haplorec_spark.pipeline import Pipeline
from haplorec_spark.streaming import (
    incremental_variant_ingest,
    read_events_stream,
    stream_dedup_events,
    stream_events_hourly,
    stream_user_running_totals,
)
from tests.conftest import rows
from tests.fixtures import GPDR, make_ref

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory):
    """File-source streams read directories; stage the single parquet
    file into one."""
    import shutil

    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy(f"{SF_DIR}/events.parquet", d / "events.parquet")
    return str(d)


def _run_to_memory(df, name, mode, spark):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {name}")


def test_stream_matches_batch_hourly(spark, events_dir):
    ev = read_events_stream(spark, events_dir)
    got = _run_to_memory(
        stream_events_hourly(ev), "hourly_stream", "complete", spark
    )
    from haplorec_spark.queries import q_events_hourly

    batch = q_events_hourly(spark, SF_DIR)
    assert rows(got) == rows(batch)


def test_stateful_running_totals(spark, events_dir):
    ev = read_events_stream(spark, events_dir)
    got = _run_to_memory(
        stream_user_running_totals(ev), "running_totals", "update", spark
    )
    from haplorec_spark.queries import q_events_user_stats

    batch = q_events_user_stats(spark, SF_DIR)
    got_n = {r.user_id: r.n_events for r in got.collect()}
    want_n = {r.user_id: r.n_events for r in batch.collect()}
    assert got_n == want_n


def test_incremental_variant_ingest(spark, tmp_path):
    ref = make_ref(
        spark,
        ghv=[
            ("g1", "*1", "rs1", "A"), ("g1", "*1", "rs2", "G"),
            ("g1", "*2", "rs3", "C"), ("g1", "*2", "rs4", "T"),
        ],
        genotype_phenotype=[("g1", "*1", "*1", "homozygote normal")],
        gene_phenotype_drug_recommendation=GPDR,
    )
    src = tmp_path / "incoming"
    src.mkdir()
    spark.createDataFrame(
        [
            ("patient1", "A", "rs1", "A", "hom"),
            ("patient1", "A", "rs2", "G", "hom"),
            ("patient1", "B", "rs1", "A", "hom"),
            ("patient1", "B", "rs2", "G", "hom"),
        ],
        "patient_id string, physical_chromosome string, snp_id string, "
        "allele string, zygosity string",
    ).coalesce(1).write.mode("overwrite").parquet(str(src))

    stream = spark.readStream.schema(
        "patient_id string, physical_chromosome string, snp_id string, "
        "allele string, zygosity string"
    ).parquet(str(src))

    pipe = Pipeline(spark, ref)
    warehouse = str(tmp_path / "warehouse")
    q = incremental_variant_ingest(
        stream, pipe, warehouse,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(180)

    gh = spark.read.parquet(f"{warehouse}/job_patient_gene_haplotype")
    assert rows(gh, "job_id", "patient_id", "gene_name", "haplotype_name") == [
        (1, "patient1", "g1", "*1"), (1, "patient1", "g1", "*1"),
    ]
    pdr = spark.read.parquet(
        f"{warehouse}/job_patient_phenotype_drug_recommendation"
    )
    assert rows(pdr, "job_id", "patient_id", "drug_recommendation_id") == [
        (1, "patient1", 1),
    ]


def test_session_windows_stream_matches_batch(spark, events_dir):
    """Streaming session windows (append mode) emit exactly the batch
    session_window aggregates the watermark has finalized."""
    from pyspark.sql import functions as F

    from haplorec_spark.queries import table
    from haplorec_spark.streaming import user_sessions

    ev = read_events_stream(spark, events_dir)
    q = (
        user_sessions(ev)
        .writeStream.format("memory")
        .queryName("user_sessions_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    emitted = spark.sql("SELECT * FROM user_sessions_stream")

    events = table(spark, SF_DIR, "events")
    batch = user_sessions(events)
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    wm = max_ts - __import__("datetime").timedelta(hours=1)
    finalized = batch.filter(F.col("session_end") <= F.lit(wm))

    got = rows(emitted)
    assert got == rows(finalized)
    # sanity: the watermark really finalized the overwhelming majority
    assert len(got) >= 0.9 * batch.count()


def test_stream_dedup_drops_redelivered_events(spark, tmp_path):
    """The same parquet staged twice = at-least-once redelivery; the
    deduped stream must equal the batch distinct of one copy."""
    import shutil

    d = tmp_path / "dup_events"
    d.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", d / "a.parquet")
    shutil.copy(f"{SF_DIR}/events.parquet", d / "b.parquet")

    ev = read_events_stream(spark, str(d))
    got = _run_to_memory(
        stream_dedup_events(ev), "dedup_stream", "append", spark
    )

    from haplorec_spark.queries import table

    batch = table(spark, SF_DIR, "events")
    assert got.count() == batch.count()
    assert rows(got, "event_id", "ts", "user_id") == rows(
        batch, "event_id", "ts", "user_id"
    )


def test_stream_starts_on_empty_dir_then_picks_up_files(spark, tmp_path):
    """A stream defined over an empty directory must start (default
    MICROS schema) and process files that land afterwards."""
    import shutil

    d = tmp_path / "empty_then_files"
    d.mkdir()
    ev = read_events_stream(spark, str(d))  # must not raise on probe
    assert dict(ev.dtypes)["ts"] == "timestamp"

    q = (
        stream_events_hourly(ev)
        .writeStream.format("memory")
        .queryName("late_files_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    assert spark.sql("SELECT * FROM late_files_stream").count() == 0

    # Files land; a fresh availableNow pass over the same source sees them.
    shutil.copy(f"{SF_DIR}/events.parquet", d / "events.parquet")
    got = _run_to_memory(
        stream_events_hourly(read_events_stream(spark, str(d))),
        "late_files_stream2", "complete", spark,
    )
    from haplorec_spark.queries import q_events_hourly

    assert rows(got) == rows(q_events_hourly(spark, SF_DIR))


def test_stream_dedup_batch_face(spark):
    from haplorec_spark.queries import table

    ev = table(spark, SF_DIR, "events")
    doubled = ev.unionByName(ev)
    assert stream_dedup_events(doubled).count() == ev.count()


def test_streaming_curation_pipeline_matches_batch(spark, tmp_path):
    """The curation operators are map-side column programs, so they
    compose unchanged with readStream: quality-filter + PII-redact +
    split-assign an incoming document stream and get exactly the batch
    curation of the same files."""
    import shutil

    from pyspark.sql import functions as F

    from haplorec_spark.operators.sampling import hash_split
    from haplorec_spark.operators.text import (
        linear_text_score,
        normalize_text,
        quality_score,
        redact_pii,
    )

    d = tmp_path / "incoming_docs"
    d.mkdir()
    shutil.copy(f"{SF_DIR}/documents.parquet", d / "docs.parquet")

    def curate(docs):
        q = quality_score(docs, include_repetition=True).filter(
            (F.col("quality") >= 0.7) & (F.col("dup_word_fraction") < 0.9)
        )
        kept = docs.join(q.select("doc_id"), "doc_id")
        red = redact_pii(kept).select("doc_id", "text_redacted")
        norm = normalize_text(kept, strip_punctuation=True)
        clf = linear_text_score(
            kept, {"the": 0.4, "slow": -0.7}, bias=0.1
        ).select("doc_id", "prob")
        base = kept.join(red, "doc_id").join(norm, "doc_id").join(
            clf, "doc_id"
        )
        return hash_split(
            base, {"train": 0.9, "valid": 0.1}, ["doc_id"]
        ).select("doc_id", "text_redacted", "text_norm", "prob", "split")

    batch = curate(spark.read.parquet(f"{SF_DIR}/documents.parquet"))

    stream = spark.readStream.schema(
        "doc_id bigint, lang string, text string"
    ).parquet(str(d))
    got = _run_to_memory(curate(stream), "curated_stream", "append", spark)

    assert rows(got) == rows(batch)
    assert got.count() > 0  # the filter keeps a real subset


def test_stream_dedup_ingest_two_drops(spark, tmp_path):
    """Two availableNow passes = two corpus drops. Drop 2 redelivers a
    drop-1 doc, carries an in-batch duplicate pair, and a novel doc;
    the curated output must hold each distinct text exactly once and
    the store must have advanced past both drops."""
    from haplorec_spark.streaming import stream_dedup_ingest

    src = tmp_path / "incoming"
    src.mkdir()
    store = str(tmp_path / "store")
    out = str(tmp_path / "curated")

    def run_drop(rows, ckpt):
        spark.createDataFrame(
            rows, "doc_id long, text string"
        ).coalesce(1).write.mode("append").parquet(str(src))
        q = stream_dedup_ingest(
            spark.readStream.schema("doc_id long, text string")
            .parquet(str(src)),
            store_path=store, out_path=out,
            checkpoint_dir=str(tmp_path / ckpt), mode="exact",
        )
        q.awaitTermination(120)

    run_drop([(1, "first unique doc"), (2, "second unique doc")], "ckpt")
    run_drop(
        [
            (10, "first unique doc"),   # redelivered content -> dropped
            (11, "third unique doc"),
            (12, "third unique doc"),   # in-batch duplicate -> dropped
            (13, "fourth unique doc"),
        ],
        "ckpt",  # same checkpoint: batch 2 of the same query lineage
    )

    curated = spark.read.parquet(out)
    texts = sorted(r["text"] for r in curated.collect())
    assert texts == [
        "first unique doc", "fourth unique doc",
        "second unique doc", "third unique doc",
    ]
    # store advanced: one hash row per surviving doc, batch-partitioned
    store_df = spark.read.parquet(store)
    assert store_df.count() == 4
    assert set(r["ingest_batch"] for r in store_df.collect()) == {0, 1}


def test_stream_dedup_ingest_near_mode(spark, tmp_path):
    """Near mode drops a near-duplicate (shared shingles) that exact
    mode would keep."""
    from haplorec_spark.streaming import stream_dedup_ingest

    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    src = tmp_path / "incoming_near"
    src.mkdir()
    spark.createDataFrame(
        [(1, base)], "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(str(src))
    q = stream_dedup_ingest(
        spark.readStream.schema("doc_id long, text string")
        .parquet(str(src)),
        store_path=str(tmp_path / "store"), out_path=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"), mode="near",
    )
    q.awaitTermination(120)

    spark.createDataFrame(
        [(10, base + " tail"),  # near-dup of stored doc 1 -> dropped
         (11, "completely different vocabulary that shares no shingle "
              "with anything previously ingested in any earlier drop")],
        "doc_id long, text string",
    ).coalesce(1).write.mode("append").parquet(str(src))
    q = stream_dedup_ingest(
        spark.readStream.schema("doc_id long, text string")
        .parquet(str(src)),
        store_path=str(tmp_path / "store"), out_path=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"), mode="near",
    )
    q.awaitTermination(120)

    ids = sorted(
        r["doc_id"]
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    )
    assert ids == [1, 11]


def test_stream_semantic_dedup_ingest_two_drops(spark, tmp_path):
    """Drop 1 learns and pins the codebook; drop 2 redelivers a drop-1
    vector, carries an in-batch duplicate pair, and a novel vector —
    the curated output holds each distinct vector once and the cells
    store is (ingest_batch, cluster)-partitioned."""
    from pyspark.sql import functions as F

    from haplorec_spark.streaming import stream_semantic_dedup_ingest

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    v1 = emb.filter(F.col("vec_id") == 1).first()["embedding"]
    v2 = emb.filter(F.col("vec_id") == 2).first()["embedding"]
    v3 = emb.filter(F.col("vec_id") == 3).first()["embedding"]

    src = tmp_path / "vec_incoming"
    src.mkdir()
    store = str(tmp_path / "sem_store")
    out = str(tmp_path / "sem_out")

    def run_drop(rows_):
        spark.createDataFrame(
            rows_, "vec_id long, embedding array<float>"
        ).coalesce(1).write.mode("append").parquet(str(src))
        q = stream_semantic_dedup_ingest(
            spark.readStream.schema("vec_id long, embedding array<float>")
            .parquet(str(src)),
            store_path=store, out_path=out,
            checkpoint_dir=str(tmp_path / "ckpt"),
            threshold=0.9999, n_clusters=2, iterations=1,
        )
        q.awaitTermination(120)

    run_drop([(1, v1), (2, v2)])
    run_drop([
        (10, v1),   # redelivered content -> dropped vs history
        (11, v3),
        (12, v3),   # in-batch duplicate -> dropped
    ])

    ids = sorted(
        r["vec_id"] for r in spark.read.parquet(out).collect()
    )
    assert ids == [1, 2, 11]
    cells = spark.read.parquet(f"{store}/cells")
    assert cells.count() == 3
    assert set(cells.columns) >= {"vec_id", "embedding", "nrm",
                                  "cluster", "ingest_batch"}
    # codebook pinned once, k rows
    assert spark.read.parquet(f"{store}/codebook").count() == 2


def test_stream_semantic_ingest_recovers_from_wedged_store(spark, tmp_path):
    """Crash between the first batch's codebook write and its cells
    write: on replay the codebook exists but <store>/cells does not.
    The stream must treat that as empty history (not raise on every
    retry) and complete the batch — survivors out, cells written."""
    from pyspark.sql import functions as F

    from haplorec_spark.operators.similarity import kmeans_centroids
    from haplorec_spark.streaming import stream_semantic_dedup_ingest

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    v1 = emb.filter(F.col("vec_id") == 1).first()["embedding"]
    v2 = emb.filter(F.col("vec_id") == 2).first()["embedding"]

    src = tmp_path / "vec_incoming"
    src.mkdir()
    store = str(tmp_path / "sem_store")
    out = str(tmp_path / "sem_out")

    batch = spark.createDataFrame(
        [(1, v1), (2, v2), (3, v2)],  # 3 duplicates 2 in-batch
        "vec_id long, embedding array<float>",
    )
    # simulate the crashed first attempt: codebook landed, cells never did
    kmeans_centroids(batch, 2, 1).write.parquet(f"{store}/codebook")

    batch.coalesce(1).write.mode("append").parquet(str(src))
    q = stream_semantic_dedup_ingest(
        spark.readStream.schema("vec_id long, embedding array<float>")
        .parquet(str(src)),
        store_path=store, out_path=out,
        checkpoint_dir=str(tmp_path / "ckpt"),
        threshold=0.9999, n_clusters=2, iterations=1,
    )
    q.awaitTermination(120)

    ids = sorted(r["vec_id"] for r in spark.read.parquet(out).collect())
    assert ids == [1, 2]  # batch completed; in-batch dup 3 dropped
    assert spark.read.parquet(f"{store}/cells").count() == 2


def test_stream_dedup_ingest_verify_threshold(spark, tmp_path):
    """Near-mode ingest with verify_threshold: a band-colliding
    NON-duplicate (true Jaccard 0.5, deterministic construction)
    survives instead of being silently deleted, while a true duplicate
    of history is still dropped."""
    from haplorec_spark.streaming import stream_dedup_ingest

    a = " ".join(f"alpha{i}" for i in range(20))
    b = a + " " + " ".join(f"tail6x{j}" for j in range(18))

    src = tmp_path / "incoming"
    src.mkdir()
    store = str(tmp_path / "store")
    out = str(tmp_path / "out")

    def run_drop(rows_):
        spark.createDataFrame(
            rows_, "doc_id long, text string"
        ).coalesce(1).write.mode("append").parquet(str(src))
        q = stream_dedup_ingest(
            spark.readStream.schema("doc_id long, text string")
            .parquet(str(src)),
            store_path=store, out_path=out,
            checkpoint_dir=str(tmp_path / "ckpt"),
            mode="near", verify_threshold=0.8,
        )
        q.awaitTermination(120)

    run_drop([(1, a)])
    run_drop([
        (10, b),  # LSH-collides with history doc 1, Jaccard 0.5 -> kept
        (11, a),  # true duplicate of history -> dropped
    ])

    ids = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert ids == [1, 10]


def test_stream_pq_index_ingest_two_drops(spark, tmp_path):
    """Drop 1 trains and pins the IVF-PQ index; drop 2 encodes against
    the PINNED codebooks; the store answers pq_store_topk queries over
    both drops and redelivery of drop 2 is exactly-once."""
    from pyspark.sql import functions as F

    from haplorec_spark.operators.similarity import pq_store_topk
    from haplorec_spark.streaming import stream_pq_index_ingest

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    first = [
        (r["vec_id"], r["embedding"])
        for r in emb.filter(F.col("vec_id") < 40).collect()
    ]
    v1 = first[1][1]

    src = tmp_path / "pq_incoming"
    src.mkdir()
    store = str(tmp_path / "pq_store")

    def run_drop(rows_):
        spark.createDataFrame(
            rows_, "vec_id long, embedding array<float>"
        ).coalesce(1).write.mode("append").parquet(str(src))
        q = stream_pq_index_ingest(
            spark.readStream.schema("vec_id long, embedding array<float>")
            .parquet(str(src)),
            store_path=store,
            checkpoint_dir=str(tmp_path / "ckpt"),
            n_clusters=2, iterations=1, m=4, pq_k=4, pq_iterations=1,
        )
        q.awaitTermination(120)
        q.stop()

    run_drop(first)
    run_drop([(1000, v1)])  # an exact copy of vec 1, indexed later

    codes = spark.read.parquet(f"{store}/codes")
    assert codes.count() == len(first) + 1
    assert {"ingest_batch", "cluster"} <= set(codes.columns)
    # index pinned once: centroid count is the drop-1 k
    assert spark.read.parquet(f"{store}/centroids").count() == 2

    # the store answers queries across both drops: probing with vec 1
    # must surface its late-indexed copy first (identical codes)
    probe = spark.createDataFrame(
        [(1, v1)], "vec_id long, embedding array<float>"
    )
    top = pq_store_topk(spark, store, probe, k=3, nprobe=2).collect()
    assert top[0]["neighbor_id"] == 1000

    # true redelivery: drop the last batch's commit marker so the
    # restarted query re-executes batch 1 with the SAME batch id —
    # dynamic partition overwrite makes the re-run exactly-once
    import os

    cdir = tmp_path / "ckpt" / "commits"
    last = sorted(f for f in os.listdir(cdir) if not f.startswith("."))[-1]
    os.remove(cdir / last)
    crc = cdir / f".{last}.crc"  # stale Hadoop checksum sibling would
    if crc.exists():             # fail the re-written commit marker
        os.remove(crc)
    q = stream_pq_index_ingest(
        spark.readStream.schema("vec_id long, embedding array<float>")
        .parquet(str(src)),
        store_path=store,
        checkpoint_dir=str(tmp_path / "ckpt"),
        n_clusters=2, iterations=1, m=4, pq_k=4, pq_iterations=1,
    )
    q.awaitTermination(120)
    q.stop()
    replayed = spark.read.parquet(f"{store}/codes")
    assert replayed.count() == len(first) + 1
    assert (
        replayed.groupBy("vec_id").count()
        .filter(F.col("count") > 1).count() == 0
    )


def test_stream_drift_monitor_scores_each_drop(spark, tmp_path):
    """Two drops against a pinned baseline: the baseline-like drop
    scores near zero PSI, the shifted drop spikes, each batch writes
    its own ingest_batch partition, and the batch PSI equals the batch
    value_histogram_psi computed directly."""
    from haplorec_spark.operators.profiling import (
        frequent_values,
        value_histogram_psi,
    )
    from haplorec_spark.streaming import stream_drift_monitor

    src = tmp_path / "incoming"
    src.mkdir()
    out = str(tmp_path / "drift")

    base_rows = [(i, "en" if i % 4 else "fr") for i in range(40)]
    baseline = frequent_values(
        spark.createDataFrame(base_rows, "doc_id long, lang string"),
        ["lang"],
    )

    def run_drop(rows, ckpt):
        spark.createDataFrame(
            rows, "doc_id long, lang string"
        ).coalesce(1).write.mode("append").parquet(str(src))
        q = stream_drift_monitor(
            spark.readStream.schema("doc_id long, lang string")
            .parquet(str(src)),
            baseline,
            out_path=out,
            checkpoint_dir=str(tmp_path / ckpt),
            columns=["lang"],
        )
        q.awaitTermination(120)

    similar = [(100 + i, "en" if i % 4 else "fr") for i in range(40)]
    shifted = [(200 + i, "zz") for i in range(40)]
    run_drop(similar, "ckpt")
    run_drop(shifted, "ckpt")  # same checkpoint: batch 1

    got = spark.read.parquet(out).collect()
    by_batch = {
        r["ingest_batch"]: r for r in got if r["column"] == "lang"
    }
    assert set(by_batch) == {0, 1}
    assert by_batch[0]["batch_rows"] == 40
    assert by_batch[0]["psi"] < 0.01  # same mix as baseline
    assert by_batch[1]["psi"] > 1.0   # disjoint value set
    # batch-0 PSI equals the direct computation on the same rows
    direct = value_histogram_psi(
        baseline,
        frequent_values(
            spark.createDataFrame(similar, "doc_id long, lang string"),
            ["lang"],
        ),
    ).collect()[0]
    assert by_batch[0]["psi"] == direct["psi"]


def test_incremental_variant_ingest_second_drop_keeps_first_job(
    spark, tmp_path
):
    """Dynamic partition overwrite must be per-job: batch 2's write
    may not clobber batch 1's job partitions (regression guard for
    the foreachBatch cloned-session overwrite-conf pitfall)."""
    ref = make_ref(
        spark,
        ghv=[
            ("g1", "*1", "rs1", "A"), ("g1", "*1", "rs2", "G"),
            ("g1", "*2", "rs3", "C"), ("g1", "*2", "rs4", "T"),
        ],
        genotype_phenotype=[("g1", "*1", "*1", "homozygote normal")],
        gene_phenotype_drug_recommendation=GPDR,
    )
    src = tmp_path / "incoming2"
    src.mkdir()
    wh = str(tmp_path / "wh2")
    pipe = Pipeline(spark, ref)
    schema = (
        "patient_id string, physical_chromosome string, snp_id string, "
        "allele string, zygosity string"
    )

    def drop(pid):
        spark.createDataFrame(
            [
                (pid, "A", "rs1", "A", "hom"), (pid, "A", "rs2", "G", "hom"),
                (pid, "B", "rs1", "A", "hom"), (pid, "B", "rs2", "G", "hom"),
            ],
            schema,
        ).coalesce(1).write.mode("append").parquet(str(src))
        q = incremental_variant_ingest(
            spark.readStream.schema(schema).parquet(str(src)), pipe, wh,
            checkpoint_dir=str(tmp_path / "ck2"),
        )
        q.awaitTermination(180)

    # each batch releases what its job cached (RDD ids, not a count:
    # the ContextCleaner may free earlier tests' checkpoints meanwhile)
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    drop("patient1")
    drop("patient2")
    assert set(jsc.getPersistentRDDs().keySet()) - before == set()
    gh = spark.read.parquet(f"{wh}/job_patient_gene_haplotype")
    assert sorted(
        r["job_id"] for r in gh.select("job_id").distinct().collect()
    ) == [1, 2]
    assert sorted(
        r["patient_id"]
        for r in gh.select("patient_id").distinct().collect()
    ) == ["patient1", "patient2"]


def test_stream_drift_monitor_restores_overwrite_conf(spark, tmp_path):
    """The monitor writes under dynamic partition overwrite but must
    not leave the USER session's conf flipped afterwards."""
    from haplorec_spark.operators.profiling import frequent_values
    from haplorec_spark.streaming import stream_drift_monitor

    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, None)
    src = tmp_path / "conf_in"
    src.mkdir()
    spark.createDataFrame(
        [(1, "en")], "doc_id long, lang string"
    ).coalesce(1).write.mode("append").parquet(str(src))
    baseline = frequent_values(
        spark.createDataFrame([(1, "en")], "doc_id long, lang string"),
        ["lang"],
    )
    q = stream_drift_monitor(
        spark.readStream.schema("doc_id long, lang string")
        .parquet(str(src)),
        baseline,
        out_path=str(tmp_path / "conf_out"),
        checkpoint_dir=str(tmp_path / "conf_ck"),
        columns=["lang"],
    )
    q.awaitTermination(120)
    assert spark.conf.get(key, None) == prev


def test_stream_dsir_score_matches_batch_and_freezes_lm(spark, tmp_path):
    """Two document drops scored against a pinned DSIR vocabulary:
    each batch's weights equal the batch importance_weights under the
    same pinned vocab (stream/batch parity under the FROZEN ratio)
    and each drop writes its own ingest_batch partition."""
    from pyspark.sql import functions as F

    from haplorec_spark.operators.sampling import (
        build_dsir_vocab,
        importance_weights,
    )
    from haplorec_spark.streaming import stream_dsir_score

    base = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text").limit(60)
    target = base.filter(F.col("doc_id") % 5 == 0)
    vocab = build_dsir_vocab(base, target).persist()

    src = tmp_path / "incoming"
    src.mkdir()
    out = str(tmp_path / "dsir")

    def run_drop(lo, hi):
        spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        ).select("doc_id", "text").filter(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
        ).coalesce(1).write.mode("append").parquet(str(src))
        q = stream_dsir_score(
            spark.readStream.schema("doc_id long, text string")
            .parquet(str(src)),
            vocab,
            out_path=out,
            checkpoint_dir=str(tmp_path / "ckpt"),
        )
        q.awaitTermination(120)

    run_drop(60, 75)
    run_drop(75, 90)  # same checkpoint: batch 1

    got = spark.read.parquet(out)
    batches = {
        r["ingest_batch"]
        for r in got.select("ingest_batch").distinct().collect()
    }
    assert batches == {0, 1}
    for lo, hi, b in ((60, 75, 0), (75, 90, 1)):
        batch_docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        ).select("doc_id", "text").filter(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
        )
        want = sorted(
            (r["doc_id"], r["n_tokens"], r["log_weight"])
            for r in importance_weights(
                batch_docs, vocab=vocab
            ).collect()
        )
        have = sorted(
            (r["doc_id"], r["n_tokens"], r["log_weight"])
            for r in got.filter(F.col("ingest_batch") == b).collect()
        )
        assert have == want, b
    vocab.unpersist()


def test_stream_curate_ingest_filters_and_dedups_across_drops(
    spark, tmp_path
):
    """Config-driven streaming curation: quality floor drops junk,
    redaction and split columns appear, and the exact-dedup store
    drops content redelivered in a later drop."""
    from haplorec_spark.curation import CurationConfig
    from haplorec_spark.streaming import stream_curate_ingest

    good_a = (
        "the data pipeline reads parquet files and writes curated "
        "shards with stable splits every day of the week"
    )
    good_b = (
        "a second perfectly reasonable document with the usual "
        "wording and enough words in it to pass the quality floor"
    )
    junk = "zz zz zz zz"  # too short + no stopwords -> quality 0
    src = tmp_path / "incoming_cur"
    src.mkdir()
    cfg = CurationConfig(dedup="exact")

    def run_drop(rows):
        spark.createDataFrame(
            rows, "doc_id long, lang string, text string"
        ).coalesce(1).write.mode("append").parquet(str(src))
        q = stream_curate_ingest(
            spark.readStream.schema(
                "doc_id long, lang string, text string"
            ).parquet(str(src)),
            store_path=str(tmp_path / "cur_store"),
            out_path=str(tmp_path / "cur_out"),
            checkpoint_dir=str(tmp_path / "cur_ckpt"),
            config=cfg,
        )
        q.awaitTermination(120)

    run_drop([(1, "en", good_a), (2, "en", junk)])
    run_drop([(10, "en", good_a), (11, "en", good_b)])

    out = spark.read.parquet(str(tmp_path / "cur_out"))
    rows_out = {r["doc_id"]: r for r in out.collect()}
    # junk filtered, redelivered good_a deduped across drops
    assert set(rows_out) == {1, 11}
    assert {"text_redacted", "split"} <= set(out.columns)
    # split matches the batch hash assignment for the same id
    from haplorec_spark.curation import map_side_curation

    batch = {
        r["doc_id"]: r["split"]
        for r in map_side_curation(
            spark.createDataFrame(
                [(1, "en", good_a), (11, "en", good_b)],
                "doc_id long, lang string, text string",
            ),
            cfg,
        ).collect()
    }
    assert {k: v["split"] for k, v in rows_out.items()} == batch


def test_stream_curate_ingest_no_dedup_mode(spark, tmp_path):
    from haplorec_spark.curation import CurationConfig
    from haplorec_spark.streaming import stream_curate_ingest

    text = (
        "the data pipeline reads parquet files and writes curated "
        "shards with stable splits every day of the week"
    )
    src = tmp_path / "incoming_nd"
    src.mkdir()
    spark.createDataFrame(
        [(1, "en", text), (2, "en", text)],
        "doc_id long, lang string, text string",
    ).coalesce(1).write.mode("append").parquet(str(src))
    q = stream_curate_ingest(
        spark.readStream.schema(
            "doc_id long, lang string, text string"
        ).parquet(str(src)),
        store_path=str(tmp_path / "nd_store"),
        out_path=str(tmp_path / "nd_out"),
        checkpoint_dir=str(tmp_path / "nd_ckpt"),
        config=CurationConfig(dedup=None),
    )
    q.awaitTermination(120)
    out = spark.read.parquet(str(tmp_path / "nd_out"))
    assert out.count() == 2  # no dedup: both identical docs kept


def test_stream_tokenizer_drift_two_drops(spark, tmp_path):
    """Tokenizer-rot face: a drop drawn from the tokenizer's own
    training distribution scores near-zero PSI and baseline-like
    fertility; a shifted drop (unseen jargon) spikes the token-length
    PSI and raises fertility. Per-batch numbers equal the batch
    operators run directly on the same rows (parity)."""
    from haplorec_spark.operators.bpe import (
        bpe_token_length_histogram,
        bpe_tokenize,
        train_bpe,
    )
    from haplorec_spark.operators.profiling import value_histogram_psi
    from haplorec_spark.streaming import stream_tokenizer_drift
    from pyspark.sql import functions as F

    base_rows = [
        (i, "the river flows past the old stone house every morning")
        for i in range(20)
    ]
    train = spark.createDataFrame(base_rows, "doc_id long, text string")
    merges = train_bpe(train, n_merges=30).localCheckpoint(eager=True)
    baseline = bpe_token_length_histogram(train, merges).localCheckpoint(
        eager=True
    )

    src = tmp_path / "incoming"
    src.mkdir()
    out = str(tmp_path / "tokdrift")

    def run_drop(rows):
        spark.createDataFrame(
            rows, "doc_id long, text string"
        ).coalesce(1).write.mode("append").parquet(str(src))
        q = stream_tokenizer_drift(
            spark.readStream.schema("doc_id long, text string")
            .parquet(str(src)),
            merges,
            baseline,
            out_path=out,
            checkpoint_dir=str(tmp_path / "ckpt"),
        )
        q.awaitTermination(120)

    similar = [
        (100 + i, "the river flows past the old stone house every morning")
        for i in range(20)
    ]
    shifted = [
        (200 + i, "qzx77 transmogrification hyperquark zzyzx qwfp")
        for i in range(20)
    ]
    run_drop(similar)
    run_drop(shifted)

    by_batch = {
        r["ingest_batch"]: r for r in spark.read.parquet(out).collect()
    }
    assert set(by_batch) == {0, 1}
    assert by_batch[0]["batch_rows"] == 20
    # drop 0: training-like -> stable lengths, low PSI
    assert by_batch[0]["psi"] < 0.1
    # drop 1: unseen jargon -> fragment fallback, PSI spike and
    # higher tokens-per-word than the training-like drop
    assert by_batch[1]["psi"] > 0.25
    assert by_batch[1]["fertility"] > by_batch[0]["fertility"]

    # parity with the batch operators on the same rows
    sim_df = spark.createDataFrame(similar, "doc_id long, text string")
    direct_psi = value_histogram_psi(
        baseline, bpe_token_length_histogram(sim_df, merges)
    ).collect()[0]
    assert by_batch[0]["psi"] == direct_psi["psi"]
    tok = bpe_tokenize(sim_df, merges).agg(
        F.sum("n_bpe_tokens").alias("t"), F.sum("n_words").alias("w")
    ).first()
    want_fert = round(tok["t"] / tok["w"], 6)
    assert by_batch[0]["fertility"] == pytest.approx(want_fert, abs=1e-6)


def test_stream_tokenizer_drift_zero_word_batch_emits_row(spark, tmp_path):
    """ADVICE r7: a non-empty micro-batch whose texts contain zero
    words (whitespace-only) must still append exactly one monitor row
    — recorded with n_words=0 / fertility 0.0 — instead of being
    silently absent from the output."""
    from haplorec_spark.operators.bpe import (
        bpe_token_length_histogram,
        train_bpe,
    )
    from haplorec_spark.streaming import stream_tokenizer_drift

    train = spark.createDataFrame(
        [(i, "the old stone house") for i in range(8)],
        "doc_id long, text string",
    )
    merges = train_bpe(train, n_merges=10).localCheckpoint(eager=True)
    baseline = bpe_token_length_histogram(train, merges).localCheckpoint(
        eager=True
    )

    src = tmp_path / "blank_incoming"
    src.mkdir()
    out = str(tmp_path / "blankdrift")
    spark.createDataFrame(
        [(1, "   "), (2, ""), (3, "     ")],
        "doc_id long, text string",
    ).coalesce(1).write.mode("append").parquet(str(src))
    q = stream_tokenizer_drift(
        spark.readStream.schema("doc_id long, text string")
        .parquet(str(src)),
        merges,
        baseline,
        out_path=out,
        checkpoint_dir=str(tmp_path / "blank_ckpt"),
    )
    q.awaitTermination(120)

    rows = spark.read.parquet(out).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["batch_rows"], r["n_words"], r["n_tokens"]) == (3, 0, 0)
    assert r["fertility"] == 0.0


def test_stream_bloom_dedup_ingest_two_drops(spark, tmp_path):
    """The fixed-size-store twin of stream_dedup_ingest: drop 2
    redelivers drop-1 content (Bloom membership drops it — no false
    negatives), carries an in-batch duplicate (exact in-batch dedup
    drops it), and novel docs pass. The store stays bounded by
    n_bits/63 chunk rows per batch regardless of corpus size, and the
    params marker pins the filter identity."""
    from haplorec_spark.operators.bloom import CHUNK_BITS
    from haplorec_spark.streaming import stream_bloom_dedup_ingest

    src = tmp_path / "incoming"
    src.mkdir()
    store = str(tmp_path / "bloom_store")
    out = str(tmp_path / "curated")
    n_bits, n_hashes = 63 * 256, 5

    def run_drop(rows, ckpt):
        spark.createDataFrame(
            rows, "doc_id long, text string"
        ).coalesce(1).write.mode("append").parquet(str(src))
        q = stream_bloom_dedup_ingest(
            spark.readStream.schema("doc_id long, text string")
            .parquet(str(src)),
            store_path=store, out_path=out,
            checkpoint_dir=str(tmp_path / ckpt),
            n_bits=n_bits, n_hashes=n_hashes,
        )
        q.awaitTermination(120)

    run_drop([(1, "first unique doc"), (2, "second unique doc")], "ckpt")
    run_drop(
        [
            (10, "first unique doc"),   # historical content -> dropped
            (11, "third unique doc"),
            (12, "third unique doc"),   # in-batch duplicate -> dropped
            (13, "fourth unique doc"),
        ],
        "ckpt",
    )

    curated = spark.read.parquet(out)
    texts = sorted(r["text"] for r in curated.collect())
    assert texts == [
        "first unique doc", "fourth unique doc",
        "second unique doc", "third unique doc",
    ]
    # fixed-size store: each batch partition holds at most n_bits/63
    # chunk rows (here: at most a handful — 2 docs x 5 bits each)
    bits = spark.read.parquet(f"{store}/bits")
    assert set(r["ingest_batch"] for r in bits.collect()) == {0, 1}
    per_batch = bits.groupBy("ingest_batch").count().collect()
    assert all(r["count"] <= n_bits // CHUNK_BITS for r in per_batch)

    # filter-identity drift fails loudly at the next write
    import pytest as _pytest

    spark.createDataFrame(
        [(20, "fifth unique doc")], "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(str(src))
    q = stream_bloom_dedup_ingest(
        spark.readStream.schema("doc_id long, text string")
        .parquet(str(src)),
        store_path=store, out_path=out,
        checkpoint_dir=str(tmp_path / "ckpt"),
        n_bits=n_bits, n_hashes=n_hashes + 1,  # drifted config
    )
    # stored params win over drifted config: the batch still ingests
    # under the PINNED identity (marker contract), so no exception and
    # the novel doc lands
    q.awaitTermination(120)
    texts2 = sorted(r["text"] for r in spark.read.parquet(out).collect())
    assert "fifth unique doc" in texts2


def test_stream_bloom_partial_sizing_and_oversize_refused(spark, tmp_path):
    """A partial explicit (n_bits, n_hashes) pair raises at
    construction, and a sizing beyond the probe broadcast bound fails
    BEFORE the identity pins (review-caught: the old default pinned a
    marker batch 1 could never probe)."""
    import pytest as _pytest

    from haplorec_spark.streaming import stream_bloom_dedup_ingest

    src = tmp_path / "in"
    spark.createDataFrame(
        [(1, "a doc")], "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(str(src))
    stream = spark.readStream.schema("doc_id long, text string").parquet(
        str(src)
    )
    with _pytest.raises(ValueError, match="together"):
        stream_bloom_dedup_ingest(
            stream, store_path=str(tmp_path / "s"),
            out_path=str(tmp_path / "o"),
            checkpoint_dir=str(tmp_path / "c"), n_bits=63 * 8,
        )
    from pyspark.errors.exceptions.captured import StreamingQueryException

    q = stream_bloom_dedup_ingest(
        stream, store_path=str(tmp_path / "s2"),
        out_path=str(tmp_path / "o2"),
        checkpoint_dir=str(tmp_path / "c2"),
        n_bits=1 << 29, n_hashes=2,
    )
    with _pytest.raises(StreamingQueryException, match="broadcast bound"):
        q.awaitTermination(120)
    # nothing pinned: the store path has no params marker
    from haplorec_spark.operators.bloom import read_bloom_params_marker

    assert read_bloom_params_marker(spark, str(tmp_path / "s2")) is None


def test_stream_dedup_ingest_verified_mega_family_bounded(spark, tmp_path):
    """The round-9→10 standing weakness closed: near-mode ingest WITH
    verify_threshold no longer falls back to the exact O(m²) pair
    shuffle on a boilerplate mega-family — the bounded star-verify
    path drops the m−1 copies (verified at Jaccard 1.0) while a
    distinct document in the same batch survives."""
    from pyspark.sql import functions as F

    from haplorec_spark.streaming import stream_dedup_ingest

    m = 2_000
    src = tmp_path / "mega_incoming"
    src.mkdir()
    family = spark.range(m).select(
        F.col("id").alias("doc_id"),
        F.lit(
            "boilerplate terms of service apply to this page right now"
        ).alias("text"),
    ).unionByName(
        spark.createDataFrame(
            [(m + 1, "a genuinely unique document about something else")],
            "doc_id long, text string",
        )
    )
    family.coalesce(1).write.parquet(str(src), mode="append")
    q = stream_dedup_ingest(
        spark.readStream.schema("doc_id long, text string")
        .parquet(str(src)),
        store_path=str(tmp_path / "store"),
        out_path=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        mode="near",
        verify_threshold=0.8,
        hot_bucket_cap=64,
    )
    q.awaitTermination(180)
    ids = sorted(
        r["doc_id"]
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    )
    assert ids == [0, m + 1]  # hub survives, m-1 copies verified-dropped


# ------------------------------------------- streaming funnel (round 11)


def _funnel_stream_setup(spark, tmp_path, name):
    import shutil

    src = tmp_path / f"{name}_incoming"
    src.mkdir()
    return str(src), str(tmp_path / f"{name}_state"), str(
        tmp_path / f"{name}_ckpt"
    )


def _drop_events(spark, src, df):
    df.coalesce(1).write.mode("append").parquet(src)


def _run_retention_batchfold(spark, src, state, ckpt, **kw):
    from haplorec_spark.streaming import stream_retention_ingest

    q = stream_retention_ingest(
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long,"
            " event_type string, value double, props string"
        ).parquet(src),
        state_path=state,
        checkpoint_dir=ckpt,
        **kw,
    )
    q.awaitTermination(180)


def _run_funnel_batchfold(spark, src, state, ckpt, **kw):
    from haplorec_spark.streaming import stream_funnel_ingest

    q = stream_funnel_ingest(
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long,"
            " event_type string, value double, props string"
        ).parquet(src),
        state_path=state,
        checkpoint_dir=ckpt,
        **kw,
    )
    q.awaitTermination(180)


@pytest.mark.parametrize("retry", [False, True])
def test_stream_funnel_matches_batch_over_split_history(
    spark, tmp_path, retry
):
    """Three time-ordered drops of the real event stream folded
    incrementally must decode to EXACTLY batch funnel_depth over the
    full history — both semantics; replaying the last drop (same
    files, fresh checkpoint reprocesses everything ... the store's
    dynamic overwrite) changes nothing."""
    from pyspark.sql import functions as F

    from haplorec_spark.operators.funnel import funnel_depth
    from haplorec_spark.streaming import funnel_state_depths

    from haplorec_spark.queries import table

    events = table(spark, SF_DIR, "events")
    kw = dict(
        steps=["view", "click", "purchase"],
        within_seconds=43200 if retry else 259200,
        retry=retry,
    )
    name = f"funnel_{'retry' if retry else 'single'}"
    src, state, ckpt = _funnel_stream_setup(spark, tmp_path, name)
    lo, hi = events.select(
        F.expr("percentile(unix_micros(ts), array(0.33, 0.66))")
    ).first()[0]
    us = F.expr("unix_micros(ts)")
    parts = [
        events.filter(us <= F.lit(lo)),
        events.filter((us > F.lit(lo)) & (us <= F.lit(hi))),
        events.filter(us > F.lit(hi)),
    ]
    for p in parts:
        _drop_events(spark, src, p)
        _run_funnel_batchfold(spark, src, state, ckpt, **kw)

    got = rows(funnel_state_depths(spark, state))
    want = rows(funnel_depth(events, **kw))
    assert got == want

    # round 12: the SAME store decodes step timings — parity with the
    # batch operator over the full history, both semantics
    from haplorec_spark.operators.funnel import funnel_step_timings
    from haplorec_spark.streaming import funnel_state_step_timings

    got_t = rows(funnel_state_step_timings(spark, state))
    want_t = rows(funnel_step_timings(events, **kw))
    assert got_t == want_t
    # non-vacuous: (step_ix, step, n_users, ...) rows with users
    assert any(r[2] > 0 for r in got_t)

    # ... and the funnel report, same store
    from haplorec_spark.operators.funnel import funnel_counts
    from haplorec_spark.streaming import funnel_state_counts

    got_c = rows(funnel_state_counts(spark, state))
    want_c = rows(funnel_counts(events, **kw))
    assert got_c == want_c

    # compaction is a pure no-op for the reader
    from haplorec_spark.streaming import compact_funnel_state

    compact_funnel_state(spark, state)
    batches = spark.read.parquet(state).select(
        "ingest_batch"
    ).distinct().collect()
    assert [r["ingest_batch"] for r in batches] == [-1]
    assert rows(funnel_state_depths(spark, state)) == want
    assert rows(funnel_state_step_timings(spark, state)) == want_t


def test_stream_funnel_rejects_late_events_and_config_drift(
    spark, tmp_path
):
    """A batch carrying an event at or before a user's stored
    high-water mark fails LOUDLY (the fold contract), and re-running
    against the same state with different funnel parameters raises
    before any state is touched."""
    from pyspark.sql import functions as F

    from haplorec_spark.queries import table

    events = table(spark, SF_DIR, "events")
    src, state, ckpt = _funnel_stream_setup(spark, tmp_path, "late")
    kw = dict(steps=["view", "click", "purchase"], within_seconds=259200)
    mid = events.select(
        F.expr("percentile(unix_micros(ts), 0.5)")
    ).first()[0]
    us = F.expr("unix_micros(ts)")
    _drop_events(spark, src, events.filter(us > F.lit(mid)))
    _run_funnel_batchfold(spark, src, state, ckpt, **kw)

    # late half arrives after the newer half was folded
    _drop_events(spark, src, events.filter(us <= F.lit(mid)))
    from pyspark.errors import StreamingQueryException

    with pytest.raises(StreamingQueryException, match="high-water"):
        _run_funnel_batchfold(spark, src, state, ckpt, **kw)

    with pytest.raises(ValueError, match="corrupt the DP"):
        from haplorec_spark.streaming import _validate_funnel_params_marker

        _validate_funnel_params_marker(
            spark, state, ["view", "click"], 259200, False
        )


def test_stream_funnel_replay_is_idempotent(spark, tmp_path):
    """The exactly-once contract, tested at the batch-function level:
    re-running a committed batch_id (a crash-replay) rewrites its own
    state partition from strictly EARLIER partitions, so the decoded
    depths are unchanged — even though the state dir already holds
    that batch's rows."""
    from pyspark.sql import functions as F

    from haplorec_spark.queries import table
    from haplorec_spark.streaming import (
        _funnel_ingest_fn,
        funnel_state_depths,
    )

    events = table(spark, SF_DIR, "events")
    mid = events.select(
        F.expr("percentile(unix_micros(ts), 0.5)")
    ).first()[0]
    us = F.expr("unix_micros(ts)")
    state = str(tmp_path / "replay_state")
    ingest = _funnel_ingest_fn(
        steps=["view", "click", "purchase"], state_path=state,
        within_seconds=259200, retry=False, late_policy="error",
        user_col="user_id", ts_col="ts", type_col="event_type",
        id_col="event_id",
    )
    ingest(events.filter(us <= F.lit(mid)), 0)
    ingest(events.filter(us > F.lit(mid)), 1)
    want = rows(funnel_state_depths(spark, state))
    # crash-replay of batch 1: same frame, same id, state already set
    ingest(events.filter(us > F.lit(mid)), 1)
    assert rows(funnel_state_depths(spark, state)) == want


def test_stream_funnel_compaction_horizon_refuses_stale_replay(
    spark, tmp_path
):
    """compact_funnel_state destroys the strictly-earlier partitions a
    crash-replay would fold from, so it records the highest folded
    batch id as a replay horizon: a batch at or below it REFUSES to
    run (loud, with recovery guidance) instead of silently
    double-folding; later batches proceed normally."""
    from pyspark.sql import functions as F

    from haplorec_spark.queries import table
    from haplorec_spark.streaming import (
        _funnel_ingest_fn,
        compact_funnel_state,
        funnel_state_depths,
    )

    events = table(spark, SF_DIR, "events")
    mid = events.select(
        F.expr("percentile(unix_micros(ts), 0.5)")
    ).first()[0]
    us = F.expr("unix_micros(ts)")
    state = str(tmp_path / "horizon_state")
    ingest = _funnel_ingest_fn(
        steps=["view", "click", "purchase"], state_path=state,
        within_seconds=259200, retry=False, late_policy="error",
        user_col="user_id", ts_col="ts", type_col="event_type",
        id_col="event_id",
    )
    first = events.filter(us <= F.lit(mid))
    second = events.filter(us > F.lit(mid))
    ingest(first, 0)
    ingest(second, 1)
    compact_funnel_state(spark, state)
    want = rows(funnel_state_depths(spark, state))

    with pytest.raises(ValueError, match="compaction horizon"):
        ingest(second, 1)  # crash-replay across a compaction
    # the refusal left the state intact and later batches still run
    assert rows(funnel_state_depths(spark, state)) == want
    ingest(second.limit(0), 2)  # no funnel events: clean no-op


def test_stream_funnel_refuses_pre_round12_retry_layout(
    spark, tmp_path
):
    """A retry-mode state whose ``wit`` is a bare timestamp array (the
    round-11 chain-start layout) is refused LOUDLY by every reader and
    by the ingest continuation — decoding it as witness structs would
    fail mid-plan, and folding onto it would silently discard the gap
    history."""
    from haplorec_spark.streaming import (
        _funnel_ingest_fn,
        _write_funnel_params_marker,
        funnel_state_depths,
        funnel_state_step_timings,
    )

    state = str(tmp_path / "old_layout")
    _write_funnel_params_marker(
        spark, state, ["view", "click", "purchase"], 43200, True,
        compacted_through=-1,
    )
    spark.createDataFrame(
        [(7, [None, None, None], None, None, 0)],
        "user_id long, wit array<timestamp>, last_ts timestamp,"
        " last_eid long, ingest_batch long",
    ).write.partitionBy("ingest_batch").parquet(state, mode="append")
    with pytest.raises(ValueError, match="pre-round-12"):
        funnel_state_depths(spark, state)
    with pytest.raises(ValueError, match="pre-round-12"):
        funnel_state_step_timings(spark, state)
    ingest = _funnel_ingest_fn(
        steps=["view", "click", "purchase"], state_path=state,
        within_seconds=43200, retry=True, late_policy="error",
        user_col="user_id", ts_col="ts", type_col="event_type",
        id_col="event_id",
    )
    from haplorec_spark.queries import table

    with pytest.raises(ValueError, match="pre-round-12"):
        ingest(table(spark, SF_DIR, "events"), 1)


# ------------------------------------------------- streaming retention


@pytest.mark.parametrize("period", ["week", "month"])
def test_stream_retention_matches_batch_over_unordered_drops(
    spark, tmp_path, period
):
    """Three ARBITRARY-ORDER drops of the real event stream (split by
    user-id hash, so every drop mixes early and late timestamps and a
    user's earliest activity can arrive last) merged incrementally
    must decode to EXACTLY the batch cohort matrix over the full
    history — the semilattice contract: no ordering requirement at
    all, unlike the funnel fold. Compaction is a reader no-op."""
    from pyspark.sql import functions as F

    from haplorec_spark.operators.retention import retention_cohorts
    from haplorec_spark.queries import table
    from haplorec_spark.streaming import (
        compact_retention_state,
        retention_state_cohorts,
    )

    events = table(spark, SF_DIR, "events")
    src, state, ckpt = _funnel_stream_setup(
        spark, tmp_path, f"retention_{period}"
    )
    parts = [
        events.filter(F.crc32(F.col("user_id").cast("string")) % 3 == i)
        for i in range(3)
    ]
    for p in parts:
        _drop_events(spark, src, p)
        _run_retention_batchfold(spark, src, state, ckpt, period=period)

    want = rows(retention_cohorts(events, period=period))
    assert rows(retention_state_cohorts(spark, state)) == want
    assert want  # non-vacuous matrix
    if period == "week":
        # the sf0.001 stream spans multiple weeks (but < 2 months),
        # so only the week grain can pin a true return column
        assert any(r[1] > 0 for r in want)

    compact_retention_state(spark, state)
    batches = spark.read.parquet(state).select(
        "ingest_batch"
    ).distinct().collect()
    assert [r["ingest_batch"] for r in batches] == [-1]
    assert rows(retention_state_cohorts(spark, state)) == want

    # max_period_ix truncation matches the batch operator's
    got_cap = rows(
        retention_state_cohorts(spark, state, max_period_ix=1)
    )
    assert got_cap == rows(
        retention_cohorts(events, period=period, max_period_ix=1)
    )


def test_stream_retention_late_half_first_reanchors_cohorts(
    spark, tmp_path
):
    """The semilattice's central promise, exercised on the CROSS-BATCH
    merge: the LATE half of the real stream is ingested FIRST, so
    every returning user's state initially carries a too-late cohort,
    and the early half arrives second with a smaller period that the
    array_union merge must absorb and the decoder re-anchor on. The
    decode must equal the batch matrix over the full history — and
    the two-drop state must differ from the late-half-only state
    (proving the second merge actually moved cohorts)."""
    from pyspark.sql import functions as F

    from haplorec_spark.operators.retention import retention_cohorts
    from haplorec_spark.queries import table
    from haplorec_spark.streaming import (
        _retention_ingest_fn,
        retention_state_cohorts,
    )

    events = table(spark, SF_DIR, "events")
    mid = events.select(
        F.expr("percentile(unix_micros(ts), 0.5)")
    ).first()[0]
    us = F.expr("unix_micros(ts)")
    state = str(tmp_path / "retention_ooo_state")
    ingest = _retention_ingest_fn(
        state_path=state, period="week", user_col="user_id",
        ts_col="ts",
    )
    ingest(events.filter(us > F.lit(mid)), 0)  # LATE half first
    late_only = rows(retention_state_cohorts(spark, state))
    ingest(events.filter(us <= F.lit(mid)), 1)  # early half LAST
    got = rows(retention_state_cohorts(spark, state))
    assert got == rows(retention_cohorts(events, period="week"))
    assert got != late_only  # the early drop re-anchored cohorts


def test_stream_retention_replay_horizon_and_config_drift(
    spark, tmp_path
):
    """Batch-level contracts: a crash-replay of a committed batch_id
    rewrites its own partition bit-identically; a period drift against
    the pinned marker raises before touching state; a replay at or
    below the compaction horizon refuses loudly."""
    from pyspark.sql import functions as F

    from haplorec_spark.queries import table
    from haplorec_spark.streaming import (
        _retention_ingest_fn,
        compact_retention_state,
        retention_state_cohorts,
    )

    events = table(spark, SF_DIR, "events")
    mid = events.select(
        F.expr("percentile(unix_micros(ts), 0.5)")
    ).first()[0]
    us = F.expr("unix_micros(ts)")
    state = str(tmp_path / "retention_replay_state")
    ingest = _retention_ingest_fn(
        state_path=state, period="week", user_col="user_id",
        ts_col="ts",
    )
    first = events.filter(us <= F.lit(mid))
    second = events.filter(us > F.lit(mid))
    ingest(first, 0)
    ingest(second, 1)
    want = rows(retention_state_cohorts(spark, state))
    ingest(second, 1)  # crash-replay: same frame, same id
    assert rows(retention_state_cohorts(spark, state)) == want

    drifted = _retention_ingest_fn(
        state_path=state, period="month", user_col="user_id",
        ts_col="ts",
    )
    with pytest.raises(ValueError, match="period"):
        drifted(second, 2)
    assert rows(retention_state_cohorts(spark, state)) == want

    compact_retention_state(spark, state)
    with pytest.raises(ValueError, match="compaction horizon"):
        ingest(second, 1)
    assert rows(retention_state_cohorts(spark, state)) == want
    ingest(second.limit(0), 2)  # empty batch: clean no-op
