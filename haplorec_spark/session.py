"""SparkSession construction with engine defaults.

Defaults are tuned for correctness-at-scale: AQE on (runtime re-plan,
skew-join splitting, partition coalescing), broadcast threshold sized so
the small pharmacogenomic reference tables (≪10 MB) always broadcast,
and Arrow enabled for the few Pandas-UDF kernels.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

ENGINE_CONFS: dict[str, str] = {
    # Let Catalyst re-plan at runtime: coalesce small shuffle partitions,
    # split skewed ones, demote/promote join strategies.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Let AQE re-plan (coalesce/skew-split) inside cached plans too.
    # run_job persists its stage frames, and Spark's default (false)
    # pins a persisted frame's exchanges at the static partition count.
    # Measured with perfbench on 4 cores, turning this off raised
    # pipeline.geneHaplotype from 15 to 267 tasks and the phenotype
    # report from 107 to 800 (traced seed-31 clinic job), and the
    # median job latency over five seeds from 24 to 36 s (clinic_jobs)
    # and from 13 to 26 s (cohort_hom).
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # The reference tables a job joins (gene_haplotype_variant, the
    # genotype/phenotype and drug-recommendation tables) are
    # PharmGKB-sized, a few MB at most. 64 MB keeps them all on the
    # broadcast path without hints.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Arrow batches for applyInPandas / pandas_udf kernels.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Spark's 200-partition default swamps local multi-stage pipelines in
    # task overhead; 64 + AQE coalescing right-sizes every exchange at
    # runtime. Cluster deployments override per data volume.
    "spark.sql.shuffle.partitions": "64",
    # No ANSI override: a job and its reports give the same rows under
    # the Spark 4 default (ansi=true) and under ansi=false
    # (tests/test_ansi_job.py). Operators are written mode-neutral
    # (F.get for positional indexing, no out-of-range element_at, no
    # lossy casts), and the test suite runs with the default.
    "spark.sql.session.timeZone": "UTC",
    # Local-mode driver heap: in local[N] the driver JVM also hosts
    # every executor thread, so it holds all shuffle buffers, the matrix
    # broadcast and every stage frame a Pipeline persists. A single
    # clinic or cohort job runs in 2g (perfbench sets that); 16g is the
    # ceiling for a long-lived Pipeline, which keeps each job's
    # persisted stages, and for reference-scale matrices
    # (scripts/load_test.py builds one from 2M rows). The JVM takes only
    # what it uses. Ignored when a session already exists; overridable
    # per call; cluster deployments set executor memory their own way.
    "spark.driver.memory": "16g",
}


def get_spark(
    app_name: str = "haplorec_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, fallback 32)
    so the same entry point works in scripts and in tests. On a
    real cluster, pass ``master=None`` with a pre-configured environment —
    existing sessions are reused untouched.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    builder = builder.master(master)
    confs = dict(ENGINE_CONFS)
    if shuffle_partitions is not None:
        confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_confs:
        confs.update(extra_confs)
    for k, v in confs.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
