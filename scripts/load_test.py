"""The reference's two load-test scenarios, regenerated Spark-natively.

Mirrors /root/reference/test/groovy/haplorec/test/util/pipeline/
PipelineLoadTest.groovy:65-163 (its only performance baseline):

1. 100,000 job_patient_variant rows (10 samples x 5,000 SNPs x 2
   chromosomes, all hom) through the whole pipeline — reference bound
   < 10 s on local MySQL.
2. geneHaplotype stage with gene_haplotype_variant = 151 variants x 132
   haplotypes x 100 genes (~2M rows) and 379 samples x 151 variants
   (~114k variant rows) — reference bound < 5 min.

Data is generated distributively (spark.range + column exprs — the
reference's per-row Groovy closures become one select), with the same
shape: sample s's SNPs are the global range rs((s-1)*v+1 .. s*v); the
first SNP's allele is '1' (matching haplotype *1's distinguishing first
allele), the rest 'A'.

Prints one JSON line with both wall times. Exit status enforces BOTH
reference bounds (warm-session measurement, like the reference's
always-running MySQL). Measured with ``SPARK_GRAFT_CPUS=4`` on a 4-vCPU
Xeon VM: scenario 1 4-6 s (bound 10 s), scenario 2 16-23 s (bound
300 s). About 13-15 s of scenario 2 is building and broadcasting the
per-gene matrices of the whole 2M-row table (Arrow fetch 8-10 s, dict
build ~3 s, broadcast ~2 s).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from haplorec_spark.pipeline import Pipeline, ReferenceTables
from haplorec_spark.session import get_spark


def generate_gene_haplotype_variant(
    spark: SparkSession, variants_per_haplotype: int, haplotypes_per_gene: int,
    genes: int
):
    """PipelineLoadTest.generateGeneHaplotypeVariant (:115-140)."""
    n = genes * haplotypes_per_gene * variants_per_haplotype
    vh = variants_per_haplotype
    hg = haplotypes_per_gene
    return spark.range(n).select(
        F.concat(F.lit("g"), (F.col("id") / (hg * vh)).cast("long") + 1)
        .alias("gene_name"),
        F.concat(F.lit("*"), (F.col("id") % (hg * vh) / vh).cast("long") + 1)
        .alias("haplotype_name"),
        F.concat(
            F.lit("rs"),
            (F.col("id") / (hg * vh)).cast("long") * vh
            + F.col("id") % vh + 1,
        ).alias("snp_id"),
        F.when(
            F.col("id") % vh == 0,
            ((F.col("id") % (hg * vh) / vh).cast("long") + 1).cast("string"),
        ).otherwise(F.lit("A")).alias("allele"),
    )


def generate_variants(
    spark: SparkSession, variants_per_sample: int, samples: int
):
    """PipelineLoadTest.generateVariants (:142-163): global rs counter,
    all hom, duplicated onto chromosomes A and B."""
    n = samples * variants_per_sample
    v = variants_per_sample
    base = spark.range(n).select(
        F.concat(F.lit("sample"), (F.col("id") / v).cast("long") + 1)
        .alias("patient_id"),
        F.concat(F.lit("rs"), F.col("id") + 1).alias("snp_id"),
        F.when(F.col("id") % v == 0, F.lit("1")).otherwise(F.lit("A"))
        .alias("allele"),
        F.lit("hom").alias("zygosity"),
    )
    return base.select(
        "patient_id",
        F.explode(F.array(F.lit("A"), F.lit("B"))).alias(
            "physical_chromosome"
        ),
        "snp_id", "allele", "zygosity",
    )


def scenario_full_pipeline(spark) -> float:
    """100k variant rows through every stage (bound: 10 s)."""
    ref = ReferenceTables(
        gene_haplotype_variant=generate_gene_haplotype_variant(
            spark, 10, 5, 10
        ),
        genotype_phenotype=spark.createDataFrame(
            [("g1", "*1", "*1", "normal")],
            "gene_name string, haplotype_name1 string, haplotype_name2 "
            "string, phenotype_name string",
        ),
        gene_phenotype_drug_recommendation=spark.createDataFrame(
            [("g1", "normal", 1)],
            "gene_name string, phenotype_name string, "
            "drug_recommendation_id long",
        ),
        genotype_drug_recommendation=spark.createDataFrame(
            [("g1", "*1", "*1", 1)],
            "gene_name string, haplotype_name1 string, haplotype_name2 "
            "string, drug_recommendation_id long",
        ),
    )
    variants = generate_variants(spark, 5000, 10)
    pipe = Pipeline(spark, ref)
    t0 = time.time()
    out = pipe.run_job(variants=variants)
    counts = {
        s: out[s].count()
        for s in ("geneHaplotype", "genotype", "phenotypeDrugRecommendation",
                  "genotypeDrugRecommendation")
    }
    dt = time.time() - t0
    print(f"scenario1 full pipeline over 100k variants: {dt:.1f}s {counts}",
          file=sys.stderr)
    return dt


def scenario_gene_haplotype_stage(spark) -> float:
    """~2M-row matrix, 379 samples: geneHaplotype stage (bound: 300 s)."""
    ref = ReferenceTables(
        gene_haplotype_variant=generate_gene_haplotype_variant(
            spark, 151, 132, 100
        ),
        genotype_phenotype=spark.createDataFrame(
            [], "gene_name string, haplotype_name1 string, haplotype_name2 "
            "string, phenotype_name string",
        ),
        gene_phenotype_drug_recommendation=spark.createDataFrame(
            [], "gene_name string, phenotype_name string, "
            "drug_recommendation_id long",
        ),
        genotype_drug_recommendation=spark.createDataFrame(
            [], "gene_name string, haplotype_name1 string, haplotype_name2 "
            "string, drug_recommendation_id long",
        ),
    )
    variants = generate_variants(spark, 151, 379)
    pipe = Pipeline(spark, ref)
    t0 = time.time()
    out = pipe.run_job(variants=variants)
    n = out["geneHaplotype"].count()
    dt = time.time() - t0
    print(f"scenario2 geneHaplotype over 2M-row matrix: {dt:.1f}s "
          f"({n} calls)", file=sys.stderr)
    return dt


def warmup(spark) -> None:
    """One tiny throwaway pipeline before timing.

    A fresh local JVM pays ~10 s of one-time costs (classloading, codegen
    compilation, shuffle-service init) on whatever runs first; the
    reference's <10 s bound was likewise measured against an
    already-running MySQL server, not a cold one. Timing starts after
    parity is restored. (Measured: scenario 1 is ~19-21 s cold and
    ~10-11 s warm for identical work.)
    """
    ref = ReferenceTables(
        gene_haplotype_variant=generate_gene_haplotype_variant(spark, 3, 2, 2),
        genotype_phenotype=spark.createDataFrame(
            [("g1", "*1", "*1", "normal")],
            "gene_name string, haplotype_name1 string, haplotype_name2 "
            "string, phenotype_name string",
        ),
        gene_phenotype_drug_recommendation=spark.createDataFrame(
            [("g1", "normal", 1)],
            "gene_name string, phenotype_name string, "
            "drug_recommendation_id long",
        ),
        genotype_drug_recommendation=spark.createDataFrame(
            [("g1", "*1", "*1", 1)],
            "gene_name string, haplotype_name1 string, haplotype_name2 "
            "string, drug_recommendation_id long",
        ),
    )
    out = Pipeline(spark, ref).run_job(
        variants=generate_variants(spark, 10, 2)
    )
    for s in ("geneHaplotype", "genotype", "phenotypeDrugRecommendation",
              "genotypeDrugRecommendation"):
        out[s].count()


def main() -> int:
    spark = get_spark(app_name="haplorec_spark_load_test")
    spark.sparkContext.setLogLevel("ERROR")
    warmup(spark)
    t1 = scenario_full_pipeline(spark)
    t2 = scenario_gene_haplotype_stage(spark)
    print(json.dumps({
        "scenario1_full_pipeline_100k_variants_sec": round(t1, 2),
        "scenario1_reference_bound_sec": 10,
        "scenario2_gene_haplotype_2m_matrix_sec": round(t2, 2),
        "scenario2_reference_bound_sec": 300,
        "note": (
            "warm-session timings (one throwaway pipeline first), "
            "matching the reference's always-running MySQL; both "
            "bounds enforced by the exit status"
        ),
    }))
    return 0 if t1 < 10 and t2 < 300 else 1


if __name__ == "__main__":
    sys.exit(main())
