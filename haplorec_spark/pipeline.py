"""The haplorec pipeline: patient variants → haplotypes → genotypes →
phenotypes → drug recommendations, as eight DataFrame-valued stages.

Stage semantics follow /root/reference/src/groovy/haplorec/util/pipeline/
Pipeline.groovy (file:line cites on each function); the execution shape is
deliberately different — Spark-first, one shuffle per stage:

* The reference loops genes × patients issuing point queries
  (Pipeline.groovy:230-234, 359-362 — the N+1 pattern its own todo.txt
  complains about). Here every stage is a single distributed plan.
* Haplotype calling and het disambiguation run the reference's own
  kernels (``GeneHaplotypeMatrix.variantsToHaplotypes``,
  GeneHaplotypeMatrix.groovy:213-249, and ``Algorithm.disambiguateHets``,
  Algorithm.groovy:73-255) as grouped applyInPandas kernels over
  (job, patient, gene). Both read the per-gene matrices from one
  broadcast per :class:`Pipeline` (reference data, ~MBs), built on the
  first job that needs it.

At 100 TB: job_patient_variant is the big table; every stage keys its
shuffle on a prefix of (job_id, patient_id, gene_name, ...). The
variant → gene_snp join is broadcast and drops every row outside the
reference genes before the kernels' shuffle, so a kernel group holds one
patient's rows for one gene's SNPs (CYP2D6, the largest matrix, has 151).
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd
from pyspark import Broadcast
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from haplorec_spark import schema as sch
from haplorec_spark.algorithm import disambiguate_hets, het_variant_rows
from haplorec_spark.matrix import broadcast_matrices
from haplorec_spark.operators.division import select_where_subset_of
from haplorec_spark.operators.pivot import grouped_rows_to_columns
from haplorec_spark.plans.dependency import DependencyGraph

GROUP = ["job_id", "patient_id", "gene_name", "physical_chromosome",
         "het_combo", "het_combos"]


@dataclass
class ReferenceTables:
    """The five PharmGKB-derived reference tables (SURVEY.md §1.4)."""

    gene_haplotype_variant: DataFrame
    genotype_phenotype: DataFrame
    gene_phenotype_drug_recommendation: DataFrame
    genotype_drug_recommendation: DataFrame
    drug_recommendation: DataFrame | None = None

    def gene_snp(self) -> DataFrame:
        """The gene_snp distinct view (haplorec.sql.jinja:62-68)."""
        return self.gene_haplotype_variant.select(
            "gene_name", "snp_id"
        ).distinct()


# --------------------------------------------------------------------------
# Stage: variant -> hetVariant (U2 kernel, Pipeline.groovy:340-402)
# --------------------------------------------------------------------------

def variant_to_het_variant(
    variant: DataFrame,
    ref: ReferenceTables,
    matrices: Broadcast,
    max_het_snps: int = 20,
) -> DataFrame:
    """Disambiguate heterozygous calls onto physical chromosomes.

    Work unit = one (job, patient, gene) group of 'het' variants whose
    SNPs belong to the gene (reference joins gene_snp,
    Pipeline.groovy:365-372); each group runs Algorithm.disambiguateHets
    against ``matrices`` (the broadcast of :func:`broadcast_matrices`)
    and emits combo-numbered rows. Invalid het input (a SNP without
    exactly two alleles) raises, failing the job as the reference does
    (Algorithm.groovy:76-85).
    """
    hets = (
        variant.filter(F.col("zygosity") == "het")
        .join(F.broadcast(ref.gene_snp()), on="snp_id")
        .select("job_id", "patient_id", "gene_name", "snp_id", "allele")
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        job_id = pdf["job_id"].iloc[0]
        patient_id = pdf["patient_id"].iloc[0]
        gene = pdf["gene_name"].iloc[0]
        matrix = matrices.value[gene]
        combos = disambiguate_hets(
            matrix,
            list(zip(pdf["snp_id"], pdf["allele"])),
            max_het_snps=max_het_snps,
        )
        rows = het_variant_rows(combos)
        return pd.DataFrame(
            {
                "job_id": [job_id] * len(rows),
                "patient_id": [patient_id] * len(rows),
                "physical_chromosome": [r["physical_chromosome"] for r in rows],
                "het_combo": [r["het_combo"] for r in rows],
                "het_combos": [r["het_combos"] for r in rows],
                "snp_id": [r["snp_id"] for r in rows],
                "allele": [r["allele"] for r in rows],
            }
        )

    return hets.groupBy("job_id", "patient_id", "gene_name").applyInPandas(
        kernel, schema=sch.JOB_PATIENT_HET_VARIANT
    )


# --------------------------------------------------------------------------
# Stage: variant (+hetVariant) -> geneHaplotype + novelHaplotype
# (U1, Pipeline.groovy:196-316)
# --------------------------------------------------------------------------

_CLASSIFIED_COLS = GROUP + ["n_survivors", "haplotype_name"]
_CLASSIFIED_SCHEMA = (
    "job_id long, patient_id string, gene_name string, "
    "physical_chromosome string, het_combo int, het_combos int, "
    "n_survivors int, haplotype_name string"
)


def _classified_haplotype_groups(
    variant: DataFrame, het_variant: DataFrame, ref: ReferenceTables,
    matrices: Broadcast,
) -> DataFrame:
    """Per (job, patient, gene, chromosome, het_combo): candidate-haplotype
    classification.

    Returns GROUP columns + n_survivors + haplotype_name (valid when
    n_survivors == 1).

    One grouped kernel per (job, patient, gene) folds
    GeneHaplotypeMatrix.variantsToHaplotypes over the reference's
    chromosome × combo loop (Pipeline.groovy:230-313). A chromosome's
    variants are its hom rows (zygosity = 'hom', Pipeline.groovy:238-246)
    plus one combo's disambiguated het rows; a chromosome without het
    rows gets the single combo (1, 1) (Pipeline.groovy:267-272).
    Consequences:

    * unknown (snp, allele) for a gene SNP — a null allele included →
      novel (GeneHaplotypeMatrix.groovy:234-239)
    * known alleles in an unseen combination → intersection empty → novel
      (GeneHaplotypeMatrix.groovy:228-232)
    * survivors > 1 → ambiguous, dropped (Pipeline.groovy:303-306)
    * a gene with neither a non-null hom allele nor a het row is not
      called at all (the work list, Pipeline.groovy:206-224)
    """
    gene_snp = F.broadcast(ref.gene_snp())
    cols = ["job_id", "patient_id", "gene_name", "physical_chromosome",
            "het_combo", "het_combos", "snp_id", "allele"]
    # Hom rows carry a null het_combo; het rows their combo.
    hom = (
        variant.filter(F.col("zygosity") == "hom")
        .join(gene_snp, on="snp_id")
        .withColumn("het_combo", F.lit(None).cast("int"))
        .withColumn("het_combos", F.lit(None).cast("int"))
        .select(*cols)
    )
    het = het_variant.join(gene_snp, on="snp_id").select(*cols)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        job_id, patient_id, gene = (
            pdf[c].iloc[0] for c in ("job_id", "patient_id", "gene_name")
        )
        is_het = pdf["het_combo"].notna()
        if not is_het.any() and pdf["allele"].isna().all():
            return pd.DataFrame([], columns=_CLASSIFIED_COLS)
        hom_vs: dict[str, list] = {}
        combo_vs: dict[tuple, list] = {}
        for chrom, combo, combos, snp_id, allele, het_row in zip(
            pdf["physical_chromosome"], pdf["het_combo"],
            pdf["het_combos"], pdf["snp_id"], pdf["allele"], is_het,
        ):
            if chrom is None:  # belongs to no chromosome's variant set
                continue
            if het_row:
                key = (chrom, int(combo), int(combos))
                combo_vs.setdefault(key, []).append((snp_id, allele))
            else:
                hom_vs.setdefault(chrom, []).append((snp_id, allele))
        het_chroms = {chrom for chrom, _, _ in combo_vs}
        for chrom in hom_vs.keys() - het_chroms:
            combo_vs[(chrom, 1, 1)] = []

        matrix = matrices.value[gene]
        out = []
        for (chrom, combo, combos), vs in combo_vs.items():
            haps = matrix.variants_to_haplotypes(hom_vs.get(chrom, []) + vs)
            out.append((job_id, patient_id, gene, chrom, combo, combos,
                        len(haps), min(haps) if haps else None))
        return pd.DataFrame(out, columns=_CLASSIFIED_COLS)

    return hom.unionByName(het).groupBy(
        "job_id", "patient_id", "gene_name"
    ).applyInPandas(kernel, schema=_CLASSIFIED_SCHEMA)


# --------------------------------------------------------------------------
# Stage: geneHaplotype -> genotype (A10/A11, Pipeline.groovy:107-131)
# --------------------------------------------------------------------------

def gene_haplotype_to_genotype(gene_haplotype: DataFrame) -> DataFrame:
    """Pair the ≤2 per-chromosome haplotype calls into (name1 ≤ name2)."""
    return grouped_rows_to_columns(
        gene_haplotype,
        ["job_id", "patient_id", "gene_name", "het_combo"],
        {
            "job_id": "job_id",
            "patient_id": "patient_id",
            "het_combo": "het_combo",
            "het_combos": "het_combos",
            "gene_name": "gene_name",
            "haplotype_name": ["haplotype_name1", "haplotype_name2"],
        },
        order_rows_by=["haplotype_name"],
    ).select(
        "job_id", "patient_id", "het_combo", "het_combos", "gene_name",
        "haplotype_name1", "haplotype_name2",
    )


# --------------------------------------------------------------------------
# Stage: genotype -> genePhenotype (J2, Pipeline.groovy:446-459)
# --------------------------------------------------------------------------

def genotype_to_gene_phenotype(
    genotype: DataFrame, ref: ReferenceTables
) -> DataFrame:
    gp = F.broadcast(
        ref.genotype_phenotype.select(
            "gene_name", "haplotype_name1", "haplotype_name2",
            "phenotype_name",
        )
    )
    return genotype.join(
        gp, on=["gene_name", "haplotype_name1", "haplotype_name2"]
    ).select(
        "job_id", "patient_id", "het_combo", "het_combos", "gene_name",
        "phenotype_name",
    )


# --------------------------------------------------------------------------
# Stages: drug recommendations via division (J4/J5,
# Pipeline.groovy:138-159 and 419-440)
# --------------------------------------------------------------------------

_JP_DRUG_COLS = ["job_id", "patient_id", "het_combo", "het_combos",
                 "drug_recommendation_id"]


def gene_phenotype_to_phenotype_drug_recommendation(
    gene_phenotype: DataFrame, ref: ReferenceTables
) -> DataFrame:
    """Drug recs whose required (gene, phenotype) set ⊆ the patient's."""
    return select_where_subset_of(
        ref.gene_phenotype_drug_recommendation,
        gene_phenotype,
        ["gene_name", "phenotype_name"],
        a_group_by=["drug_recommendation_id"],
        b_group_by=["job_id", "patient_id", "het_combo", "het_combos"],
        select=_JP_DRUG_COLS,
        broadcast_a=True,
    )


def genotype_to_genotype_drug_recommendation(
    genotype: DataFrame, ref: ReferenceTables
) -> DataFrame:
    """Drug recs whose required genotype set ⊆ the patient's genotypes."""
    return select_where_subset_of(
        ref.genotype_drug_recommendation,
        genotype,
        ["gene_name", "haplotype_name1", "haplotype_name2"],
        a_group_by=["drug_recommendation_id"],
        b_group_by=["job_id", "patient_id", "het_combo", "het_combos"],
        select=_JP_DRUG_COLS,
        broadcast_a=True,
    )


# --------------------------------------------------------------------------
# Job lifecycle + dependency wiring (D3/D5, Pipeline.groovy:476-528,554-687)
# --------------------------------------------------------------------------

#: Stage name -> upstream stage names (Pipeline.groovy:484-525).
STAGE_DEPENDENCIES: dict[str, list[str]] = {
    "variant": [],
    "hetVariant": ["variant"],
    "geneHaplotype": ["variant", "hetVariant"],
    "novelHaplotype": ["variant", "hetVariant"],
    "genotype": ["geneHaplotype"],
    "genePhenotype": ["genotype"],
    "phenotypeDrugRecommendation": ["genePhenotype"],
    "genotypeDrugRecommendation": ["genotype"],
}

STAGE_TABLE_NAMES: dict[str, str] = {
    "variant": "job_patient_variant",
    "hetVariant": "job_patient_het_variant",
    "geneHaplotype": "job_patient_gene_haplotype",
    "novelHaplotype": "job_patient_novel_haplotype",
    "genotype": "job_patient_genotype",
    "genePhenotype": "job_patient_gene_phenotype",
    "phenotypeDrugRecommendation": "job_patient_phenotype_drug_recommendation",
    "genotypeDrugRecommendation": "job_patient_genotype_drug_recommendation",
}


class Pipeline:
    """Runs jobs against a fixed set of reference tables.

    ``run_job`` mirrors Pipeline.runJob/pipelineJob: seed one or more
    stage tables from input, build everything downstream, return all
    stage DataFrames keyed by stage alias. Stage tables all carry
    ``job_id`` — at scale they are written partitioned by job_id with
    per-partition overwrite for job re-runs (see
    :meth:`materialize`), reproducing the reference's delete-and-rerun
    (Pipeline.groovy:567-576) without touching other jobs' partitions.
    """

    #: Stages whose DataFrames feed more than one downstream consumer
    #: (``variant`` feeds both the het and the haplotype kernel).
    #: Persisting them turns O(consumers) recomputations of the
    #: shared lineage into one; the reference gets the same effect by
    #: materializing every stage into a MySQL table.
    PERSISTED_STAGES = ("variant", "hetVariant", "geneHaplotype", "genotype")

    def __init__(
        self,
        spark: SparkSession,
        ref: ReferenceTables,
        max_het_snps: int = 20,
    ) -> None:
        self.spark = spark
        self.ref = ref
        self.max_het_snps = max_het_snps
        self._next_job_id = 1
        self._matrices: Broadcast | None = None

    def matrices(self) -> Broadcast:
        """The per-gene matrices, broadcast once per Pipeline: the first
        job that runs a kernel builds them, later jobs reuse them."""
        if self._matrices is None:
            self._matrices = broadcast_matrices(
                self.spark, self.ref.gene_haplotype_variant
            )
        return self._matrices

    # -- input -------------------------------------------------------------

    def _seed_df(self, stage: str, data, job_id: int) -> DataFrame:
        """Turn seed input (DataFrame or list of rows without job_id) into
        a stage DataFrame stamped with the job id.

        Reference semantics (Pipeline.groovy:590-617): input row values
        map positionally onto the stage table's columns minus
        {id, job_id, het_combo, het_combos} in DDL order (short rows
        null-pad via transpose truncation); stages carrying het-combo
        columns are seeded with het_combo = het_combos = 1.
        """
        table = STAGE_TABLE_NAMES[stage]
        schema = sch.SCHEMAS[table]
        field_names = [f.name for f in schema.fields]
        has_het = "het_combo" in field_names
        if isinstance(data, DataFrame):
            df = data
            if "job_id" not in df.columns:
                df = df.withColumn("job_id", F.lit(job_id).cast("long"))
            if has_het and "het_combo" not in df.columns:
                df = df.withColumn("het_combo", F.lit(1)).withColumn(
                    "het_combos", F.lit(1)
                )
            return df.select(
                *[F.col(f.name).cast(schema[f.name].dataType)
                  for f in schema.fields]
            )
        input_cols = [
            c for c in field_names
            if c not in ("job_id", "het_combo", "het_combos")
        ]
        rows = []
        for r in data:
            vals = list(r) + [None] * (len(input_cols) - len(r))
            m = dict(zip(input_cols, vals))
            m["job_id"] = job_id
            if has_het:
                m["het_combo"], m["het_combos"] = 1, 1
            rows.append(tuple(m.get(c) for c in field_names))
        return self.spark.createDataFrame(rows, schema)

    # -- execution ---------------------------------------------------------

    def run_job(
        self,
        job_id: int | None = None,
        **seeds,
    ) -> dict[str, DataFrame]:
        """Run one job. ``seeds`` maps stage aliases (``variants``,
        ``geneHaplotypes``, ... — reference's plural kwargs) or singular
        stage names to input data. Returns stage alias -> DataFrame.
        """
        if job_id is None:
            job_id = self._next_job_id
        self._next_job_id = max(self._next_job_id, job_id + 1)

        seed_dfs: dict[str, DataFrame] = {}
        for key, data in seeds.items():
            stage = key[:-1] if key.endswith("s") and key[:-1] in STAGE_DEPENDENCIES else key
            if stage not in STAGE_DEPENDENCIES:
                raise KeyError(f"unknown stage input {key!r}")
            seed_dfs[stage] = self._seed_df(stage, data, job_id)

        out: dict[str, DataFrame] = {}
        empty = {
            stage: self.spark.createDataFrame(
                [], sch.SCHEMAS[STAGE_TABLE_NAMES[stage]]
            )
            for stage in ("variant", "hetVariant")
        }

        def df_for(stage: str) -> DataFrame:
            return out.get(stage, seed_dfs.get(stage, empty.get(stage)))

        graph = DependencyGraph()

        def rule(stage: str, fn) -> None:
            def run() -> None:
                if stage in seed_dfs:
                    out[stage] = seed_dfs[stage]
                else:
                    out[stage] = fn()
                if stage in self.PERSISTED_STAGES:
                    out[stage] = out[stage].persist()
            graph.add(stage, run, STAGE_DEPENDENCIES[stage])

        rule("variant", lambda: empty["variant"])
        rule("hetVariant", lambda: variant_to_het_variant(
            df_for("variant"), self.ref, self.matrices(), self.max_het_snps))

        def build_haplotypes() -> DataFrame:
            # Both outputs branch off the classification; persist the
            # shared prefix so novelHaplotype doesn't rerun the kernel.
            classified = _classified_haplotype_groups(
                df_for("variant"), df_for("hetVariant"), self.ref,
                self.matrices(),
            ).persist()
            gh = classified.filter(F.col("n_survivors") == 1).select(
                "job_id", "patient_id", "physical_chromosome", "het_combo",
                "het_combos", "gene_name", "haplotype_name",
            )
            novel = classified.filter(F.col("n_survivors") == 0).select(
                "job_id", "patient_id", "physical_chromosome", "het_combo",
                "het_combos", "gene_name",
            )
            out["novelHaplotype"] = seed_dfs.get("novelHaplotype", novel)
            return gh

        rule("geneHaplotype", build_haplotypes)
        graph.add("novelHaplotype", None, ["geneHaplotype"])
        rule("genotype",
             lambda: gene_haplotype_to_genotype(df_for("geneHaplotype")))
        rule("genePhenotype",
             lambda: genotype_to_gene_phenotype(df_for("genotype"), self.ref))
        rule("phenotypeDrugRecommendation",
             lambda: gene_phenotype_to_phenotype_drug_recommendation(
                 df_for("genePhenotype"), self.ref))
        rule("genotypeDrugRecommendation",
             lambda: genotype_to_genotype_drug_recommendation(
                 df_for("genotype"), self.ref))

        # Build every leaf downstream of the seeded stages
        # (Dependency.groovy:196-201); seeding marks a stage built so its
        # rule and upstream sub-tree are skipped (Pipeline.groovy:671-685).
        built: set[str] = set()
        for s in seed_dfs:
            out[s] = seed_dfs[s]
            built.add(s)
        seeded = set(seed_dfs) or {"variant"}
        targets: list[str] = []
        for s in seeded:
            for leaf in graph.leaf_dependants(s):
                if leaf not in targets:
                    targets.append(leaf)
        for t in targets:
            graph.build(t, built)
        return out

    # -- persistence -------------------------------------------------------

    def materialize(
        self, tables: dict[str, DataFrame], warehouse: str
    ) -> None:
        """Write stage tables partitioned by job_id, overwriting only the
        partitions present in each DataFrame (job re-run semantics)."""
        self.spark.conf.set(
            "spark.sql.sources.partitionOverwriteMode", "dynamic"
        )
        for stage, df in tables.items():
            table = STAGE_TABLE_NAMES[stage]
            (
                df.write.mode("overwrite")
                .partitionBy("job_id")
                .parquet(f"{warehouse}/{table}")
            )
