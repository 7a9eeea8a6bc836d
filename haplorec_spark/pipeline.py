"""The haplorec pipeline: patient variants → haplotypes → genotypes →
phenotypes → drug recommendations, as eight DataFrame-valued stages.

Stage semantics follow /root/reference/src/groovy/haplorec/util/pipeline/
Pipeline.groovy (file:line cites on each function); the execution shape is
deliberately different — Spark-first, one shuffle per stage:

* The reference loops genes × patients issuing point queries
  (Pipeline.groovy:230-234, 359-362 — the N+1 pattern its own todo.txt
  complains about). Here every stage is a single distributed plan.
* Het disambiguation and haplotype calling run the reference's own
  kernels (``Algorithm.disambiguateHets``, Algorithm.groovy:73-255, then
  ``GeneHaplotypeMatrix.variantsToHaplotypes``,
  GeneHaplotypeMatrix.groovy:213-249) in one grouped applyInPandas
  kernel per (job, patient, gene), the reference's own per patient ×
  gene loop (:func:`call_haplotypes`). hetVariant, geneHaplotype and
  novelHaplotype are filters of its one persisted output. It reads the
  per-gene matrices from one broadcast per :class:`Pipeline` (reference
  data, ~MBs), built on the first job that needs it.

At 100 TB: job_patient_variant is the big table; every stage keys its
shuffle on a prefix of (job_id, patient_id, gene_name, ...). The
variant → gene_snp join is broadcast and drops every row outside the
reference genes before the kernel's shuffle, so a kernel group holds one
patient's rows for one gene's SNPs (CYP2D6, the largest matrix, has 151).
"""

from __future__ import annotations

import functools
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
# Stages: variant -> hetVariant + geneHaplotype + novelHaplotype
# (U2 then U1 per patient × gene, Pipeline.groovy:340-402 and 196-316)
# --------------------------------------------------------------------------

_CALL_COLS = ["job_id", "patient_id", "gene_name", "physical_chromosome",
              "het_combo", "het_combos", "snp_id", "allele", "n_survivors",
              "haplotype_name"]
_CALL_SCHEMA = (
    "job_id long, patient_id string, gene_name string, "
    "physical_chromosome string, het_combo int, het_combos int, "
    "snp_id string, allele string, n_survivors int, haplotype_name string"
)


def call_haplotypes(
    variant: DataFrame,
    ref: ReferenceTables,
    matrices: Broadcast,
    max_het_snps: int = 20,
    het_variant: DataFrame | None = None,
) -> DataFrame:
    """Het disambiguation and haplotype calling in one grouped kernel per
    (job, patient, gene).

    A group is one patient's hom and het variants on the gene's SNPs
    (the reference joins gene_snp, Pipeline.groovy:365-372); ``matrices``
    is the broadcast of :func:`broadcast_matrices`. The kernel runs the
    reference's loop body for that patient × gene:

    1. Algorithm.disambiguateHets on the het rows
       (Pipeline.groovy:340-402) gives combo-numbered het rows. They are
       emitted with a null ``n_survivors``: the hetVariant rows. A
       seeded ``het_variant`` takes their place and is not emitted again.
    2. GeneHaplotypeMatrix.variantsToHaplotypes over the chromosome ×
       combo loop (Pipeline.groovy:230-313) gives one row per chromosome
       and combo with ``n_survivors`` and ``haplotype_name`` (valid when
       ``n_survivors`` == 1). A chromosome's variants are its hom rows
       (Pipeline.groovy:238-246) plus one combo's het rows; a chromosome
       without het rows gets the single combo (1, 1)
       (Pipeline.groovy:267-272).

    Consequences:

    * unknown (snp, allele) for a gene SNP — a null allele included →
      novel (GeneHaplotypeMatrix.groovy:234-239)
    * known alleles in an unseen combination → intersection empty → novel
      (GeneHaplotypeMatrix.groovy:228-232)
    * survivors > 1 → ambiguous, dropped (Pipeline.groovy:303-306)
    * a gene with neither a non-null hom allele nor a het row is not
      called at all (the work list, Pipeline.groovy:206-224)
    * a row with a null physical_chromosome belongs to no chromosome's
      variant set and is ignored, hom or seeded het alike
    * invalid het input (a SNP without exactly two alleles) or more than
      ``max_het_snps`` het SNPs raises, failing the job as the reference
      does (Algorithm.groovy:76-85); the error names the job, patient
      and gene
    """
    seeded = het_variant is not None
    if not seeded:
        rows = variant.filter(F.col("zygosity").isin("hom", "het"))
    else:
        rows = variant.filter(F.col("zygosity") == "hom").unionByName(
            het_variant.withColumn("zygosity", F.lit("het")),
            allowMissingColumns=True,
        )
    rows = rows.join(F.broadcast(ref.gene_snp()), on="snp_id")

    def call_group(pdf: pd.DataFrame, job_id, patient_id, gene) -> list:
        matrix = matrices.value[gene]
        hom = pdf[pdf["zygosity"] == "hom"]
        het = pdf[pdf["zygosity"] == "het"]
        if not seeded:
            het_rows = het_variant_rows(disambiguate_hets(
                matrix, list(zip(het["snp_id"], het["allele"])),
                max_het_snps=max_het_snps,
            ))
            out = [(job_id, patient_id, gene, r["physical_chromosome"],
                    r["het_combo"], r["het_combos"], r["snp_id"],
                    r["allele"], None, None) for r in het_rows]
        else:
            het_rows = [
                {"physical_chromosome": chrom, "het_combo": int(combo),
                 "het_combos": int(combos), "snp_id": snp_id,
                 "allele": allele}
                for chrom, combo, combos, snp_id, allele in zip(
                    het["physical_chromosome"], het["het_combo"],
                    het["het_combos"], het["snp_id"], het["allele"])
            ]
            out = []
        if not het_rows and hom["allele"].isna().all():
            return out
        hom_vs: dict[str, list] = {}
        for chrom, snp_id, allele in zip(
            hom["physical_chromosome"], hom["snp_id"], hom["allele"]
        ):
            if chrom is not None:
                hom_vs.setdefault(chrom, []).append((snp_id, allele))
        combo_vs: dict[tuple, list] = {}
        for r in het_rows:
            if r["physical_chromosome"] is not None:
                key = (r["physical_chromosome"], r["het_combo"],
                       r["het_combos"])
                combo_vs.setdefault(key, []).append(
                    (r["snp_id"], r["allele"]))
        het_chroms = {chrom for chrom, _, _ in combo_vs}
        for chrom in hom_vs.keys() - het_chroms:
            combo_vs[(chrom, 1, 1)] = []
        for (chrom, combo, combos), vs in combo_vs.items():
            haps = matrix.variants_to_haplotypes(hom_vs.get(chrom, []) + vs)
            out.append((job_id, patient_id, gene, chrom, combo, combos,
                        None, None, len(haps), min(haps) if haps else None))
        return out

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        key = [pdf[c].iloc[0] for c in ("job_id", "patient_id", "gene_name")]
        try:
            out = call_group(pdf, *key)
        except ValueError as e:
            raise ValueError(
                "job {}, patient {}, gene {}: {}".format(*key, e)
            ) from e
        return pd.DataFrame(out, columns=_CALL_COLS)

    return rows.groupBy("job_id", "patient_id", "gene_name").applyInPandas(
        kernel, schema=_CALL_SCHEMA
    )


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

    #: Stages whose DataFrames feed more than one downstream consumer.
    #: ``genotype`` feeds both recommendation stages; genePhenotype and
    #: the two recommendation stages are written by ``materialize`` and
    #: read again by the reports, which would otherwise re-run the
    #: division (6 Spark jobs) and genePhenotype per report. Persisting
    #: them turns O(consumers) recomputations of the shared lineage into
    #: one; the reference gets the same effect by materializing every
    #: stage into a MySQL table. The kernel output behind hetVariant,
    #: geneHaplotype and novelHaplotype is persisted by ``run_job`` too;
    #: :meth:`release` frees all of a job's cached frames.
    PERSISTED_STAGES = ("variant", "genotype", "genePhenotype",
                        "phenotypeDrugRecommendation",
                        "genotypeDrugRecommendation")

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
        #: job id -> the frames ``run_job`` persisted for it, in order
        self._persisted: dict[int, list[DataFrame]] = {}

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

        # A rule runs after its dependencies, so ``out`` holds its inputs.
        out: dict[str, DataFrame] = {}
        persisted = self._persisted.setdefault(job_id, [])
        graph = DependencyGraph()

        def persist(df: DataFrame) -> DataFrame:
            persisted.append(df.persist())
            return df

        def rule(stage: str, fn) -> None:
            def run() -> None:
                if stage in seed_dfs:
                    out[stage] = seed_dfs[stage]
                else:
                    out[stage] = fn()
                if stage in self.PERSISTED_STAGES:
                    out[stage] = persist(out[stage])
            graph.add(stage, run, STAGE_DEPENDENCIES[stage])

        rule("variant", lambda: self.spark.createDataFrame(
            [], sch.JOB_PATIENT_VARIANT))

        @functools.cache
        def calls() -> DataFrame:
            # hetVariant, geneHaplotype and novelHaplotype are filters of
            # one kernel output; persist it so the kernel runs once.
            return persist(call_haplotypes(
                out["variant"], self.ref, self.matrices(),
                self.max_het_snps, seed_dfs.get("hetVariant"),
            ))

        def called(schema, where) -> DataFrame:
            return calls().filter(where).select(*schema.fieldNames())

        rule("hetVariant", lambda: called(
            sch.JOB_PATIENT_HET_VARIANT, F.col("n_survivors").isNull()))

        def build_haplotypes() -> DataFrame:
            out["novelHaplotype"] = seed_dfs.get("novelHaplotype", called(
                sch.JOB_PATIENT_NOVEL_HAPLOTYPE, F.col("n_survivors") == 0))
            return called(
                sch.JOB_PATIENT_GENE_HAPLOTYPE, F.col("n_survivors") == 1)

        rule("geneHaplotype", build_haplotypes)
        graph.add("novelHaplotype", None, ["geneHaplotype"])
        rule("genotype",
             lambda: gene_haplotype_to_genotype(out["geneHaplotype"]))
        rule("genePhenotype",
             lambda: genotype_to_gene_phenotype(out["genotype"], self.ref))
        rule("phenotypeDrugRecommendation",
             lambda: gene_phenotype_to_phenotype_drug_recommendation(
                 out["genePhenotype"], self.ref))
        rule("genotypeDrugRecommendation",
             lambda: genotype_to_genotype_drug_recommendation(
                 out["genotype"], self.ref))

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

    def release(self, job_id: int) -> None:
        """Unpersist every frame ``run_job`` persisted for ``job_id``; call
        it once the job's tables are written and its reports read, so a
        long-lived Pipeline holds no cache per finished job."""
        for df in self._persisted.pop(job_id, []):
            df.unpersist()

    # -- persistence -------------------------------------------------------

    def materialize(
        self, tables: dict[str, DataFrame], warehouse: str
    ) -> None:
        """Write stage tables partitioned by job_id, overwriting only the
        partitions present in each DataFrame (job re-run semantics).

        Dynamic overwrite is a per-write option, so the session's
        ``spark.sql.sources.partitionOverwriteMode`` is left as it is."""
        for stage, df in tables.items():
            table = STAGE_TABLE_NAMES[stage]
            (
                df.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("job_id")
                .parquet(f"{warehouse}/{table}")
            )
