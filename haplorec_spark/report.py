"""Report generation: the reference's condensed mega-join reports.

Reproduces haplorec.util.pipeline.Report (util/pipeline/Report.groovy) /
haplorec.util.sql.Report.condensedJoin (util/sql/Report.groovy:38-170)
Spark-first:

* The 7-9 table LEFT-join chain is plain DataFrame joins; every joined
  table's reported columns enter the chain under a ``{alias}__`` prefix
  (the reference renames to "table.column", Sql.groovy:626-650).
* The disjunctive geneHaplotype join — ``jpgh.haplotype_name = hap1 OR
  ... = hap2`` (util/pipeline/Report.groovy:72-85) — is one LEFT join
  (:func:`or_slot_join`): the OR sits beside four equi-keys (job,
  patient, gene, het_combo), so Catalyst plans a hash join and checks
  the OR on each matched pair, never a nested loop.
* The reports read the stage frames as given: ``Pipeline.run_job``
  persists the ones worth caching (``Pipeline.PERSISTED_STAGES``), and
  in production they are the parquet stage tables.
* The condensed post-processing (noDuplicates -> collapse,
  sql/Report.groovy:94-170) is one grouped Arrow kernel per job over an
  EXPLICIT sort (:func:`_condense`), replacing the reference's reliance
  on MySQL fetch order (acknowledged at sql/Report.groovy:90-93).
* Duplicate keys: the reference defaults to each table's surrogate
  primary key ``id`` (condensedJoin, sql/Report.groovy:147-167); our
  stage tables carry no surrogate ids, so the equivalent natural keys
  are used — a documented substitution (the stage tables' natural keys
  are unique, haplorec.sql.jinja unique indexes).

Scale: the join chain is shuffle-keyed on (job_id, patient_id, ...);
reference tables broadcast. Condensing adds one exchange, on job_id, and
no window: report output is job-scoped and human-readable-sized.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from haplorec_spark.operators.rows import (
    collapse_rows,
    no_duplicates_rows,
    report_can_collapse,
    report_merge,
)
from haplorec_spark.pipeline import ReferenceTables

#: util/pipeline/Report.groovy:198-211 header alias table.
HEADER_ALIASES = {
    "PATIENT_ID": "SAMPLE_ID",
    "GENE_NAME": "GENE",
    "DRUG_NAME": "DRUG",
    "PHENOTYPE_NAME": "PHENOTYPE",
    "HAPLOTYPE_NAME1": "HAPLOTYPE1",
    "HAPLOTYPE_NAME2": "HAPLOTYPE2",
    "HAPLOTYPE_NAME": "HAPLOTYPE",
    "SNP_ID": "RS#",
    "HET_COMBO": "HET_COMBO",
    "HET_COMBOS": "#HET_COMBOS",
}


def _alias_header(prefixed: str) -> str:
    """'jpv__snp_id' -> 'RS#' (strip table prefix, upper-case, alias)."""
    bare = prefixed.split("__", 1)[-1].upper()
    return HEADER_ALIASES.get(bare, bare)


def left_join_prefixed(
    chain: DataFrame,
    right: DataFrame,
    on: Sequence[tuple[str, str]],
    prefix: str,
    carry: Sequence[str],
) -> DataFrame:
    """LEFT-join ``right`` onto the chain, importing ``carry`` columns as
    ``{prefix}__{col}`` (null on miss). ``on`` pairs (chain_col,
    right_col)."""
    rsel = [F.col(rc).alias(f"_k_{rc}") for _, rc in on] + [
        F.col(c).alias(f"{prefix}__{c}") for c in carry
    ]
    r = right.select(*rsel)
    cond = None
    for lc, rc in on:
        # SQL ON-clause semantics: null keys never match (left row kept
        # with null imports), exactly as the reference's LEFT joins.
        c = chain[lc] == F.col(f"_k_{rc}")
        cond = c if cond is None else (cond & c)
    out = chain.join(r, cond, "left")
    return out.drop(*[f"_k_{rc}" for _, rc in on])


def or_slot_join(
    chain: DataFrame,
    right: DataFrame,
    common: Sequence[tuple[str, str]],
    slot_cols: tuple[str, str],
    right_match_col: str,
    prefix: str,
    carry: Sequence[str],
) -> DataFrame:
    """LEFT-join ``right`` onto the chain ON the ``common`` equalities AND
    ``(slot1 = right_match_col OR slot2 = right_match_col)``, importing
    ``carry`` as in :func:`left_join_prefixed`.

    SQL semantics: each matching right row emits once (a row matching
    both slots, hap1 = hap2, too); a chain row with no match, or a null
    common key, is kept once with null imports.
    """
    s1, s2 = slot_cols
    r = right.select(
        *[F.col(rc).alias(f"_k_{rc}") for _, rc in common],
        F.col(right_match_col).alias("_k_slot"),
        *[F.col(c).alias(f"{prefix}__{c}") for c in carry],
    )
    cond = (chain[s1] == F.col("_k_slot")) | (chain[s2] == F.col("_k_slot"))
    for lc, rc in common:
        cond = cond & (chain[lc] == F.col(f"_k_{rc}"))
    return chain.join(r, cond, "left").drop(
        *[f"_k_{rc}" for _, rc in common], "_k_slot"
    )


def _condense(
    joined: DataFrame,
    groups: dict[str, tuple[Sequence[str], Sequence[str]]],
    select_cols: Sequence[str],
    order_by: Sequence[str],
) -> DataFrame:
    """noDuplicates -> collapse -> rename as one grouped Arrow kernel per
    job, the reference's one iterator chain (sql/Report.groovy:94-170):
    stable-sort the job's rows by ``order_by`` (ascending, nulls first),
    run :func:`no_duplicates_rows` then :func:`collapse_rows`, and emit
    ``select_cols`` (each shown by some group) under their aliased
    headers, all nullable: carry-over rows are mostly null. Rows tying
    on ``order_by`` differ only in hidden duplicate-key columns, so their
    order does not change the output."""
    keys = [c for key, _ in groups.values() for c in key]
    headers = [_alias_header(c) for c in select_cols]
    schema = StructType([StructField(h, joined.schema[c].dataType, True)
                         for c, h in zip(select_cols, headers)])

    def kernel(tbl: pa.Table) -> pa.Table:
        tbl = tbl.take(pc.sort_indices(
            tbl, [(c, "ascending") for c in order_by],
            null_placement="at_start"))
        kept = [{c: fresh.get(c) for c in select_cols}
                for fresh in no_duplicates_rows(tbl.to_pylist(), groups)]
        out = collapse_rows(kept, select_cols, report_can_collapse,
                            report_merge)
        return pa.Table.from_arrays(
            [pa.array([r[c] for r in out], type=tbl.schema.field(c).type)
             for c in select_cols], names=headers)

    needed = dict.fromkeys(["job_id", *order_by, *select_cols, *keys])
    return joined.select(*needed).groupBy("job_id").applyInArrow(
        kernel, schema=schema)


def phenotype_drug_recommendation_report(
    stages: dict[str, DataFrame], ref: ReferenceTables, job_id: int
) -> DataFrame:
    """util/pipeline/Report.groovy:54-114 — how each phenotype-based drug
    recommendation was called, from recommendation back to causal
    variants, condensed."""
    chain = _recommendation_head(
        stages["phenotypeDrugRecommendation"], ref, job_id
    )
    chain = left_join_prefixed(
        chain, ref.gene_phenotype_drug_recommendation,
        [("drug_recommendation_id", "drug_recommendation_id")], "gpdr",
        ["gene_name", "phenotype_name"],
    )
    chain = left_join_prefixed(
        chain, stages["genePhenotype"],
        [("job_id", "job_id"), ("patient_id", "patient_id"),
         ("gpdr__gene_name", "gene_name"),
         ("gpdr__phenotype_name", "phenotype_name"),
         ("het_combo", "het_combo")],
        "jpgp", ["gene_name", "phenotype_name"],
    )
    chain = left_join_prefixed(
        chain, ref.genotype_phenotype,
        [("gpdr__gene_name", "gene_name"),
         ("gpdr__phenotype_name", "phenotype_name")],
        "gp", ["haplotype_name1", "haplotype_name2"],
    )
    chain = left_join_prefixed(
        chain, stages["genotype"],
        [("job_id", "job_id"), ("patient_id", "patient_id"),
         ("gp__haplotype_name1", "haplotype_name1"),
         ("gp__haplotype_name2", "haplotype_name2"),
         ("het_combo", "het_combo")],
        "jpg", ["gene_name", "haplotype_name1", "haplotype_name2"],
    )
    return _report_tail(chain, stages, ref,
                        mid_select=[
                            "jpgp__gene_name", "jpgp__phenotype_name",
                            "jpg__haplotype_name1", "jpg__haplotype_name2",
                        ],
                        mid_dedup={
                            "jpgp": (
                                ["job_id", "patient_id", "jpgp__gene_name",
                                 "jpgp__phenotype_name", "het_combo",
                                 "drug_recommendation_id"],
                                ["jpgp__gene_name", "jpgp__phenotype_name"],
                            ),
                            "jpg": (
                                ["job_id", "patient_id", "jpg__gene_name",
                                 "jpg__haplotype_name1",
                                 "jpg__haplotype_name2", "het_combo",
                                 "drug_recommendation_id"],
                                ["jpg__haplotype_name1",
                                 "jpg__haplotype_name2"],
                            ),
                        })


def genotype_drug_recommendation_report(
    stages: dict[str, DataFrame], ref: ReferenceTables, job_id: int
) -> DataFrame:
    """util/pipeline/Report.groovy:119-176 — genotype-based variant of
    the condensed recommendation report."""
    chain = _recommendation_head(
        stages["genotypeDrugRecommendation"], ref, job_id
    )
    chain = left_join_prefixed(
        chain, ref.genotype_drug_recommendation,
        [("drug_recommendation_id", "drug_recommendation_id")], "gdr",
        ["gene_name", "haplotype_name1", "haplotype_name2"],
    )
    chain = left_join_prefixed(
        chain, stages["genotype"],
        [("job_id", "job_id"), ("patient_id", "patient_id"),
         ("gdr__haplotype_name1", "haplotype_name1"),
         ("gdr__haplotype_name2", "haplotype_name2"),
         ("het_combo", "het_combo")],
        "jpg", ["gene_name", "haplotype_name1", "haplotype_name2"],
    )
    return _report_tail(chain, stages, ref,
                        mid_select=[
                            "jpg__gene_name", "jpg__haplotype_name1",
                            "jpg__haplotype_name2",
                        ],
                        mid_dedup={
                            "jpg": (
                                ["job_id", "patient_id", "jpg__gene_name",
                                 "jpg__haplotype_name1",
                                 "jpg__haplotype_name2", "het_combo",
                                 "drug_recommendation_id"],
                                ["jpg__gene_name", "jpg__haplotype_name1",
                                 "jpg__haplotype_name2"],
                            ),
                        })


def _recommendation_head(
    recommendations: DataFrame, ref: ReferenceTables, job_id: int
) -> DataFrame:
    """Shared head of both reports: the job's drug-recommendation stage
    rows LEFT-joined to drug_recommendation (null drug and text when the
    reference has no such table)."""
    chain = recommendations.filter(F.col("job_id") == job_id).select(
        "job_id", "patient_id", "het_combo", "het_combos",
        "drug_recommendation_id",
    )
    if ref.drug_recommendation is None:
        return chain.withColumns({
            "dr__drug_name": F.lit(None).cast("string"),
            "dr__recommendation": F.lit(None).cast("string"),
        })
    return left_join_prefixed(
        chain, ref.drug_recommendation, [("drug_recommendation_id", "id")],
        "dr", ["drug_name", "recommendation"],
    )


def _report_tail(
    chain: DataFrame,
    stages: dict[str, DataFrame],
    ref: ReferenceTables,
    mid_select: Sequence[str],
    mid_dedup: dict[str, tuple[Sequence[str], Sequence[str]]],
) -> DataFrame:
    """Shared tail of both reports: geneHaplotype OR-join -> ghv ->
    variant, then the condensed post-processing. The report's own
    columns (``mid_select``, deduplicated by ``mid_dedup``) are reported
    and sorted between the shared head's (:func:`_recommendation_head`)
    and the tail's."""
    chain = or_slot_join(
        chain, stages["geneHaplotype"],
        common=[("job_id", "job_id"), ("patient_id", "patient_id"),
                ("jpg__gene_name", "gene_name"), ("het_combo", "het_combo")],
        slot_cols=("jpg__haplotype_name1", "jpg__haplotype_name2"),
        right_match_col="haplotype_name",
        prefix="jpgh",
        carry=["job_id", "patient_id", "gene_name", "haplotype_name"],
    )
    chain = left_join_prefixed(
        chain, ref.gene_haplotype_variant,
        [("jpgh__gene_name", "gene_name"),
         ("jpgh__haplotype_name", "haplotype_name")],
        "ghv", ["snp_id", "allele"],
    )
    chain = left_join_prefixed(
        chain, stages["variant"],
        [("job_id", "job_id"), ("patient_id", "patient_id"),
         ("ghv__snp_id", "snp_id"), ("ghv__allele", "allele")],
        "jpv", ["job_id", "patient_id", "snp_id", "allele"],
    )
    groups = {
        "jpdr": (
            ["patient_id", "drug_recommendation_id", "het_combo"],
            ["patient_id", "drug_recommendation_id", "het_combo",
             "het_combos"],
        ),
        "dr": (
            ["drug_recommendation_id", "patient_id"],
            ["dr__drug_name", "dr__recommendation"],
        ),
        **mid_dedup,
        "jpgh": (
            ["jpgh__job_id", "jpgh__patient_id", "jpgh__gene_name",
             "jpgh__haplotype_name"],
            ["jpgh__haplotype_name"],
        ),
        "jpv": (
            ["jpv__job_id", "jpv__patient_id", "jpgh__gene_name",
             "jpgh__haplotype_name", "jpv__allele", "jpv__snp_id"],
            ["jpv__snp_id", "jpv__allele"],
        ),
    }
    select_cols = [
        "patient_id", "drug_recommendation_id", "het_combo", "het_combos",
        "dr__drug_name", "dr__recommendation", *mid_select,
        "jpgh__haplotype_name", "jpv__snp_id", "jpv__allele",
    ]
    order_by = [
        "patient_id", "drug_recommendation_id", "het_combo", *mid_select,
        "jpgh__haplotype_name", "jpv__snp_id", "jpv__allele",
    ]
    return _condense(chain, groups, select_cols, order_by)


# ------------------------------------------------------------ U3: matrix


def novel_haplotype_report(
    stages: dict[str, DataFrame],
    ref: ReferenceTables,
    job_id: int,
    gene_name: str,
) -> DataFrame:
    """GeneHaplotypeMatrix.novelHaplotypeMatrix (GeneHaplotypeMatrix.
    groovy:45-56) + matrix iteration (:163-191): the gene's known
    haplotypes stacked above the job's novel patient chromosomes, one
    column per gene SNP, blank cells null.

    Output: (row_type, haplotype_name, patient_id, physical_chromosome,
    het_combo, het_combos, <snp columns in snp_id order>).
    """
    ghv = ref.gene_haplotype_variant.filter(F.col("gene_name") == gene_name)
    snp_ids = [
        r.snp_id
        for r in ghv.select("snp_id").distinct().orderBy("snp_id").collect()
    ]
    known = (
        ghv.groupBy("haplotype_name")
        .pivot("snp_id", snp_ids)
        .agg(F.first("allele"))
        .select(
            F.lit("haplotype").alias("row_type"),
            F.col("haplotype_name"),
            F.lit(None).cast("string").alias("patient_id"),
            F.lit(None).cast("string").alias("physical_chromosome"),
            F.lit(None).cast("int").alias("het_combo"),
            F.lit(None).cast("int").alias("het_combos"),
            *snp_ids,
        )
    )
    novel = (
        stages["novelHaplotype"]
        .filter((F.col("job_id") == job_id)
                & (F.col("gene_name") == gene_name))
        .select("job_id", "patient_id", "physical_chromosome", "het_combo",
                "het_combos")
    )
    pv = novel.join(
        stages["variant"].select(
            "job_id", "patient_id", "physical_chromosome", "snp_id", "allele"
        ),
        on=["job_id", "patient_id", "physical_chromosome"],
    )
    novel_rows = (
        pv.groupBy("patient_id", "physical_chromosome", "het_combo",
                   "het_combos")
        .pivot("snp_id", snp_ids)
        .agg(F.first("allele"))
        .select(
            F.lit("novel").alias("row_type"),
            F.lit(None).cast("string").alias("haplotype_name"),
            F.col("patient_id"),
            F.col("physical_chromosome"),
            F.col("het_combo"),
            F.col("het_combos"),
            *snp_ids,
        )
    )
    return known.unionByName(novel_rows).orderBy(
        F.col("row_type"), F.col("haplotype_name"), F.col("patient_id"),
        F.col("physical_chromosome"), F.col("het_combo"),
    )
