"""Condensed-report and novel-haplotype-matrix tests.

Drives the full pipeline on the PipelineTest unambiguous fixture, then
checks the phenotype/genotype drug-recommendation reports condense as
the reference's report layer does (noDuplicates + collapse + aliasing)
and the novel matrix stacks known haplotypes above patient chromosomes
(ReportTest.groovy / GeneHaplotypeMatrix.groovy:163-191).
"""

from __future__ import annotations

import pytest

from haplorec_spark import schema as sch
from haplorec_spark.pipeline import Pipeline
from haplorec_spark.report import (
    genotype_drug_recommendation_report,
    novel_haplotype_report,
    or_slot_join,
    phenotype_drug_recommendation_report,
)
from tests.conftest import plan, rows
from tests.fixtures import GPDR, make_ref


@pytest.fixture(scope="module")
def ref(spark):
    r = make_ref(
        spark,
        ghv=[
            ("g1", "*1", "rs1", "A"), ("g1", "*1", "rs2", "G"),
            ("g1", "*2", "rs3", "C"), ("g1", "*2", "rs4", "T"),
        ],
        genotype_phenotype=[
            ("g1", "*1", "*1", "homozygote normal"),
            ("g1", "*1", "*2", "heterozygote"),
            ("g1", "*2", "*2", "nonfunctional"),
        ],
        gene_phenotype_drug_recommendation=GPDR,
        genotype_drug_recommendation=[("g1", "*1", "*1", 1)],
    )
    r.drug_recommendation = spark.createDataFrame(
        [(1, "drugA", None, "take it easy", None, None),
         (2, "drugA", None, "take less", None, None),
         (3, "drugA", None, "stop", None, None)],
        sch.DRUG_RECOMMENDATION,
    )
    return r


@pytest.fixture(scope="module")
def out(spark, ref):
    pipe = Pipeline(spark, ref)
    return pipe.run_job(variants=[
        ("patient1", "A", "rs1", "A", "hom"),
        ("patient1", "A", "rs2", "G", "hom"),
        ("patient1", "B", "rs1", "A", "hom"),
        ("patient1", "B", "rs2", "G", "hom"),
    ])


def test_phenotype_report_condensed(spark, ref, out):
    rep = phenotype_drug_recommendation_report(out, ref, job_id=1)
    assert rep.columns == [
        "SAMPLE_ID", "DRUG_RECOMMENDATION_ID", "HET_COMBO", "#HET_COMBOS",
        "DRUG", "RECOMMENDATION", "GENE", "PHENOTYPE", "HAPLOTYPE1",
        "HAPLOTYPE2", "HAPLOTYPE", "RS#", "ALLELE",
    ]
    got = [tuple(r) for r in rep.collect()]
    # patient1 *1/*1 -> homozygote normal -> rec 1; two haplotype calls
    # (chromosomes A and B) but HAPLOTYPE deduped to one *1; four causal
    # variant rows dedup to (rs1, A), (rs2, G); everything condenses into
    # a first full row plus one carry-over variant row.
    assert got == [
        ("patient1", 1, 1, 1, "drugA", "take it easy", "g1",
         "homozygote normal", "*1", "*1", "*1", "rs1", "A"),
        (None, None, None, None, None, None, None, None, None, None,
         None, "rs2", "G"),
    ]


def test_genotype_report_condensed(spark, ref, out):
    rep = genotype_drug_recommendation_report(out, ref, job_id=1)
    assert rep.columns == [
        "SAMPLE_ID", "DRUG_RECOMMENDATION_ID", "HET_COMBO", "#HET_COMBOS",
        "DRUG", "RECOMMENDATION", "GENE", "HAPLOTYPE1", "HAPLOTYPE2",
        "HAPLOTYPE", "RS#", "ALLELE",
    ]
    got = [tuple(r) for r in rep.collect()]
    assert got == [
        ("patient1", 1, 1, 1, "drugA", "take it easy", "g1", "*1", "*1",
         "*1", "rs1", "A"),
        (None, None, None, None, None, None, None, None, None, None,
         "rs2", "G"),
    ]


@pytest.mark.parametrize("report", [
    phenotype_drug_recommendation_report,
    genotype_drug_recommendation_report,
])
def test_report_plan_has_no_nested_loop_join(spark, ref, out, report):
    # The geneHaplotype OR-join carries four equi-keys beside the OR, so
    # it must plan as a hash or sort-merge join with the OR as a
    # residual condition, never a nested loop or a cartesian product.
    rep = report(out, ref, job_id=1)
    rep.collect()
    p = plan(rep)
    assert "HashJoin" in p or "SortMergeJoin" in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_or_slot_join_sql_or_semantics(spark):
    # LEFT JOIN ... ON job, patient, gene, het_combo equal AND
    # (hap1 = hap OR hap2 = hap): one output row per matching right row,
    # one null-import row per chain row without a match.
    chain = spark.createDataFrame([
        (1, "p1", "g", 1, "*1", "*2"),  # slot 1 matches only
        (1, "p2", "g", 1, "*9", "*2"),  # slot 2 matches only
        (1, "p3", "g", 1, "*1", "*1"),  # hap1 = hap2: one match, once
        (1, "p4", "g", 1, "*1", "*2"),  # two right rows match
        (1, "p5", "g", 1, "*7", "*8"),  # no match
        (1, "p6", None, 1, "*1", "*2"),  # null common key
        # slot 1 null, slot 2 matches: null OR true is a match. The
        # reports never send this (a genotype row has both slots or none).
        (1, "p7", "g", 1, None, "*2"),
    ],"job_id int, patient_id string, gene string, het_combo int, "
       "h1 string, h2 string")
    right = spark.createDataFrame([
        (1, "p1", "g", 1, "*1", "a"),
        (1, "p1", "g", 2, "*2", "wrong combo"),
        (1, "p2", "g", 1, "*2", "b"),
        (1, "p3", "g", 1, "*1", "c"),
        (1, "p4", "g", 1, "*1", "d1"),
        (1, "p4", "g", 1, "*2", "d2"),
        (1, "p5", "g", 1, "*1", "e"),
        (1, "p6", None, 1, "*1", "null gene"),
        (1, "p6", "g", 1, "*1", "other gene"),
        (1, "p7", "g", 1, "*2", "g"),
    ], "job_id int, patient_id string, gene_name string, het_combo int, "
       "haplotype_name string, tag string")
    out = or_slot_join(
        chain, right,
        common=[("job_id", "job_id"), ("patient_id", "patient_id"),
                ("gene", "gene_name"), ("het_combo", "het_combo")],
        slot_cols=("h1", "h2"),
        right_match_col="haplotype_name",
        prefix="r",
        carry=["haplotype_name", "tag"],
    )
    assert out.columns == [*chain.columns, "r__haplotype_name", "r__tag"]
    assert rows(out, "patient_id", "r__haplotype_name", "r__tag") == [
        ("p1", "*1", "a"),
        ("p2", "*2", "b"),
        ("p3", "*1", "c"),
        ("p4", "*1", "d1"),
        ("p4", "*2", "d2"),
        ("p5", None, None),
        ("p6", None, None),
        ("p7", "*2", "g"),
    ]


def test_novel_haplotype_report(spark, ref):
    pipe = Pipeline(spark, ref)
    # rs1=T is an allele no known haplotype carries -> novel chromosomes.
    out = pipe.run_job(job_id=7, variants=[
        ("p1", "A", "rs1", "T", "hom"),
        ("p1", "A", "rs2", "G", "hom"),
        ("p1", "B", "rs1", "T", "hom"),
        ("p1", "B", "rs2", "G", "hom"),
    ])
    mat = novel_haplotype_report(out, ref, job_id=7, gene_name="g1")
    assert mat.columns == [
        "row_type", "haplotype_name", "patient_id", "physical_chromosome",
        "het_combo", "het_combos", "rs1", "rs2", "rs3", "rs4",
    ]
    got = [tuple(r) for r in mat.collect()]
    assert got == [
        ("haplotype", "*1", None, None, None, None, "A", "G", None, None),
        ("haplotype", "*2", None, None, None, None, None, None, "C", "T"),
        ("novel", None, "p1", "A", 1, 1, "T", "G", None, None),
        ("novel", None, "p1", "B", 1, 1, "T", "G", None, None),
    ]
