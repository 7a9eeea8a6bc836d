"""End-to-end pipeline golden tests.

Expectations are the reference's PipelineTest golden rows
(/root/reference/test/groovy/haplorec/test/util/pipeline/PipelineTest.groovy),
compared over the same ``columnsToCheck`` projections (:41-50).
"""

from __future__ import annotations

import pytest

from haplorec_spark.pipeline import Pipeline
from tests.conftest import rows
from tests.fixtures import AMBIGUOUS_GHV, GENOTYPE_PHENOTYPE, GPDR, make_ref

CHECK = {
    "phenotypeDrugRecommendation": ["job_id", "patient_id", "drug_recommendation_id"],
    "genotypeDrugRecommendation": ["job_id", "patient_id", "drug_recommendation_id"],
    "geneHaplotype": ["job_id", "patient_id", "gene_name", "haplotype_name"],
    "genotype": ["job_id", "patient_id", "gene_name", "haplotype_name1", "haplotype_name2"],
    "genePhenotype": ["job_id", "patient_id", "gene_name", "phenotype_name"],
    "variant": ["job_id", "patient_id", "physical_chromosome", "snp_id", "allele", "zygosity"],
    "hetVariant": ["job_id", "patient_id", "physical_chromosome", "het_combo", "het_combos", "snp_id", "allele"],
    "novelHaplotype": ["job_id", "patient_id", "gene_name", "physical_chromosome"],
}


def check(out, stage, expected):
    got = rows(out[stage], *CHECK[stage])
    assert got == sorted(tuple(e) for e in expected), stage


# -- testDrugRecommendationsUnambiguous (PipelineTest.groovy:260-358) -------

@pytest.fixture(scope="module")
def unambiguous_ref(spark):
    return make_ref(
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
    )


def test_unambiguous(spark, unambiguous_ref):
    pipe = Pipeline(spark, unambiguous_ref)
    out = pipe.run_job(variants=[
        ("patient1", "A", "rs1", "A", "hom"),
        ("patient1", "A", "rs2", "G", "hom"),
        ("patient1", "B", "rs1", "A", "hom"),
        ("patient1", "B", "rs2", "G", "hom"),
    ])
    check(out, "geneHaplotype", [
        (1, "patient1", "g1", "*1"), (1, "patient1", "g1", "*1"),
    ])
    check(out, "genotype", [(1, "patient1", "g1", "*1", "*1")])
    check(out, "genePhenotype", [(1, "patient1", "g1", "homozygote normal")])
    check(out, "phenotypeDrugRecommendation", [(1, "patient1", 1)])


def test_unambiguous_second_job_two_patients(spark, unambiguous_ref):
    pipe = Pipeline(spark, unambiguous_ref)
    base = [
        ("A", "rs1", "A", "hom"), ("A", "rs2", "G", "hom"),
        ("B", "rs1", "A", "hom"), ("B", "rs2", "G", "hom"),
    ]
    out = pipe.run_job(
        job_id=2,
        variants=[("patient1", *v) for v in base]
        + [("patient2", *v) for v in base],
    )
    check(out, "genotype", [
        (2, "patient1", "g1", "*1", "*1"),
        (2, "patient2", "g1", "*1", "*1"),
    ])
    check(out, "phenotypeDrugRecommendation", [
        (2, "patient1", 1), (2, "patient2", 1),
    ])


def test_matrices_broadcast_once_on_first_job(spark, unambiguous_ref):
    pipe = Pipeline(spark, unambiguous_ref)
    assert pipe._matrices is None
    variants = [("patient1", "A", "rs1", "A", "hom")]
    pipe.run_job(variants=variants)
    first = pipe._matrices
    assert first is not None
    pipe.run_job(variants=variants)
    assert pipe._matrices is first


# -- testDrugRecommendationsAmbiguous (PipelineTest.groovy:80-210) ----------

def test_ambiguous_hets(spark):
    ref = make_ref(
        spark,
        ghv=AMBIGUOUS_GHV,
        genotype_phenotype=GENOTYPE_PHENOTYPE,
        gene_phenotype_drug_recommendation=GPDR,
    )
    pipe = Pipeline(spark, ref)
    out = pipe.run_job(variants=[
        ("patient1", "A", "rs1", "A", "hom"),
        ("patient1", "B", "rs1", "A", "hom"),
        ("patient1", "A", "rs2", "G", "hom"),
        ("patient1", "B", "rs2", "G", "hom"),
        ("patient2", "A", "rs1", "A", "het"),
        ("patient2", "B", "rs1", "G", "het"),
        ("patient2", "A", "rs2", "G", "hom"),
        ("patient2", "B", "rs2", "G", "hom"),
        ("patient3", "A", "rs1", "A", "het"),
        ("patient3", "B", "rs1", "G", "het"),
        ("patient3", "A", "rs2", "A", "het"),
        ("patient3", "B", "rs2", "G", "het"),
    ])
    check(out, "hetVariant", [
        (1, "patient2", "A", 1, 1, "rs1", "A"),
        (1, "patient2", "B", 1, 1, "rs1", "G"),
        (1, "patient3", "A", 1, 2, "rs1", "A"),
        (1, "patient3", "A", 1, 2, "rs2", "A"),
        (1, "patient3", "B", 1, 2, "rs1", "G"),
        (1, "patient3", "B", 1, 2, "rs2", "G"),
        (1, "patient3", "A", 2, 2, "rs1", "A"),
        (1, "patient3", "A", 2, 2, "rs2", "G"),
        (1, "patient3", "B", 2, 2, "rs1", "G"),
        (1, "patient3", "B", 2, 2, "rs2", "A"),
    ])
    check(out, "geneHaplotype", [
        (1, "patient1", "g1", "*1"), (1, "patient1", "g1", "*1"),
        (1, "patient2", "g1", "*1"), (1, "patient2", "g1", "*3"),
        (1, "patient3", "g1", "*3"), (1, "patient3", "g1", "*5"),
        (1, "patient3", "g1", "*1"), (1, "patient3", "g1", "*4"),
    ])
    check(out, "genotype", [
        (1, "patient1", "g1", "*1", "*1"),
        (1, "patient2", "g1", "*1", "*3"),
        (1, "patient3", "g1", "*3", "*5"),
        (1, "patient3", "g1", "*1", "*4"),
    ])
    check(out, "genePhenotype", [
        (1, "patient1", "g1", "homozygote normal"),
        (1, "patient2", "g1", "heterozygote"),
    ])
    check(out, "phenotypeDrugRecommendation", [
        (1, "patient1", 1), (1, "patient2", 2),
    ])


# -- strict subset / novel haplotype cases (PipelineTest.groovy:505-918) ----

def run_simple(spark, ghv, variants):
    ref = make_ref(spark, ghv=ghv)
    return Pipeline(spark, ref).run_job(variants=variants)


def test_strict_subset_unambiguous(spark):
    out = run_simple(
        spark,
        [("g1", "*1", "rs1", "A"), ("g1", "*1", "rs2", "G")],
        [("patient1", "A", "rs1", "A", "hom"),
         ("patient1", "B", "rs1", "A", "hom")],
    )
    check(out, "geneHaplotype", [
        (1, "patient1", "g1", "*1"), (1, "patient1", "g1", "*1"),
    ])


def test_strict_subset_unambiguous_plus_unrelated_snp(spark):
    out = run_simple(
        spark,
        [("g1", "*1", "rs1", "A"), ("g1", "*1", "rs2", "G")],
        [("patient1", "A", "rs1", "A", "hom"),
         ("patient1", "B", "rs1", "A", "hom"),
         ("patient1", "A", "rs3", "A", "hom"),
         ("patient1", "B", "rs3", "A", "hom")],
    )
    check(out, "geneHaplotype", [
        (1, "patient1", "g1", "*1"), (1, "patient1", "g1", "*1"),
    ])


def test_novel_haplotype_unknown_allele(spark):
    out = run_simple(
        spark,
        [("g1", "*1", "rs1", "A"), ("g1", "*1", "rs2", "G")],
        [("patient1", "A", "rs1", "A", "hom"),
         ("patient1", "B", "rs1", "A", "hom"),
         ("patient1", "A", "rs2", "T", "hom"),
         ("patient1", "B", "rs2", "T", "hom")],
    )
    check(out, "geneHaplotype", [])
    check(out, "novelHaplotype", [
        (1, "patient1", "g1", "A"), (1, "patient1", "g1", "B"),
    ])


SIX_ROW_GHV = [
    ("g1", "*1", "rs1", "A"), ("g1", "*1", "rs2", "G"), ("g1", "*1", "rs3", "C"),
    ("g1", "*2", "rs1", "T"), ("g1", "*2", "rs2", "C"), ("g1", "*2", "rs3", "C"),
]


def test_novel_haplotype_existing_variants_unseen_combination(spark):
    out = run_simple(
        spark, SIX_ROW_GHV,
        [("patient1", "A", "rs1", "T", "hom"),
         ("patient1", "B", "rs1", "T", "hom"),
         ("patient1", "A", "rs2", "G", "hom"),
         ("patient1", "B", "rs2", "G", "hom"),
         ("patient1", "A", "rs3", "C", "hom"),
         ("patient1", "B", "rs3", "C", "hom")],
    )
    check(out, "geneHaplotype", [])
    check(out, "novelHaplotype", [
        (1, "patient1", "g1", "A"), (1, "patient1", "g1", "B"),
    ])


def test_novel_haplotype_incomplete_existing_variants(spark):
    out = run_simple(
        spark, SIX_ROW_GHV,
        [("patient1", "A", "rs1", "T", "hom"),
         ("patient1", "B", "rs1", "T", "hom"),
         ("patient1", "A", "rs2", "G", "hom"),
         ("patient1", "B", "rs2", "G", "hom")],
    )
    check(out, "geneHaplotype", [])
    check(out, "novelHaplotype", [
        (1, "patient1", "g1", "A"), (1, "patient1", "g1", "B"),
    ])


def test_no_novel_when_ambiguous_subset(spark):
    out = run_simple(
        spark, SIX_ROW_GHV,
        [("patient1", "A", "rs3", "C", "hom"),
         ("patient1", "B", "rs3", "C", "hom")],
    )
    check(out, "geneHaplotype", [])
    check(out, "novelHaplotype", [])


def test_no_novel_for_empty_allele_rows(spark):
    out = run_simple(
        spark, SIX_ROW_GHV,
        [("patient1", None, "rs1", None, None),
         ("patient1", None, "rs1", None, None)],
    )
    check(out, "geneHaplotype", [])
    check(out, "novelHaplotype", [])


# -- seeded-stage runs (PipelineTest.groovy:610-746) ------------------------

def test_genotype_seed_subset_ignored(spark):
    ref = make_ref(
        spark, ghv=[],
        genotype_drug_recommendation=[
            ("g1", "*1", "*1", 1), ("g2", "*1", "*2", 1),
            ("g3", "*3", "*4", 1), ("g4", "*1", "*1", 1),
        ],
    )
    out = Pipeline(spark, ref).run_job(genotypes=[
        ("patient1", "g1", "*1", "*1"),
        ("patient1", "g2", "*1", "*2"),
        ("patient1", "g3", "*3", "*4"),
    ])
    check(out, "genotypeDrugRecommendation", [])


def test_genotype_seed_superset_matches(spark):
    ref = make_ref(
        spark, ghv=[],
        genotype_drug_recommendation=[
            ("g1", "*1", "*1", 1), ("g2", "*1", "*2", 1),
            ("g3", "*3", "*4", 1), ("g4", "*1", "*1", 1),
        ],
    )
    out = Pipeline(spark, ref).run_job(genotypes=[
        ("patient1", "g1", "*1", "*1"),
        ("patient1", "g2", "*1", "*2"),
        ("patient1", "g3", "*3", "*4"),
        ("patient1", "g4", "*1", "*1"),
        ("patient1", "g5", "*1", "*1"),
    ])
    check(out, "genotypeDrugRecommendation", [(1, "patient1", 1)])


def test_gene_phenotype_seed_subset_and_superset(spark):
    gpdr = [
        ("g1", "homozygote normal", 1),
        ("g2", "homozygote", 1),
        ("g3", "heterozygote", 1),
    ]
    ref = make_ref(spark, ghv=[], gene_phenotype_drug_recommendation=gpdr)
    out = Pipeline(spark, ref).run_job(genePhenotypes=[
        ("patient1", "g1", "homozygote normal"),
        ("patient1", "g2", "homozygote"),
    ])
    check(out, "phenotypeDrugRecommendation", [])
    out = Pipeline(spark, ref).run_job(genePhenotypes=[
        ("patient1", "g1", "homozygote normal"),
        ("patient1", "g2", "homozygote"),
        ("patient1", "g3", "heterozygote"),
    ])
    check(out, "phenotypeDrugRecommendation", [(1, "patient1", 1)])


# -- duplicate recommendations via both paths (PipelineTest.groovy:362-420) -

def test_duplicate_drug_recommendation_paths(spark):
    ref = make_ref(
        spark,
        ghv=[("g1", "*1", "rs1", "A")],
        genotype_phenotype=[
            ("g1", "*1", "*1", "homozygote normal"),
            ("g1", "*1", "*2", "heterozygote"),
            ("g1", "*2", "*2", "nonfunctional"),
        ],
        gene_phenotype_drug_recommendation=GPDR,
        genotype_drug_recommendation=[("g1", "*1", "*1", 1)],
    )
    out = Pipeline(spark, ref).run_job(variants=[
        ("patient1", "A", "rs1", "A", "hom"),
        ("patient1", "B", "rs1", "A", "hom"),
    ])
    check(out, "geneHaplotype", [
        (1, "patient1", "g1", "*1"), (1, "patient1", "g1", "*1"),
    ])
    check(out, "genotype", [(1, "patient1", "g1", "*1", "*1")])
    check(out, "genePhenotype", [(1, "patient1", "g1", "homozygote normal")])
    check(out, "genotypeDrugRecommendation", [(1, "patient1", 1)])
    check(out, "phenotypeDrugRecommendation", [(1, "patient1", 1)])


# -- a SNP listed under two genes' haplotypes --------------------------------

def test_het_snp_shared_by_two_genes(spark):
    # gene_snp joins variants on snp_id only, so rs1's het calls feed the
    # het kernel and the haplotype calls of both g1 and g2.
    ref = make_ref(
        spark,
        ghv=[
            ("g1", "*1", "rs1", "A"), ("g1", "*1", "rs2", "G"),
            ("g1", "*2", "rs1", "G"), ("g1", "*2", "rs2", "G"),
            ("g2", "*1", "rs1", "A"), ("g2", "*1", "rs3", "C"),
            ("g2", "*2", "rs1", "G"), ("g2", "*2", "rs3", "C"),
        ],
    )
    out = Pipeline(spark, ref).run_job(variants=[
        ("patient1", "A", "rs1", "A", "het"),
        ("patient1", "B", "rs1", "G", "het"),
        ("patient1", "A", "rs2", "G", "hom"),
        ("patient1", "B", "rs2", "G", "hom"),
        ("patient1", "A", "rs3", "C", "hom"),
        ("patient1", "B", "rs3", "C", "hom"),
    ])
    check(out, "hetVariant", [
        (1, "patient1", "A", 1, 1, "rs1", "A"),
        (1, "patient1", "A", 1, 1, "rs1", "A"),
        (1, "patient1", "B", 1, 1, "rs1", "G"),
        (1, "patient1", "B", 1, 1, "rs1", "G"),
    ])
    check(out, "geneHaplotype", [
        (1, "patient1", "g1", "*1"), (1, "patient1", "g1", "*2"),
        (1, "patient1", "g2", "*1"), (1, "patient1", "g2", "*2"),
    ])
    check(out, "novelHaplotype", [])
    check(out, "genotype", [
        (1, "patient1", "g1", "*1", "*2"),
        (1, "patient1", "g2", "*1", "*2"),
    ])


# -- materialize: per-job partition overwrite --------------------------------

def test_materialize_keeps_session_conf_and_other_jobs(
    spark, unambiguous_ref, tmp_path
):
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        pipe = Pipeline(spark, unambiguous_ref)
        wh = str(tmp_path / "wh")
        base = [
            ("A", "rs1", "A", "hom"), ("A", "rs2", "G", "hom"),
            ("B", "rs1", "A", "hom"), ("B", "rs2", "G", "hom"),
        ]
        for job_id, patient in ((1, "patient1"), (2, "patient2")):
            out = pipe.run_job(
                job_id=job_id, variants=[(patient, *v) for v in base]
            )
            pipe.materialize(out, wh)
            assert spark.conf.get(key) == "static"
        genotype = spark.read.parquet(f"{wh}/job_patient_genotype")
        assert rows(genotype, "job_id", "patient_id", "gene_name") == [
            (1, "patient1", "g1"), (2, "patient2", "g1"),
        ]
    finally:
        spark.conf.set(key, prev)
