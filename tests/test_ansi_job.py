"""Mode-neutrality of a whole patient job.

The engine must give the same results under spark.sql.ansi.enabled=true
(the Spark 4 default, which the test session runs with) and under
ansi=false. One job covers every stage: hom, single-combo het and
two-combo het patients, a novel haplotype and both drug-recommendation
paths, then both condensed reports.
"""

from __future__ import annotations

import pytest

from haplorec_spark import schema as sch
from haplorec_spark.pipeline import STAGE_TABLE_NAMES, Pipeline
from haplorec_spark.report import (
    genotype_drug_recommendation_report,
    phenotype_drug_recommendation_report,
)
from tests.conftest import rows
from tests.fixtures import AMBIGUOUS_GHV, GENOTYPE_PHENOTYPE, GPDR, make_ref

VARIANTS = [
    # patient1: hom *1/*1
    ("patient1", "A", "rs1", "A", "hom"),
    ("patient1", "B", "rs1", "A", "hom"),
    ("patient1", "A", "rs2", "G", "hom"),
    ("patient1", "B", "rs2", "G", "hom"),
    # patient2: one het SNP, one combo (*1/*3)
    ("patient2", "A", "rs1", "A", "het"),
    ("patient2", "B", "rs1", "G", "het"),
    ("patient2", "A", "rs2", "G", "hom"),
    ("patient2", "B", "rs2", "G", "hom"),
    # patient3: two het SNPs, two combos
    ("patient3", "A", "rs1", "A", "het"),
    ("patient3", "B", "rs1", "G", "het"),
    ("patient3", "A", "rs2", "A", "het"),
    ("patient3", "B", "rs2", "G", "het"),
    # patient4: rs1=T is on no known haplotype -> novel chromosomes
    ("patient4", "A", "rs1", "T", "hom"),
    ("patient4", "B", "rs1", "T", "hom"),
    ("patient4", "A", "rs2", "G", "hom"),
    ("patient4", "B", "rs2", "G", "hom"),
]


def _run(spark, ansi: str) -> dict[str, list]:
    spark.conf.set("spark.sql.ansi.enabled", ansi)
    ref = make_ref(
        spark,
        ghv=AMBIGUOUS_GHV,
        genotype_phenotype=GENOTYPE_PHENOTYPE,
        gene_phenotype_drug_recommendation=GPDR,
        genotype_drug_recommendation=[("g1", "*1", "*1", 4)],
    )
    ref.drug_recommendation = spark.createDataFrame(
        [(1, "drugA", None, "take it easy", None, None),
         (2, "drugA", None, "take less", None, None),
         (3, "drugA", None, "stop", None, None),
         (4, "drugB", None, "standard dose", None, None)],
        sch.DRUG_RECOMMENDATION,
    )
    out = Pipeline(spark, ref).run_job(job_id=3, variants=VARIANTS)
    got = {stage: rows(out[stage]) for stage in STAGE_TABLE_NAMES}
    # Reports are ordered output: compare them row for row, unsorted.
    for name, report in (
        ("phenotype_report", phenotype_drug_recommendation_report),
        ("genotype_report", genotype_drug_recommendation_report),
    ):
        got[name] = [tuple(r) for r in report(out, ref, job_id=3).collect()]
    return got


@pytest.fixture()
def restore_ansi(spark):
    prev = spark.conf.get("spark.sql.ansi.enabled")
    yield spark
    spark.conf.set("spark.sql.ansi.enabled", prev)


def test_job_and_reports_identical_across_ansi_modes(spark, restore_ansi):
    on = _run(spark, "true")
    off = _run(spark, "false")
    assert len(on) == len(STAGE_TABLE_NAMES) + 2
    for name, got in on.items():
        assert got, f"{name} is empty: the job does not exercise it"
        assert got == off[name], name
