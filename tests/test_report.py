"""Condensed-report and novel-haplotype-matrix tests.

Drives the full pipeline on the PipelineTest unambiguous fixture, then
checks the phenotype/genotype drug-recommendation reports condense as
the reference's report layer does (noDuplicates + collapse + aliasing)
and the novel matrix stacks known haplotypes above patient chromosomes
(ReportTest.groovy / GeneHaplotypeMatrix.groovy:163-191).
"""

from __future__ import annotations

import pytest
from pyspark.sql.types import LongType, StringType, StructField, StructType

from haplorec_spark import schema as sch
from haplorec_spark.pipeline import Pipeline
from haplorec_spark.operators.rows import (
    collapse_rows,
    no_duplicates_rows,
    report_can_collapse,
    report_merge,
)
from haplorec_spark.report import (
    _condense,
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


@pytest.mark.parametrize("report", [
    phenotype_drug_recommendation_report,
    genotype_drug_recommendation_report,
])
def test_report_plan_condenses_in_one_kernel(spark, ref, out, report):
    # noDuplicates and collapse run in one grouped Arrow kernel per job,
    # with no dedup window.
    rep = report(out, ref, job_id=1)
    rep.collect()
    # the final physical plan, not the formatted explain, which also
    # prints the initial plan of every adaptive query
    final = rep._jdf.queryExecution().executedPlan().executedPlan()
    p = final.toString()
    assert "Window" not in p
    assert p.count("FlatMapGroupsInArrow") == 1


def test_condense_matches_pure_kernels_per_job(spark):
    groups = {
        "p": (["patient_id"], ["patient_id", "drug"]),
        # ``drug`` is owned by two groups: shown when either is fresh
        "d": (["patient_id", "drug"], ["drug"]),
        # ``h_key`` is a hidden duplicate-key column
        "h": (["patient_id", "h_key", "hap"], ["hap"]),
        "v": (["patient_id", "hap", "snp"], ["snp"]),
    }
    select_cols = ["patient_id", "drug", "hap", "snp"]
    order_by = ["patient_id", "drug", "hap", "snp"]
    data = [
        (1, "p1", "a", 1, "*1", "rs1"),
        (1, "p1", "b", 1, "*1", "rs1"),
        # ties with the first row on every order_by column
        (1, "p1", "a", 2, "*1", "rs1"),
        (1, "p1", "a", 1, "*1", "rs3"),
        # a null drug sorts first within p1
        (1, "p1", None, 1, "*2", "rs2"),
        (1, "p2", "a", 1, "*1", "rs1"),
        # job 2 repeats job 1's keys: its dedup state starts afresh
        (2, "p1", "a", 1, "*1", "rs1"),
        (2, "p1", "a", 1, "*2", "rs2"),
    ]
    # non-nullable inputs: the kernel's outputs must still be nullable
    schema = StructType([
        StructField("job_id", LongType(), False),
        StructField("patient_id", StringType(), False),
        StructField("drug", StringType(), True),
        StructField("h_key", LongType(), False),
        StructField("hap", StringType(), False),
        StructField("snp", StringType(), False),
    ])
    got = _condense(spark.createDataFrame(data, schema), groups,
                    select_cols, order_by)
    assert got.columns == ["SAMPLE_ID", "DRUG", "HAP", "SNP"]
    assert all(f.nullable for f in got.schema.fields)

    def expected(job_id):
        recs = [dict(zip(schema.fieldNames(), r)) for r in data
                if r[0] == job_id]
        recs.sort(key=lambda r: [(r[c] is not None, r[c]) for c in order_by])
        kept = [{c: f.get(c) for c in select_cols}
                for f in no_duplicates_rows(recs, groups)]
        return [tuple(r[c] for c in select_cols) for r in collapse_rows(
            kept, select_cols, report_can_collapse, report_merge)]

    one, two = expected(1), expected(2)
    # each job's rows come out together and in order; job order is free
    assert [tuple(r) for r in got.collect()] in (one + two, two + one)


def test_release_frees_what_each_job_cached(spark, ref, tmp_path):
    # A long-lived Pipeline holds no cache per finished job. RDD ids,
    # not a count, because the ContextCleaner may free earlier tests'
    # checkpoints meanwhile.
    jsc = spark.sparkContext._jsc

    def cached():
        return set(jsc.getPersistentRDDs().keySet())

    before = cached()
    pipe = Pipeline(spark, ref)
    for job_id in (1, 2, 3):
        out = pipe.run_job(job_id=job_id, variants=[
            ("patient1", "A", "rs1", "A", "hom"),
            ("patient1", "A", "rs2", "G", "hom"),
            ("patient1", "B", "rs3", "C", "hom"),
            ("patient1", "B", "rs4", "T", "hom"),
        ])
        pipe.materialize(out, str(tmp_path / "wh"))
        phenotype_drug_recommendation_report(out, ref, job_id).collect()
        genotype_drug_recommendation_report(out, ref, job_id).collect()
        assert cached() - before
        pipe.release(job_id)
        assert cached() - before == set()


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
