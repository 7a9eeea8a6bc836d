"""Variant/DSV source tests (PipelineInput.groovy semantics).

Uses a synthetic 9-column genotyping export plus, where it exists, the
reference's real input file ``TWO_SAMPLES_FILE`` (read-only fixture; the
tests that read it skip without it).
"""

from __future__ import annotations

import os

import pytest

from haplorec_spark.sources import dsv_source, stage_source, variant_source
from tests.conftest import rows

# The reference's real genotyping export; not shipped with this repository.
TWO_SAMPLES_FILE = "/root/reference/test/in/2_samples.txt"
needs_two_samples_file = pytest.mark.skipif(
    not os.path.exists(TWO_SAMPLES_FILE),
    reason=f"reference genotyping export {TWO_SAMPLES_FILE} is absent",
)


def nrows(df):
    """None-safe sorted collect."""
    return sorted(
        (tuple(r) for r in df.collect()),
        key=lambda t: tuple("" if v is None else str(v) for v in t),
    )

EXPORT_HEADER = (
    "PLATE\tEXPERIMENT\tCHIP\tWELL_POSITION\tASSAY_ID\tGENOTYPE_ID\t"
    "DESCRIPTION\tSAMPLE_ID\tENTRY_OPERATOR"
)


def _line(snp, alleles, sample):
    return f"p\t1\t1\tN02\t{snp}\t{alleles}\tdesc\t{sample}\tauto"


@pytest.fixture(scope="module")
def export_file(tmp_path_factory):
    p = tmp_path_factory.mktemp("src") / "export.txt"
    p.write_text("\n".join([
        EXPORT_HEADER,
        _line("rs1", "A", "s1"),     # hom -> A and B
        _line("rs2", "AG", "s1"),    # het -> two null-chromosome rows
        _line("rs3", "", "s1"),      # no-call -> single all-null row
        _line("rs4", "CAT", "s2"),   # multi-char hom -> A and B
    ]) + "\n")
    return str(p)


def test_variant_source_normalization(spark, export_file):
    got = nrows(variant_source(spark, export_file))
    assert got == sorted([
        ("s1", "A", "rs1", "A", "hom"),
        ("s1", "B", "rs1", "A", "hom"),
        ("s1", None, "rs2", "A", "het"),
        ("s1", None, "rs2", "G", "het"),
        ("s1", None, "rs3", None, None),
        ("s2", "A", "rs4", "CAT", "hom"),
        ("s2", "B", "rs4", "CAT", "hom"),
    ], key=lambda t: tuple("" if v is None else str(v) for v in t))


def test_variant_source_skip_empty(spark, export_file):
    got = nrows(variant_source(spark, export_file, skip_empty_alleles=True))
    assert all(r[3] is not None for r in got)
    assert len(got) == 6


def test_headerless_input_is_data(spark, tmp_path):
    p = tmp_path / "noheader.txt"
    p.write_text(_line("rs9", "T", "s9") + "\n")
    got = nrows(variant_source(spark, str(p)))
    assert got == [
        ("s9", "A", "rs9", "T", "hom"),
        ("s9", "B", "rs9", "T", "hom"),
    ]


def test_header_echo_data_row_is_kept(spark, tmp_path):
    """First-line-of-each-file semantics (Input.groovy:95-118): only the
    first line is header-checked; a later data row that happens to echo
    the header is DATA and must not be silently dropped."""
    p = tmp_path / "echo.tsv"
    p.write_text("A\tB\na1\tb1\nA\tB\na2\tb2\n")
    got = rows(dsv_source(spark, str(p), ["A", "B"]))
    assert got == [("A", "B"), ("a1", "b1"), ("a2", "b2")]


def test_multi_file_mixed_headers(spark, tmp_path):
    """Each file's first line is checked independently; a headerless
    file contributes all its lines as data."""
    d = tmp_path / "multi"
    d.mkdir()
    (d / "one.tsv").write_text("A\tB\na1\tb1\n")
    (d / "two.tsv").write_text("a2\tb2\na3\tb3\n")
    got = rows(dsv_source(spark, str(d), ["A", "B"]))
    assert got == [("a1", "b1"), ("a2", "b2"), ("a3", "b3")]


def test_dsv_source_require_header(spark, tmp_path):
    p = tmp_path / "noheader.txt"
    p.write_text("x\ty\n")
    with pytest.raises(ValueError, match="required header"):
        dsv_source(spark, str(p), ["A", "B"], require_header=True)


def test_stage_source_gene_phenotype(spark, tmp_path):
    p = tmp_path / "gp.txt"
    p.write_text("SAMPLE_ID\tGENE\tPHENOTYPE\np1\tg1\tslow\n")
    df = stage_source(spark, "genePhenotype", str(p))
    assert df.columns == ["patient_id", "gene_name", "phenotype_name"]
    assert rows(df) == [("p1", "g1", "slow")]


@needs_two_samples_file
def test_reference_two_samples_file(spark):
    df = variant_source(spark, TWO_SAMPLES_FILE)
    got = nrows(df)
    samples = {r[0] for r in got}
    assert samples == {"1063-117507", "1064-117508"}
    # every call in the file is a single-char hom or 2-char het
    by_zyg = {}
    for r in got:
        by_zyg[r[4]] = by_zyg.get(r[4], 0) + 1
    # hom rows are duplicated onto chromosomes A and B
    hom_rows = [r for r in got if r[4] == "hom"]
    assert all(r[1] in ("A", "B") for r in hom_rows)
    assert len([r for r in hom_rows if r[1] == "A"]) == len(
        [r for r in hom_rows if r[1] == "B"]
    )
    het_rows = [r for r in got if r[4] == "het"]
    assert all(r[1] is None for r in het_rows)
    assert len(het_rows) % 2 == 0


# -- file-input -> pipeline integration (PipelineTest.groovy:218-503) -------

def _file_ref(spark):
    from tests.fixtures import GPDR, make_ref

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


@needs_two_samples_file
def test_real_variants_file_through_pipeline(spark):
    """testDrugRecommendationsRealVariants (PipelineTest.groovy:218-258):
    the real export seeds the variant stage; its chr-style SNPs match no
    gene, so downstream stages are empty but the job completes."""
    from haplorec_spark.pipeline import Pipeline

    variants = variant_source(
        spark, TWO_SAMPLES_FILE,
        skip_empty_alleles=True,
    )
    out = Pipeline(spark, _file_ref(spark)).run_job(variants=variants)
    assert out["variant"].count() == variants.count()
    assert out["geneHaplotype"].count() == 0
    assert out["phenotypeDrugRecommendation"].count() == 0


def test_input_genotypes_file(spark, tmp_path):
    """testDrugRecommendationsInputGenotypes[WithoutHeader]
    (PipelineTest.groovy:432-456): genotype stage seeded from DSV, with
    and without the header line."""
    from haplorec_spark.pipeline import Pipeline
    from tests.conftest import rows as sorted_rows

    for body in (
        "SAMPLE_ID\tGENE\tHAPLOTYPE1\tHAPLOTYPE2\npatient1\tg1\t*1\t*1\n",
        "patient1\tg1\t*1\t*1\n",
    ):
        p = tmp_path / "genotypes.tsv"
        p.write_text(body)
        seed = stage_source(spark, "genotype", str(p))
        out = Pipeline(spark, _file_ref(spark)).run_job(genotypes=seed)
        assert sorted_rows(
            out["genotype"], "job_id", "patient_id", "gene_name",
            "haplotype_name1", "haplotype_name2",
        ) == [(1, "patient1", "g1", "*1", "*1")]
        assert sorted_rows(
            out["phenotypeDrugRecommendation"], "job_id", "patient_id",
            "drug_recommendation_id",
        ) == [(1, "patient1", 1)]


def test_invalid_short_rows_error(spark, tmp_path):
    """testDrugRecommendationsInvalidInputGenotypes/Variants
    (PipelineTest.groovy:458-503): short rows fail the read."""
    p = tmp_path / "bad.tsv"
    p.write_text("patient1\tg1\t*1\n")  # 3 of 4 expected columns
    df = stage_source(spark, "genotype", str(p))
    with pytest.raises(Exception, match="FAILED_READ_FILE|Malformed"):
        df.collect()


def test_jsonl_roundtrip(spark, tmp_path):
    from haplorec_spark.sources import jsonl_sink, jsonl_source

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = str(tmp_path / "docs_jsonl")
    jsonl_sink(docs, out, compression="none")
    back = jsonl_source(spark, out, "doc_id BIGINT, lang STRING, text STRING")
    assert rows(back, "doc_id", "text") == rows(docs, "doc_id", "text")
    # corrupt-only queries are rejected by Spark; reference a data
    # column alongside the corrupt column (see jsonl_source docstring)
    clean = back.filter(back["_corrupt_record"].isNull()).select("doc_id")
    assert len(clean.collect()) == docs.count()


def test_jsonl_corrupt_record_policy(spark, tmp_path):
    from haplorec_spark.sources import jsonl_source

    f = tmp_path / "mixed.jsonl"
    f.write_text(
        '{"doc_id": 1, "text": "ok"}\n'
        "this is not json\n"
        '{"doc_id": 2, "text": "also ok"}\n'
    )
    schema = "doc_id BIGINT, text STRING"

    permissive = jsonl_source(spark, str(f), schema)
    quarantined = permissive.filter(
        permissive["_corrupt_record"].isNotNull()
    ).select("doc_id", "_corrupt_record")
    assert permissive.count() == 3
    assert len(quarantined.collect()) == 1
    assert rows(
        permissive.filter(permissive["_corrupt_record"].isNull()), "doc_id"
    ) == [(1,), (2,)]

    dropped = jsonl_source(spark, str(f), schema, mode="DROPMALFORMED")
    assert "_corrupt_record" not in dropped.columns
    assert rows(dropped, "doc_id") == [(1,), (2,)]

    import pyspark.errors

    with pytest.raises(Exception):
        jsonl_source(spark, str(f), schema, mode="FAILFAST").count()
