"""Output checks against the generator's truth (plain Python on
collected rows, so the checks are testable without Spark)."""

from __future__ import annotations

from collections import Counter, defaultdict
from collections.abc import Iterable

from perfbench.gen import Job, Reference


def genotype_errors(job: Job, rows: Iterable[tuple]) -> list[str]:
    """``rows``: (patient_id, gene_name, haplotype_name1,
    haplotype_name2) of the job's genotype table.

    A homozygous (sample, gene) must be called as exactly its true pair;
    for a heterozygous one the true pair must be among the genotypes of
    its het combos. Calls for a (sample, gene) the job does not hold are
    errors too.
    """
    got: dict[tuple[str, str], set[tuple[str, str]]] = defaultdict(set)
    for patient, gene, h1, h2 in rows:
        got[(patient, gene)].add((h1, h2))
    errors = []
    for key, pair in job.truth.items():
        pairs = got.get(key, set())
        if pair[0] == pair[1]:
            if pairs != {pair}:
                errors.append(f"{key}: hom {pair} called as {sorted(pairs)}")
        elif pair not in pairs:
            errors.append(f"{key}: het {pair} not among {sorted(pairs)}")
    for key in got.keys() - job.truth.keys():
        errors.append(f"{key}: genotype for a sample/gene not in the job")
    return errors


def expected_recommendations(job: Job, ref: Reference
                             ) -> tuple[set[tuple], set[tuple]]:
    """(patient, drug_recommendation_id) pairs every homozygous
    (sample, gene) must receive: the single-gene phenotype
    recommendation and the genotype recommendation of its pair."""
    size = Counter(rid for *_, rid in ref.gene_phenotype_drug_recommendation)
    single = {(gene, phenotype): rid for gene, phenotype, rid
              in ref.gene_phenotype_drug_recommendation if size[rid] == 1}
    by_genotype = {(g, h1, h2): rid
                   for g, h1, h2, rid in ref.genotype_drug_recommendation}
    phenotype_recs, genotype_recs = set(), set()
    for (patient, gene), (h1, h2) in job.truth.items():
        if h1 != h2:
            continue
        g = ref.gene(gene)
        phenotype_recs.add((patient, single[(gene, g.phenotype(h1, h2))]))
        if (gene, h1, h2) in by_genotype:
            genotype_recs.add((patient, by_genotype[(gene, h1, h2)]))
    return phenotype_recs, genotype_recs


def recommendation_errors(kind: str, expected: set[tuple],
                          rows: Iterable[tuple]) -> list[str]:
    """``rows``: (patient_id, drug_recommendation_id) of a drug
    recommendation stage."""
    missing = expected - set(rows)
    return [f"{kind}: missing {sorted(missing)[:5]} "
            f"({len(missing)} in all)"] if missing else []


def report_errors(kind: str, job: Job, expected: set[tuple],
                  sample_ids: list) -> list[str]:
    """``sample_ids``: the SAMPLE_ID column of a collected report (null
    on rows the report condensed into the row above)."""
    errors = []
    if expected and not sample_ids:
        errors.append(f"{kind}: empty report, {len(expected)} "
                      f"recommendations expected")
    patients = {p for p, _ in job.truth}
    named = {s for s in sample_ids if s is not None}
    if named - patients:
        errors.append(f"{kind}: samples {sorted(named - patients)[:5]} "
                      f"are not in the job")
    missing = {p for p, _ in expected} - named
    if missing:
        errors.append(f"{kind}: samples {sorted(missing)[:5]} with "
                      f"recommendations are absent")
    return errors
