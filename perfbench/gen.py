"""Seeded inputs for the haplorec job benchmark.

Everything here is plain Python (no Spark), so the inputs — and the
truth the output check compares against — are a pure function of the
workload parameters and the seed.

A *reference* is a PharmGKB-shaped set of tables: per gene a full
haplotype x SNP allele matrix (every haplotype row distinct, so a
chromosome carrying all of a haplotype's alleles calls it uniquely),
the genotype -> phenotype table over every unordered haplotype pair,
and two kinds of drug recommendation (per gene phenotype, and per
genotype, some of them spanning two genes so the set-containment
stages do real work).

A *job* is one genotyping file in the lab export layout that
``haplorec_spark.sources.variant_source`` reads, together with the
haplotype pair the generator assigned to every (sample, gene).
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field
from itertools import combinations_with_replacement

BASES = "ACGT"
FUNCTIONS = ("normal", "decreased", "none")
#: Phenotype by the summed function score of the two haplotypes.
PHENOTYPES = {4: "ultrarapid", 3: "extensive", 2: "intermediate",
              1: "poor", 0: "poor"}
FUNCTION_SCORE = {"normal": 2, "decreased": 1, "none": 0}

EXPORT_HEADER = ("PLATE", "EXPERIMENT", "CHIP", "WELL_POSITION", "ASSAY_ID",
                 "GENOTYPE_ID", "DESCRIPTION", "SAMPLE_ID", "ENTRY_OPERATOR")


@dataclass
class Gene:
    name: str
    snps: list[str]
    #: haplotype name -> allele per SNP (same order as ``snps``)
    haplotypes: dict[str, tuple[str, ...]]
    function: dict[str, str]

    def het_snps(self, h1: str, h2: str) -> list[int]:
        a, b = self.haplotypes[h1], self.haplotypes[h2]
        return [i for i in range(len(self.snps)) if a[i] != b[i]]

    def identifiable(self, h1: str, h2: str) -> bool:
        """True when het disambiguation can recover the pair (h1, h2):
        each haplotype's alleles at the SNPs where the two differ match
        no other haplotype of the gene."""
        diff = self.het_snps(h1, h2)
        if not diff:
            return True
        for h in (h1, h2):
            key = tuple(self.haplotypes[h][i] for i in diff)
            others = [o for o, row in self.haplotypes.items()
                      if o != h and tuple(row[i] for i in diff) == key]
            if others:
                return False
        return True

    def phenotype(self, h1: str, h2: str) -> str:
        score = (FUNCTION_SCORE[self.function[h1]]
                 + FUNCTION_SCORE[self.function[h2]])
        return PHENOTYPES[score]


@dataclass
class Reference:
    genes: list[Gene]
    gene_haplotype_variant: list[tuple] = field(default_factory=list)
    genotype_phenotype: list[tuple] = field(default_factory=list)
    gene_phenotype_drug_recommendation: list[tuple] = field(
        default_factory=list)
    genotype_drug_recommendation: list[tuple] = field(default_factory=list)
    drug_recommendation: list[tuple] = field(default_factory=list)

    def gene(self, name: str) -> Gene:
        return next(g for g in self.genes if g.name == name)


def make_gene(rng: random.Random, name: str, first_snp: int, n_snps: int,
              n_haplotypes: int, max_alt: int) -> Gene:
    """A gene whose haplotype *1 carries the reference allele at every
    SNP and every other haplotype 1..max_alt alternate alleles; rows
    are kept distinct."""
    snps = [f"rs{first_snp + i}" for i in range(n_snps)]
    ref = [rng.choice(BASES) for _ in snps]
    alt = [rng.choice([b for b in BASES if b != r]) for r in ref]
    rows = {tuple(ref)}
    haplotypes = {"*1": tuple(ref)}
    k = 2
    while len(haplotypes) < n_haplotypes:
        row = list(ref)
        for i in rng.sample(range(n_snps), rng.randint(1, max_alt)):
            row[i] = alt[i]
        if tuple(row) not in rows:
            rows.add(tuple(row))
            haplotypes[f"*{k}"] = tuple(row)
            k += 1
    function = {h: ("normal" if h == "*1" else rng.choice(FUNCTIONS))
                for h in haplotypes}
    return Gene(name, snps, haplotypes, function)


def make_reference(rng: random.Random, n_genes: int, n_snps: int,
                   n_haplotypes: int, max_alt: int) -> Reference:
    genes = [make_gene(rng, f"G{g + 1}", g * n_snps + 1, n_snps,
                       n_haplotypes, max_alt) for g in range(n_genes)]
    ref = Reference(genes)
    for g in genes:
        for h, row in g.haplotypes.items():
            ref.gene_haplotype_variant.extend(
                (g.name, h, s, a) for s, a in zip(g.snps, row))
        for h1, h2 in combinations_with_replacement(sorted(g.haplotypes), 2):
            ref.genotype_phenotype.append((g.name, h1, h2, g.phenotype(h1, h2)))
    next_id = 1

    def recommend(drug: str) -> int:
        nonlocal next_id
        rid = next_id
        next_id += 1
        ref.drug_recommendation.append(
            (rid, drug, f"{drug} implications", f"{drug} recommendation {rid}",
             "A", None))
        return rid

    # One recommendation per (gene, phenotype), and one per pair of
    # neighbouring genes over a shared phenotype: a two-element set that
    # only patients with both gene phenotypes contain.
    phenotypes = sorted(set(PHENOTYPES.values()))
    for g in genes:
        for p in phenotypes:
            rid = recommend(f"drug-{g.name}-{p}")
            ref.gene_phenotype_drug_recommendation.append((g.name, p, rid))
    for g1, g2 in zip(genes, genes[1:]):
        for p in phenotypes:
            rid = recommend(f"drug-{g1.name}-{g2.name}-{p}")
            ref.gene_phenotype_drug_recommendation.extend(
                [(g1.name, p, rid), (g2.name, p, rid)])
    # Genotype recommendations for the homozygous and the *1-carrier
    # genotypes of every gene.
    for g in genes:
        for h in sorted(g.haplotypes):
            for pair in {("*1", h), (h, h)}:
                h1, h2 = sorted(pair)
                rid = recommend(f"drug-{g.name}-{h1}{h2}")
                ref.genotype_drug_recommendation.append((g.name, h1, h2, rid))
    return ref


@dataclass
class Job:
    """One genotyping file plus the truth it was generated from."""

    lines: list[tuple[str, ...]]
    #: (sample, gene) -> sorted (haplotype_name1, haplotype_name2)
    truth: dict[tuple[str, str], tuple[str, str]]
    #: rows variant_source yields: 2 per call (hom -> A and B, het -> two
    #: alleles)
    variant_rows: int

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            f.write("\t".join(EXPORT_HEADER) + "\n")
            for line in self.lines:
                f.write("\t".join(line) + "\n")


def _pick_pair(rng: random.Random, gene: Gene, het_fraction: float,
               het_pairs: list[tuple[str, str]]) -> tuple[str, str]:
    if het_pairs and rng.random() < het_fraction:
        return rng.choice(het_pairs)
    h = rng.choice(sorted(gene.haplotypes))
    return (h, h)


def identifiable_het_pairs(gene: Gene, min_het: int, max_het: int
                           ) -> list[tuple[str, str]]:
    names = sorted(gene.haplotypes)
    return [(a, b) for i, a in enumerate(names) for b in names[i + 1:]
            if min_het <= len(gene.het_snps(a, b)) <= max_het
            and gene.identifiable(a, b)]


def make_job(rng: random.Random, ref: Reference, n_samples: int,
             het_fraction: float, min_het: int, max_het: int,
             extra_assays: int, sample_prefix: str) -> Job:
    """A genotyping file over every gene of ``ref``.

    Each (sample, gene) gets a homozygous pair, or with probability
    ``het_fraction`` an identifiable heterozygous pair differing at
    ``min_het``..``max_het`` SNPs. ``extra_assays`` adds homozygous
    calls on SNPs outside every gene (assays a panel carries for other
    purposes; the pipeline filters them out).
    """
    pairs = {g.name: identifiable_het_pairs(g, min_het, max_het)
             for g in ref.genes}
    first_extra = 1 + sum(len(g.snps) for g in ref.genes)
    lines: list[tuple[str, ...]] = []
    truth: dict[tuple[str, str], tuple[str, str]] = {}
    for s in range(n_samples):
        sample = f"{sample_prefix}{s + 1:05d}"
        well = f"{'ABCDEFGH'[s % 8]}{s // 8 % 12 + 1:02d}"
        for g in ref.genes:
            h1, h2 = _pick_pair(rng, g, het_fraction, pairs[g.name])
            truth[(sample, g.name)] = (h1, h2)
            a, b = g.haplotypes[h1], g.haplotypes[h2]
            for snp, x, y in zip(g.snps, a, b):
                call = x if x == y else "".join(sorted(x + y))
                lines.append(("P1", "E1", "C1", well, snp, call,
                              "", sample, "bench"))
        for i in range(extra_assays):
            lines.append(("P1", "E1", "C1", well, f"rs{first_extra + i}",
                          rng.choice(BASES), "", sample, "bench"))
    return Job(lines, truth, 2 * len(lines))


# ---------------------------------------------------------------- workloads

@dataclass(frozen=True)
class Workload:
    name: str
    n_genes: int
    n_snps: int
    n_haplotypes: int
    max_alt: int
    n_samples: int
    het_fraction: float
    min_het: int
    max_het: int
    extra_assays: int
    #: produce both condensed reports per job
    reports: bool


WORKLOADS: dict[str, Workload] = {
    w.name: w for w in [
        # ~22 samples x 2 panel genes x 15 SNPs (660 lines), natural
        # hom/het mix — the real clinic file shape.
        Workload("clinic_jobs", n_genes=2, n_snps=15, n_haplotypes=8,
                 max_alt=3, n_samples=22, het_fraction=0.4, min_het=1,
                 max_het=6, extra_assays=0, reports=True),
        # The reference's load test shape: 10 samples x 5,000 SNPs x 2
        # chromosomes, all homozygous; 10 genes x 5 haplotypes x 10 SNPs.
        Workload("cohort_hom", n_genes=10, n_snps=10, n_haplotypes=5,
                 max_alt=3, n_samples=10, het_fraction=0.0, min_het=1,
                 max_het=6, extra_assays=5000 - 100, reports=False),
        # Het-heavy cohort: 5 genes, 2-6 het SNPs per gene per sample.
        # Run by hand only: it does not fit the benchmark's time budget
        # (README.md, "Time budget").
        Workload("cohort_het", n_genes=5, n_snps=15, n_haplotypes=10,
                 max_alt=4, n_samples=500, het_fraction=1.0, min_het=2,
                 max_het=6, extra_assays=0, reports=False),
    ]
}


def workload_reference(w: Workload, seed: int) -> Reference:
    rng = random.Random(f"{w.name}:{seed}:reference")
    return make_reference(rng, w.n_genes, w.n_snps, w.n_haplotypes,
                          w.max_alt)


def workload_job(w: Workload, ref: Reference, seed: int, job: int) -> Job:
    """Job number ``job`` (1, 2, ...) of workload ``w`` for ``seed``;
    each job has its own random stream, so it does not depend on how
    many jobs came before it."""
    rng = random.Random(f"{w.name}:{seed}:job{job}")
    return make_job(rng, ref, w.n_samples, w.het_fraction, w.min_het,
                    w.max_het, w.extra_assays, sample_prefix=f"J{job}S")
