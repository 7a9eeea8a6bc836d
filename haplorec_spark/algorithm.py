"""Heterozygote disambiguation — the pipeline's one genuinely procedural
kernel (U2 in SURVEY.md §2.9).

Pure-Python reimplementation of ``Algorithm.disambiguateHets``
(/root/reference/src/groovy/haplorec/util/pipeline/Algorithm.groovy:73-255):
given a gene's haplotype matrix and a patient's heterozygous variants for
that gene (each SNP appearing exactly twice, once per allele), enumerate
the assignments of alleles to physical chromosomes A/B such that at least
one strand uniquely identifies a known haplotype. Results split into:

* ``AKnownBKnown`` — both strands identify known haplotypes
* ``AKnownBNovel`` — strand A identifies a known haplotype, the
  complementary strand is novel

Worst case is 2^(n-1) assignments for n het SNPs; real genes have a
handful (reference design note /root/reference/todo.txt:103-110). The
``max_het_snps`` guard turns pathological groups into an explicit error
instead of an exponential stall — a deliberate tightening documented in
SURVEY.md §7.

This module is deliberately Spark-free: the pipeline wraps it in a
grouped ``applyInPandas`` (one group per job/patient/gene), and the unit
tests exercise it directly against AlgorithmTest's case matrix.
"""

from __future__ import annotations

from collections import Counter

from haplorec_spark.matrix import GeneHaplotypeMatrix

Combos = dict[str, list[list[dict[str, str]]]]


def disambiguate_hets(
    matrix: GeneHaplotypeMatrix,
    het_variants: list[tuple[str, str]] | list[dict],
    max_het_snps: int = 20,
) -> Combos:
    """Enumerate physical-chromosome assignments for heterozygous calls.

    ``het_variants``: (snp_id, allele) pairs or dicts with those keys;
    each snp_id must occur exactly twice (its two het alleles).

    Returns ``{"AKnownBKnown": [...], "AKnownBNovel": [...]}`` where each
    combo is a list of ``{physical_chromosome, snp_id, allele}`` dicts —
    chromosome A rows first, ordered by het SNP, then chromosome B rows —
    and the combos within each type are sorted by their (strand A,
    strand B) allele sequences (Algorithm.groovy:244-253).
    """
    pairs = [
        (v["snp_id"], v["allele"]) if isinstance(v, dict) else (v[0], v[1])
        for v in het_variants
    ]
    for snp_id, _ in pairs:
        if snp_id not in matrix.snp_id_set:
            raise ValueError(
                f"The gene-haplotype matrix for {matrix.gene_name} has no SNP {snp_id}"
            )
    for snp_id, count in Counter(s for s, _ in pairs).items():
        if count != 2:
            raise ValueError(
                "Expected a list of heterozygote snps (i.e. 2 variants with "
                f"the same snp_id), but saw {snp_id} with {count} variants"
            )

    sorted_hets = sorted(pairs)
    het_snps = sorted({s for s, _ in sorted_hets})
    num_hets = len(het_snps)
    if num_hets > max_het_snps:
        raise ValueError(
            f"{num_hets} heterozygous SNPs exceeds "
            f"max_het_snps={max_het_snps} (2^(n-1) assignments)"
        )

    gene_haplotypes = set(matrix.haplotypes)
    vh = matrix.vh

    # Sequences s (tuple of alleles, s[i] for het_snps[i]) that uniquely
    # identify a known haplotype. Insertion-ordered (dict-as-set), though
    # the final per-type sort makes the order immaterial.
    het_sequences: dict[tuple[str, ...], None] = {}

    def search(i: int, prefix: tuple[str, ...], haps: set[str]) -> None:
        if i >= len(sorted_hets) and (
            len(haps) == 1
            # Single het SNP: either allele may sit on either chromosome
            # regardless of uniqueness (Algorithm.groovy:146-158).
            or (len(sorted_hets) == 2 and len(haps) > 0)
        ):
            het_sequences[prefix] = None
        elif not haps:
            return
        elif i >= len(sorted_hets):
            return
        else:
            for v in (sorted_hets[i], sorted_hets[i + 1]):
                retained = haps & vh.get(v, frozenset())
                search(i + 2, prefix + (v[1],), retained)

    search(0, (), gene_haplotypes)

    def other_strand(alleles: tuple[str, ...]) -> tuple[str, ...]:
        out = []
        for k in range(num_hets):
            h1, h2 = sorted_hets[2 * k], sorted_hets[2 * k + 1]
            if alleles[k] == h1[1]:
                out.append(h2[1])
            else:
                assert alleles[k] == h2[1]
                out.append(h1[1])
        return tuple(out)

    known_pairs: list[tuple[tuple[str, ...], tuple[str, ...]]] = []
    known_novel_pairs: list[tuple[tuple[str, ...], tuple[str, ...]]] = []
    remaining = dict(het_sequences)
    while remaining:
        s = next(iter(remaining))
        del remaining[s]
        s_other = other_strand(s)
        if s_other in remaining:
            del remaining[s_other]
            s1, s2 = sorted((s, s_other))
            known_pairs.append((s1, s2))
        else:
            # s is known; the complementary strand identifies no unique
            # known haplotype -> treat as novel (Algorithm.groovy:225-229).
            known_novel_pairs.append((s, s_other))

    def pairs_as_rows(
        seq_pairs: list[tuple[tuple[str, ...], tuple[str, ...]]],
    ) -> list[list[dict[str, str]]]:
        out = []
        for s1, s2 in sorted(seq_pairs):
            rows = [
                {"physical_chromosome": "A", "snp_id": snp, "allele": a}
                for a, snp in zip(s1, het_snps)
            ] + [
                {"physical_chromosome": "B", "snp_id": snp, "allele": a}
                for a, snp in zip(s2, het_snps)
            ]
            out.append(rows)
        return out

    return {
        "AKnownBKnown": pairs_as_rows(known_pairs),
        "AKnownBNovel": pairs_as_rows(known_novel_pairs),
    }


def het_variant_rows(combos: Combos) -> list[dict]:
    """Flatten disambiguation combos into numbered het-variant rows.

    het_combo numbering follows the reference exactly
    (Pipeline.variantToHetVariant, Pipeline.groovy:375-392): AKnownBKnown
    combos first, then AKnownBNovel, numbered from 1; het_combos = total
    combo count across both types.
    """
    total = sum(len(v) for v in combos.values())
    rows: list[dict] = []
    combo_no = 1
    for key in ("AKnownBKnown", "AKnownBNovel"):
        for combo in combos[key]:
            for h in combo:
                rows.append(
                    {**h, "het_combo": combo_no, "het_combos": total}
                )
            combo_no += 1
    return rows
