"""Gene-haplotype matrix — the pipeline's broadcastable reference data.

Reproduces haplorec's ``GeneHaplotypeMatrix``
(/root/reference/src/groovy/haplorec/util/data/GeneHaplotypeMatrix.groovy):
per gene, a matrix of haplotype × SNP → allele, used to

* resolve a chromosome's variants to candidate haplotypes
  (``variants_to_haplotypes``, GeneHaplotypeMatrix.groovy:213-249), and
* disambiguate heterozygous calls (see :mod:`haplorec_spark.algorithm`).

Scale stance: the matrices are reference data (PharmGKB scale ≈ 10² genes
× ≤10² haplotypes × ≤10² SNPs — todo.txt:321-323), so they are collected
once (as Arrow) and shipped to executors via ``SparkContext.broadcast``.
Both pipeline kernels read that one broadcast: haplotype calling
(pipeline._classified_haplotype_groups) and het disambiguation
(pipeline.variant_to_het_variant).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass
class GeneHaplotypeMatrix:
    """One gene's haplotype matrix in lookup form.

    ``snp_ids`` is sorted (reference: ``order by snp_id``,
    GeneHaplotypeMatrix.groovy:84). ``haplotypes`` preserves
    haplotype-name order. ``vh`` maps (snp_id, allele) → frozenset of
    haplotype names containing that variant.
    """

    gene_name: str
    snp_ids: list[str]
    haplotypes: list[str]
    vh: dict[tuple[str, str], frozenset[str]]
    #: haplotype_name -> {snp_id: allele} (matrix rows; blanks absent)
    alleles: dict[str, dict[str, str]] = field(default_factory=dict)

    @property
    def snp_id_set(self) -> set[str]:
        return set(self.snp_ids)

    def variants_to_haplotypes(self, variants) -> set[str] | None:
        """Candidate haplotypes for one chromosome's variants.

        Exact port of GeneHaplotypeMatrix.variantsToHaplotypes
        (GeneHaplotypeMatrix.groovy:213-249). ``variants`` is an iterable
        of (snp_id, allele) pairs. Three-way result:

        * ``None``  — no variant touches this gene's SNPs
        * ``set()`` — novel haplotype (unknown allele for a gene SNP, or
          known alleles in an unseen combination)
        * nonempty  — candidate haplotypes (singleton ⇒ call; larger ⇒
          ambiguous, callers skip)
        """
        has_at_least_one_snp = False
        haps: set[str] = set(self.haplotypes)
        snp_id_set = self.snp_id_set
        for snp_id, allele in variants:
            gene_contains_snp = snp_id in snp_id_set
            has_at_least_one_snp = has_at_least_one_snp or gene_contains_snp
            h = self.vh.get((snp_id, allele))
            if h is not None:
                haps &= h
                if not haps:
                    return haps
            elif gene_contains_snp:
                return set()
        if not has_at_least_one_snp:
            return None
        return haps


def build_matrices(
    gene_haplotype_variant_rows,
) -> dict[str, GeneHaplotypeMatrix]:
    """Build per-gene matrices from (gene_name, haplotype_name, snp_id,
    allele) rows (any iterable of 4-field rows/tuples)."""
    by_gene: dict[str, list[tuple[str, str, str]]] = {}
    for row in gene_haplotype_variant_rows:
        g, h, s, a = row[0], row[1], row[2], row[3]
        by_gene.setdefault(g, []).append((h, s, a))
    out: dict[str, GeneHaplotypeMatrix] = {}
    for gene, rows in by_gene.items():
        rows.sort()  # (haplotype_name, snp_id) order, as the reference's ORDER BY
        snp_ids = sorted({s for _, s, _ in rows})
        haplotypes: list[str] = []
        vh: dict[tuple[str, str], set[str]] = {}
        alleles: dict[str, dict[str, str]] = {}
        for h, s, a in rows:
            if h not in alleles:
                alleles[h] = {}
                haplotypes.append(h)
            alleles[h][s] = a
            vh.setdefault((s, a), set()).add(h)
        out[gene] = GeneHaplotypeMatrix(
            gene_name=gene,
            snp_ids=snp_ids,
            haplotypes=haplotypes,
            vh={k: frozenset(v) for k, v in vh.items()},
            alleles=alleles,
        )
    return out


def build_matrices_from_df(ghv: DataFrame) -> dict[str, GeneHaplotypeMatrix]:
    table = ghv.select(
        "gene_name", "haplotype_name", "snp_id", "allele"
    ).toArrow()
    return build_matrices(zip(*(col.to_pylist() for col in table.columns)))


def broadcast_matrices(spark: SparkSession, ghv: DataFrame):
    """Collect + broadcast the per-gene matrices (small reference data)."""
    return spark.sparkContext.broadcast(build_matrices_from_df(ghv))


# ---------------------------------------------------------------------------
# F12: minimal-unique-key discovery over a matrix
# (/root/reference/script/matrix_row_keys.py:52-114 — which (column, value)
# subsets uniquely identify each row; driver-side analysis of small
# per-gene matrices, same surface as the reference's offline tool.)
# ---------------------------------------------------------------------------


def matrix_row_keys(
    column_names: list, row_names: list, rows: list
) -> dict:
    """Per row, every minimal set of (column, value) pairs that uniquely
    identifies it within the matrix.

    Returns ``{row_name: {frozenset({(column, value), ...}), ...}}``.
    Enumeration: depth-first over columns in index order, keeping the
    candidate-row set for the current constraint set; a column joins the
    key only if it strictly shrinks the candidates (anything else cannot
    be part of a minimal key). Keys that acquire a subset key are pruned.
    """
    n_cols = len(column_names)
    col_matches: list[dict] = [{} for _ in range(n_cols)]
    for ri, row in enumerate(rows):
        for ci, v in enumerate(row):
            col_matches[ci].setdefault(v, set()).add(ri)

    out: dict = {}
    for ri, row in enumerate(rows):
        matches = [col_matches[ci][row[ci]] for ci in range(n_cols)]
        minimal: list[frozenset[int]] = []

        def record(cols: frozenset) -> None:
            for k in minimal:
                if k <= cols:
                    return
            minimal[:] = [k for k in minimal if not cols < k]
            minimal.append(cols)

        def extend(cols: frozenset, cand: set, start: int) -> None:
            if len(cand) == 1:
                record(cols)
                return
            for ci in range(start, n_cols):
                nxt = cand & matches[ci]
                if len(nxt) < len(cand) and len(nxt) < len(matches[ci]):
                    extend(cols | {ci}, nxt, ci + 1)

        for ci in range(n_cols):
            extend(frozenset([ci]), set(matches[ci]), ci + 1)
        out[row_names[ri]] = {
            frozenset((column_names[ci], row[ci]) for ci in key)
            for key in minimal
        }
    return out


def gene_matrix_row_keys(matrix: GeneHaplotypeMatrix) -> dict:
    """F12 applied to a gene's haplotype matrix: which (snp, allele)
    subsets uniquely identify each haplotype (blank cells are None)."""
    rows = [
        [matrix.alleles[h].get(s) for s in matrix.snp_ids]
        for h in matrix.haplotypes
    ]
    return matrix_row_keys(matrix.snp_ids, matrix.haplotypes, rows)
