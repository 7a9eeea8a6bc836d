"""Tests of the benchmark's own parts; no Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re

import pytest

from perfbench import check
from perfbench.bench import END_TO_END, per_layer_units
from perfbench.gen import WORKLOADS, workload_job, workload_reference
from perfbench.trace import Span, Tracer, self_time

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
NAME = re.compile(r"[A-Za-z0-9_.-]+")


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_generator_is_deterministic(name):
    w = WORKLOADS[name]
    ref_a, ref_b = workload_reference(w, 7), workload_reference(w, 7)
    assert ref_a == ref_b
    job_a, job_b = workload_job(w, ref_a, 7, 2), workload_job(w, ref_b, 7, 2)
    assert job_a.lines == job_b.lines and job_a.truth == job_b.truth
    assert workload_job(w, ref_a, 8, 2).lines != job_a.lines
    assert workload_job(w, ref_a, 7, 3).lines != job_a.lines


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_generated_het_pairs_are_identifiable(name):
    w = WORKLOADS[name]
    ref = workload_reference(w, 3)
    job = workload_job(w, ref, 3, 1)
    assert job.variant_rows == 2 * len(job.lines)
    for (_, gene), (h1, h2) in job.truth.items():
        g = ref.gene(gene)
        assert h1 <= h2 and g.identifiable(h1, h2)
        if h1 != h2:
            assert w.min_het <= len(g.het_snps(h1, h2)) <= w.max_het


def test_metric_names():
    names = list(END_TO_END) + list(per_layer_units())
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.fullmatch(n) and len(n) <= 64, n


def test_benchmark_json_matches_the_code():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == \
        per_layer_units()
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)


def _span(i, start, end, parent=None):
    return Span(i, f"s{i}", 1, parent, start, end)


def test_self_time_subtracts_child_coverage():
    parent = _span(0, 0.0, 10.0)
    children = [_span(1, 1.0, 3.0, 0), _span(2, 2.0, 5.0, 0),
                _span(3, 8.0, 12.0, 0)]
    # covered: [1, 5] and [8, 10] -> 6 of the parent's 10
    assert self_time(parent, children) == pytest.approx(4.0)
    assert self_time(parent, []) == pytest.approx(10.0)
    assert self_time(parent, [_span(4, 11.0, 12.0, 0)]) == pytest.approx(10.0)


def test_tracer_nests_spans_without_spark():
    t = Tracer()
    with t.span("job", 1) as job:
        with t.span("a", 1):
            pass
        with t.span("b", 1):
            pass
    assert [s.parent for s in t.spans] == [None, 0, 0]
    assert [s.name for s in t.children(job)] == ["a", "b"]
    assert 0 <= self_time(job, t.children(job)) <= job.wall_s


def _genotype_rows(job):
    """What a correct genotype stage holds: the true pair per (sample,
    gene), plus a second combo's pair for every het sample."""
    rows = []
    for (patient, gene), (h1, h2) in job.truth.items():
        rows.append((patient, gene, h1, h2))
        if h1 != h2:
            rows.append((patient, gene, h1, h1))
    return rows


def test_truth_check_accepts_correct_and_rejects_corrupted_rows():
    w = WORKLOADS["clinic_jobs"]
    ref = workload_reference(w, 11)
    job = workload_job(w, ref, 11, 1)
    rows = _genotype_rows(job)
    assert check.genotype_errors(job, rows) == []

    hom = next(i for i, r in enumerate(rows)
               if job.truth[(r[0], r[1])] == (r[2], r[2]))
    bad = list(rows)
    p, g, h, _ = bad[hom]
    other = next(x for x in sorted(ref.gene(g).haplotypes) if x != h)
    bad[hom] = (p, g, h, other)
    assert check.genotype_errors(job, bad)

    het_key = next(k for k, (a, b) in job.truth.items() if a != b)
    dropped = [r for r in rows
               if (r[0], r[1]) != het_key or (r[2], r[3]) != job.truth[het_key]]
    assert check.genotype_errors(job, dropped)

    assert check.genotype_errors(job, rows + [("nobody", "G1", "*1", "*1")])


def test_recommendation_and_report_checks():
    w = WORKLOADS["clinic_jobs"]
    ref = workload_reference(w, 5)
    job = workload_job(w, ref, 5, 1)
    pheno, geno = check.expected_recommendations(job, ref)
    assert pheno and geno
    assert check.recommendation_errors("p", pheno, sorted(pheno)) == []
    assert check.recommendation_errors("p", pheno, sorted(pheno)[1:])
    samples = sorted({p for p, _ in pheno}) + [None]
    assert check.report_errors("r", job, pheno, samples) == []
    assert check.report_errors("r", job, pheno, [])
    assert check.report_errors("r", job, pheno, samples + ["stranger"])
