"""Property-based tests (hypothesis) for the engine's signature
operators — a robustness layer the reference's suite lacks
(SURVEY.md §5: "No property-based/randomized testing" there).

Each property checks the distributed operator against a brute-force
Python model on randomized inputs.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from haplorec_spark.operators.division import (
    select_where_either_subset_of,
    select_where_subset_of,
)
from haplorec_spark.operators.pivot import grouped_rows_to_columns
from haplorec_spark.operators.rows import (
    collapse_rows,
    no_duplicates_rows,
    report_can_collapse,
    report_merge,
)

SLOW = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# set elements / group names drawn from tiny alphabets to force
# collisions, subsets, and supersets
elems = st.sampled_from(["x", "y", "z", "w"])
names = st.sampled_from(["a", "b", "c"])

set_table = st.lists(
    st.tuples(names, elems), min_size=0, max_size=12, unique=True
)


@SLOW
@given(a=set_table, b=set_table)
def test_division_subset_matches_model(spark, a, b):
    from pyspark.sql.types import (
        StringType, StructField, StructType,
    )

    schema_a = StructType([
        StructField("ga", StringType()), StructField("e", StringType()),
    ])
    schema_b = StructType([
        StructField("gb", StringType()), StructField("e", StringType()),
    ])
    df_a = spark.createDataFrame(a or [], schema_a)
    df_b = spark.createDataFrame(b or [], schema_b)

    got = {
        tuple(r)
        for r in select_where_subset_of(
            df_a, df_b, ["e"], a_group_by=["ga"], b_group_by=["gb"]
        ).collect()
    }

    sets_a: dict[str, set[str]] = {}
    for g, e in a:
        sets_a.setdefault(g, set()).add(e)
    sets_b: dict[str, set[str]] = {}
    for g, e in b:
        sets_b.setdefault(g, set()).add(e)
    want = {
        (ga, gb)
        for ga, sa in sets_a.items()
        for gb, sb in sets_b.items()
        if sa <= sb
    }
    assert got == want


@SLOW
@given(a=set_table, b=set_table)
def test_division_either_subset_matches_model(spark, a, b):
    from pyspark.sql.types import StringType, StructField, StructType

    schema_a = StructType([
        StructField("ga", StringType()), StructField("e", StringType()),
    ])
    schema_b = StructType([
        StructField("gb", StringType()), StructField("e", StringType()),
    ])
    df_a = spark.createDataFrame(a or [], schema_a)
    df_b = spark.createDataFrame(b or [], schema_b)

    got = {
        tuple(r)
        for r in select_where_either_subset_of(
            df_a, df_b, ["e"], a_group_by=["ga"], b_group_by=["gb"]
        ).collect()
    }
    sets_a: dict[str, set[str]] = {}
    for g, e in a:
        sets_a.setdefault(g, set()).add(e)
    sets_b: dict[str, set[str]] = {}
    for g, e in b:
        sets_b.setdefault(g, set()).add(e)
    want = {
        (ga, gb)
        for ga, sa in sets_a.items()
        for gb, sb in sets_b.items()
        if sa <= sb or sb <= sa
    }
    assert got == want


@SLOW
@given(
    data=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 9)),
        min_size=0, max_size=14, unique=True,
    )
)
def test_pivot_matches_model(spark, data):
    """grouped_rows_to_columns pairs each group's <=2 smallest-ordered
    values positionally; oversize groups are dropped."""
    from pyspark.sql.types import (
        IntegerType, StructField, StructType,
    )

    df = spark.createDataFrame(
        data or [],
        StructType([
            StructField("g", IntegerType()),
            StructField("v", IntegerType()),
        ]),
    )
    out = grouped_rows_to_columns(
        df, ["g"], {"g": "g", "v": ["v1", "v2"]}, order_rows_by=["v"]
    )
    got = {tuple(r) for r in out.collect()}

    groups: dict[int, list[int]] = {}
    for g, v in data:
        groups.setdefault(g, []).append(v)
    want = set()
    for g, vs in groups.items():
        if len(vs) <= 2:
            vs = sorted(vs)
            want.add((g, vs[0], vs[1] if len(vs) > 1 else None))
    assert got == want


row_dicts = st.lists(
    st.dictionaries(
        st.sampled_from(["a", "b", "c", "d"]),
        st.one_of(st.none(), st.integers(0, 3)),
        min_size=0, max_size=4,
    ),
    min_size=0, max_size=10,
)


@given(rows=row_dicts)
@settings(max_examples=50, deadline=None)
def test_collapse_never_loses_non_null_values(rows):
    """Pure-kernel invariant: report-style collapse preserves the bag of
    non-null (column, value) assignments in order-insensitive count."""
    header = ["a", "b", "c", "d"]
    full = [{h: r.get(h) for h in header} for r in rows]
    out = collapse_rows(full, header, report_can_collapse, report_merge)

    def bag(rs):
        items = [
            (k, v) for r in rs for k, v in r.items() if v is not None
        ]
        return sorted(items)

    # merge only fills nulls from later rows; it never drops or
    # overwrites a non-null value
    assert bag(out) == bag(full)
    assert len(out) <= len(full)


@given(rows=row_dicts)
@settings(max_examples=50, deadline=None)
def test_no_duplicates_first_occurrence_keeps_all_columns(rows):
    """The first row always survives intact, and every output row's
    columns are a subset of its input row's."""
    groups = {
        "g1": (["a"], ["a", "b"]),
        "g2": (["c"], ["c", "d"]),
    }
    full = [
        {h: r.get(h) for h in ["a", "b", "c", "d"]} for r in rows
    ]
    out = no_duplicates_rows(full, groups)
    assert len(out) == len(full)
    if full:
        assert out[0] == {
            k: full[0].get(k) for k in ["a", "b", "c", "d"]
        }


# -- het-disambiguation kernel invariants -----------------------------------

@given(
    n_haps=st.integers(2, 5),
    n_snps=st.integers(1, 4),
    seed=st.integers(0, 999),
)
@settings(max_examples=40, deadline=None)
def test_disambiguate_hets_invariants(n_haps, n_snps, seed):
    """Random gene matrices + random het pairs: every combo pairs two
    complementary strands covering each het SNP once per chromosome,
    AKnownBKnown strand A uniquely identifies a haplotype, and the
    output ordering is deterministic."""
    import random

    from haplorec_spark.algorithm import disambiguate_hets
    from haplorec_spark.matrix import build_matrices

    rng = random.Random(seed)
    snps = [f"rs{i}" for i in range(n_snps)]
    ghv = [
        (f"g", f"*{h}", s, rng.choice("ACGT"))
        for h in range(1, n_haps + 1)
        for s in snps
    ]
    matrix = build_matrices(ghv)["g"]
    hets = []
    for s in snps:
        a1 = rng.choice("ACGT")
        a2 = rng.choice([c for c in "ACGT" if c != a1])
        hets += [(s, a1), (s, a2)]

    combos = disambiguate_hets(matrix, hets)
    again = disambiguate_hets(matrix, hets)
    assert combos == again  # deterministic

    allele_of = dict()
    for s, a in hets:
        allele_of.setdefault(s, set()).add(a)
    for kind, combo_list in combos.items():
        for combo in combo_list:
            by_chrom = {}
            for row in combo:
                by_chrom.setdefault(
                    row["physical_chromosome"], {}
                )[row["snp_id"]] = row["allele"]
            assert set(by_chrom) == {"A", "B"}
            for chrom_rows in by_chrom.values():
                assert set(chrom_rows) == set(snps)
            # complementary strands: per snp, A and B together carry
            # exactly the two het alleles
            for s in snps:
                assert {by_chrom["A"][s], by_chrom["B"][s]} == allele_of[s]
            # strand A identifies a known haplotype (possibly not
            # uniquely for the single-het-SNP special case)
            surviving = matrix.variants_to_haplotypes(
                [(s, by_chrom["A"][s]) for s in snps]
            )
            if n_snps > 1:
                assert surviving is not None and len(surviving) == 1
            else:
                assert surviving


@settings(SLOW, max_examples=6)
@given(
    n_haps=st.integers(1, 4),
    n_snps=st.integers(1, 4),
    seed=st.integers(0, 999),
)
def test_haplotype_calls_match_matrix_kernel(spark, n_haps, n_snps, seed):
    """Random gene matrix; per patient, random hom alleles per chromosome
    (null and unknown alleles included) + optional het pairs, through
    Pipeline.run_job: per chromosome × het combo, a singleton
    variants_to_haplotypes result is a geneHaplotype call, an empty one a
    novelHaplotype row, and a larger one neither. A patient whose only
    rows are null-allele hom rows gets nothing."""
    import random

    from haplorec_spark.algorithm import disambiguate_hets, het_variant_rows
    from haplorec_spark.matrix import build_matrices
    from haplorec_spark.pipeline import Pipeline
    from tests.conftest import rows
    from tests.fixtures import make_ref

    rng = random.Random(seed)
    snps = [f"rs{i}" for i in range(n_snps)]
    ghv = [
        ("g", f"*{h}", s, rng.choice("AC"))
        for h in range(1, n_haps + 1)
        for s in snps
    ]
    matrix = build_matrices(ghv)["g"]

    # p0 has only null-allele hom rows: no call and no novel row
    variants = [("p0", chrom, s, None, "hom") for chrom in "AB" for s in snps]
    want_het, want_calls, want_novel = [], [], []
    for patient in ("p1", "p2", "p3", "p4"):
        het_snps = [s for s in snps if rng.random() < 0.3]
        hets = []
        for s in het_snps:
            a1, a2 = rng.sample("ACG", 2)
            hets += [(s, a1), (s, a2)]
        hom = {
            chrom: [(s, rng.choice(["A", "C", "G", None]))
                    for s in snps
                    if s not in het_snps and rng.random() < 0.7]
            for chrom in "AB"
        }
        variants += [(patient, chrom, s, a, "hom")
                     for chrom, vs in hom.items() for s, a in vs]
        variants += [(patient, chrom, s, a, "het")
                     for chrom, (s, a) in zip("AB" * len(het_snps), hets)]

        het_rows = (het_variant_rows(disambiguate_hets(matrix, hets))
                    if hets else [])
        combos: dict[tuple, list] = {}
        for r in het_rows:
            key = (r["physical_chromosome"], r["het_combo"], r["het_combos"])
            combos.setdefault(key, []).append((r["snp_id"], r["allele"]))
            want_het.append((patient, *key, r["snp_id"], r["allele"]))
        for chrom, vs in hom.items():
            if vs and not any(key[0] == chrom for key in combos):
                combos[(chrom, 1, 1)] = []
        if not het_rows and all(a is None for vs in hom.values()
                                for _, a in vs):
            continue
        for (chrom, combo, n), vs in combos.items():
            haps = matrix.variants_to_haplotypes(hom[chrom] + vs)
            if len(haps) == 1:
                want_calls.append((patient, chrom, combo, n, min(haps)))
            elif not haps:
                want_novel.append((patient, chrom, combo, n))

    out = Pipeline(spark, make_ref(spark, ghv=ghv)).run_job(variants=variants)
    key = ["patient_id", "physical_chromosome", "het_combo", "het_combos"]
    assert rows(out["hetVariant"], *key, "snp_id", "allele") == sorted(
        want_het)
    assert rows(out["geneHaplotype"], *key, "haplotype_name") == sorted(
        want_calls)
    assert rows(out["novelHaplotype"], *key) == sorted(want_novel)


edge_lists = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=15),
        st.integers(min_value=0, max_value=15),
    ).filter(lambda t: t[0] != t[1]),
    min_size=1,
    max_size=20,
)


@SLOW
@given(edges=edge_lists)
def test_dedup_clusters_matches_bfs_model(spark, edges):
    """Union-find labels = BFS connected components with min-id
    canonicals, on random small graphs."""
    from haplorec_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        edges, "doc_id_a long, doc_id_b long"
    )
    got = {
        (r["doc_id"], r["canonical_id"])
        for r in dedup_clusters(pairs).collect()
    }

    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want = set()
    seen: set[int] = set()
    for start in adj:
        if start in seen:
            continue
        comp, frontier = {start}, [start]
        while frontier:
            node = frontier.pop()
            for nxt in adj[node]:
                if nxt not in comp:
                    comp.add(nxt)
                    frontier.append(nxt)
        seen |= comp
        keeper = min(comp)
        want |= {(n, keeper) for n in comp}
    assert got == want


# words from a tiny alphabet force shared lines/ngrams across docs
_line_words = st.sampled_from(["aa", "bb", "cc", "dd"])
_doc_lines = st.lists(
    st.lists(_line_words, min_size=1, max_size=4).map(" ".join),
    min_size=0, max_size=5,
)


@SLOW
@given(docs=st.lists(_doc_lines, min_size=1, max_size=6))
def test_boilerplate_adaptive_paths_agree(spark, docs):
    """The broadcast and explode-and-regroup paths of
    strip_boilerplate_lines must return identical rows on ANY input —
    the adaptive bound may only change the plan, never the result."""
    from haplorec_spark.operators.text import strip_boilerplate_lines

    frame = spark.createDataFrame(
        [(i, "\n".join(lines)) for i, lines in enumerate(docs)],
        "doc_id long, text string",
    )
    small = sorted(
        tuple(r)
        for r in strip_boilerplate_lines(
            frame, max_broadcast_lines=1_000_000
        ).collect()
    )
    large = sorted(
        tuple(r)
        for r in strip_boilerplate_lines(
            frame, max_broadcast_lines=0
        ).collect()
    )
    assert small == large


@SLOW
@given(docs=st.lists(
    st.lists(_line_words, min_size=0, max_size=8).map(" ".join),
    min_size=1, max_size=6,
))
def test_dup_span_adaptive_paths_agree(spark, docs):
    """Broadcast vs shuffle join back of the duplicated-n-gram set:
    identical spans on any input."""
    from haplorec_spark.operators.dedup import duplicate_ngram_spans

    frame = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    small = sorted(
        tuple(r)
        for r in duplicate_ngram_spans(
            frame, n=2, min_df=2, max_broadcast_grams=1_000_000
        ).collect()
    )
    large = sorted(
        tuple(r)
        for r in duplicate_ngram_spans(
            frame, n=2, min_df=2, max_broadcast_grams=0
        ).collect()
    )
    assert small == large


_doc_texts = st.lists(
    st.text(
        alphabet=st.sampled_from(list("ab c")), min_size=0, max_size=40
    ),
    min_size=1,
    max_size=6,
)


@SLOW
@given(texts=_doc_texts, chunk=st.integers(1, 7))
def test_chunk_tiling_reconstructs_documents(spark, texts, chunk):
    """Non-overlapping chunks are a partition of the word array:
    re-joining a document's chunk_texts in chunk_ix order reproduces
    the original text byte-for-byte (split/join on single spaces
    round-trips, including empty words from doubled spaces)."""
    from haplorec_spark.operators.text import chunk_documents

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got: dict[int, list[tuple[int, str]]] = {}
    for r in chunk_documents(docs, chunk_size=chunk).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["chunk_ix"], r["chunk_text"])
        )
    for i, text in enumerate(texts):
        parts = [t for _, t in sorted(got[i])]
        assert " ".join(parts) == text
        # every chunk except possibly the last is exactly chunk words
        for t in parts[:-1]:
            assert len(t.split(" ")) == chunk


@SLOW
@given(
    texts=_doc_texts,
    chunk=st.integers(2, 6),
    stride=st.integers(1, 6),
)
def test_chunk_sliding_matches_python_model(spark, texts, chunk, stride):
    """Overlapping windows match the plain-Python slicing model."""
    from haplorec_spark.operators.text import chunk_documents

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = sorted(
        tuple(r)
        for r in chunk_documents(
            docs, chunk_size=chunk, stride=stride
        ).collect()
    )
    want = []
    for i, text in enumerate(texts):
        ws = text.split(" ")
        for ix, start in enumerate(range(0, max(len(ws) - 1, 0) + 1, stride)):
            cw = ws[start : start + chunk]
            want.append((i, ix, start, len(cw), " ".join(cw)))
    assert got == sorted(want)


# --------------------------------------------------- normalization invariants

_norm_text = st.text(
    alphabet=st.sampled_from(
        list("abXY 09.!?,-\t\n") + ["é", "À".lower(), "ñ", "ç"]
    ),
    min_size=0,
    max_size=40,
)


@given(texts=st.lists(_norm_text, min_size=1, max_size=8))
@SLOW
def test_normalize_text_is_idempotent(spark, texts):
    """normalize(normalize(x)) == normalize(x) under every knob — the
    invariant that keeps dedup hashes stable when a corpus is
    re-normalized on re-ingest."""
    from haplorec_spark.operators.text import normalize_text

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id int, text string"
    )
    kw = dict(fold_accents=True, strip_punctuation=True, fold_digits=True)
    once = normalize_text(docs, **kw)
    twice = normalize_text(
        once.withColumnRenamed("text_norm", "text"), **kw
    )
    a = sorted(tuple(r) for r in once.collect())
    b = sorted(tuple(r) for r in twice.collect())
    assert a == b


@given(
    n_cand=st.integers(min_value=0, max_value=12),
    k=st.integers(min_value=1, max_value=6),
)
@SLOW
def test_refine_topk_is_contained_in_candidates(spark, n_cand, k):
    """Refine never invents a neighbor: output pairs are a subset of
    the candidate pairs, ranks are 1..min(k, candidates-per-probe),
    and distances are the exact pairwise values."""
    import math

    from pyspark.sql import functions as F

    from haplorec_spark.operators.similarity import refine_topk

    vecs = [
        (i, [float((i * 7 + j * 3) % 5 - 2) for j in range(4)])
        for i in range(8)
    ]
    emb = spark.createDataFrame(vecs, "vec_id int, embedding array<float>")
    cand_pairs = sorted(
        {((c * 3) % 3, (c * 5) % 8) for c in range(n_cand)}
    )
    cand_pairs = [(p, n) for p, n in cand_pairs if p != n]
    if not cand_pairs:
        return
    cand = spark.createDataFrame(
        cand_pairs, "probe_id int, neighbor_id int"
    )
    probes = emb.filter(F.col("vec_id") < 3)
    out = refine_topk(cand, emb, probes, k=k).collect()
    got_pairs = {(r["probe_id"], r["neighbor_id"]) for r in out}
    assert got_pairs <= set(cand_pairs)
    by_probe = {}
    for r in out:
        by_probe.setdefault(r["probe_id"], []).append(r)
    vd = dict(vecs)
    for p, rows in by_probe.items():
        n_avail = sum(1 for a, _ in cand_pairs if a == p)
        assert sorted(r["rank"] for r in rows) == list(
            range(1, min(k, n_avail) + 1)
        )
        for r in rows:
            exact = round(
                sum(
                    (a - b) ** 2
                    for a, b in zip(vd[p], vd[r["neighbor_id"]])
                ),
                6,
            )
            assert math.isclose(r["dist2"], exact, abs_tol=1e-9)


# --------------------------------------------------- BPE rung equivalence

# tiny alphabet + short words force heavy symbol overlap, count ties,
# and merged-symbol collisions — exactly the hazards the batched
# distributed rung's acceptance proof (_accept_merge_prefix) must
# survive while staying bit-identical to sequential training
bpe_words = st.lists(
    st.text(alphabet="abc", min_size=1, max_size=5),
    min_size=1,
    max_size=12,
)


@SLOW
@given(corpus=st.lists(bpe_words, min_size=1, max_size=4))
def test_bpe_rungs_equal_replica_on_random_corpora(spark, corpus):
    from haplorec_spark.operators.bpe import train_bpe
    from tests.test_bpe import _ref_train, _ref_word_counts

    texts = [" ".join(ws) for ws in corpus]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id int, text string"
    )
    want = [
        (i, l, r, l + r, c)
        for i, (l, r, c) in enumerate(
            _ref_train(_ref_word_counts(texts), 12)
        )
    ]
    drv = [
        tuple(r)
        for r in train_bpe(docs, n_merges=12).orderBy("merge_rank").collect()
    ]
    assert drv == want
    bat = [
        tuple(r)
        for r in train_bpe(
            docs, n_merges=12, max_driver_vocab=None, merge_batch=6
        ).orderBy("merge_rank").collect()
    ]
    assert bat == want


# -------------------------------------------- round-10 new semantics

# Small alphabets force step repeats, ties, and budget boundaries.
_ev_lists = st.lists(
    st.tuples(
        st.sampled_from(["A", "B", "C", "X"]),  # event type (X = noise)
        st.integers(min_value=0, max_value=12),  # minute offset
    ),
    min_size=0,
    max_size=10,
)


def _brute_retry_depth(events, steps, within_min):
    """Max depth over ALL in-order chains whose span fits the budget —
    the windowFunnel definition, by exhaustive DFS over the sorted
    event list (events = [(type, minute, eid)] sorted by (minute, eid))."""
    best = 0

    def extend(start_ix, level, t0):
        nonlocal best
        best = max(best, level)
        if level == len(steps):
            return
        for j in range(start_ix, len(events)):
            et, t, _ = events[j]
            if et != steps[level]:
                continue
            anchor = t if level == 0 else t0
            if level > 0 and (t - t0) * 60 > within_min * 60:
                continue
            extend(j + 1, level + 1, anchor)

    extend(0, 0, None)
    return best


@SLOW
@given(evs=_ev_lists)
def test_funnel_retry_matches_exhaustive_search(spark, evs):
    from datetime import datetime, timedelta

    from haplorec_spark.operators.funnel import funnel_depth

    steps = ["A", "B", "C"]
    within_min = 5
    base = datetime(2024, 1, 1)
    rows_ = [
        (i, base + timedelta(minutes=m), 1, et, 0.0, "{}")
        for i, (et, m) in enumerate(evs)
    ]
    df = spark.createDataFrame(
        rows_,
        "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
        "event_type STRING, value DOUBLE, props STRING",
    )
    got = funnel_depth(
        df, steps, within_seconds=within_min * 60, retry=True
    ).collect()
    ordered = sorted(
        ((et, m, i) for i, (et, m) in enumerate(evs)),
        key=lambda x: (x[1], x[2]),
    )
    want = _brute_retry_depth(ordered, steps, within_min)
    if not any(et in steps for et, _ in evs):
        assert got == []  # no funnel-step events: no row
    else:
        assert len(got) == 1 and got[0]["depth"] == want


@SLOW
@given(
    fam=st.integers(min_value=0, max_value=8),
    uniq=st.integers(min_value=0, max_value=4),
    cap=st.integers(min_value=2, max_value=5),
)
def test_lsh_cap_components_match_uncapped(spark, fam, uniq, cap):
    """For ANY family size and cap, capped and uncapped pair sets must
    span identical connected components."""
    from haplorec_spark.operators.dedup import (
        dedup_clusters,
        lsh_candidate_pairs,
    )

    rows_ = [
        (i, "shared boilerplate text body repeated across the family")
        for i in range(fam)
    ] + [
        (100 + i, f"unique document number {i} with its own distinct words")
        for i in range(uniq)
    ]
    if not rows_:
        return
    docs = spark.createDataFrame(rows_, "doc_id long, text string")
    capped = lsh_candidate_pairs(docs, hot_bucket_cap=cap)
    exact = lsh_candidate_pairs(docs, hot_bucket_cap=None)
    got = sorted(map(tuple, dedup_clusters(capped).collect()))
    want = sorted(map(tuple, dedup_clusters(exact).collect()))
    assert got == want
