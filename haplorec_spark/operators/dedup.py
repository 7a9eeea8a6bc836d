"""Document deduplication operators for large-scale training-data pipelines.

Five pair-finding families, each expressed as declarative DataFrame
programs (JVM-side, whole-stage-codegen friendly — no Python UDFs in
any hot path):

* exact duplicates           — md5(text) hash groupBy
* MinHash + LSH              — shingle → k salted-md5 minhashes → band →
                               bucket self-join (candidate pairs)
* n-gram Jaccard             — exact set similarity, pruned to pairs that
                               share at least one shingle
* SimHash                    — 32-bit sign-sum fingerprint + banded
                               near-duplicate join (Hamming <= 3)
* embedding cosine near-dup  — pairwise cosine over `array<float>` vectors

Plus the granularities and lifecycles around them: span-level
duplicated-passage detection/removal (``duplicate_ngram_spans`` /
``strip_duplicate_ngram_spans`` — line-level lives in
``operators.text.strip_boilerplate_lines``, embedding-cell SemDedup in
``operators.similarity.semantic_dedup_pairs``), incremental stores for
recurring drops (``write_lsh_store`` / ``write_hash_store`` with their
``incremental_*`` joins), and transitive-closure clustering of found
pairs (``dedup_clusters``).

Determinism contract: every hash is derived from ``md5`` (identical
lexicographic hex in Spark and DuckDB), so each operator has an exact
ANSI-SQL oracle (registered in haplorec_spark.queries).

Scale design (100 TB): all operators are one-or-two-shuffle plans.

* Exact dedup shuffles on a 128-bit hash — uniformly distributed, no skew.
* MinHash: the shingle explosion is map-side; the signature aggregate is a
  partial-aggregated groupBy(doc, seed) whose key count is docs x k; band
  buckets are tiny (near-dup clusters), so the bucket self-join is safe.
  A pathological bucket (constant text spam) is bounded because the join
  key includes the full band signature, and AQE skew-split covers the rest.
* SimHash: the 32-way bit explosion is a map-side ``explode`` feeding a
  partially-aggregated sum — no extra shuffle beyond groupBy(doc).
* Banded Hamming join: pigeonhole over 4 byte-bands guarantees recall for
  Hamming <= 3 while keeping the self-join keyed (never a cross join).
* Cosine near-dup is O(n^2) by construction — the scale path is the LSH /
  bucketed ANN in haplorec_spark.operators.similarity; this operator is
  the small-side exact baseline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# ------------------------------------------------------------------ exact


def exact_duplicates(
    docs: DataFrame, *, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Rows that are exact duplicates of an earlier (lower-id) row.

    Returns (id, canonical_id): every doc whose text hash was already
    claimed by a lower id, pointing at the keeper. Anti-joining these ids
    out of the corpus is the drop step.
    """
    hashed = docs.select(
        F.col(id_col), F.md5(F.col(text_col)).alias("_h")
    )
    w = Window.partitionBy("_h").orderBy(id_col)
    return (
        hashed.withColumn("canonical_id", F.min(id_col).over(w))
        .filter(F.col(id_col) != F.col("canonical_id"))
        .select(id_col, "canonical_id")
    )


# --------------------------------------------------------------- shingles


def word_shingles(
    docs: DataFrame,
    n: int = 3,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    segmentation: str = "whitespace",
    spread: bool = True,
    distinct: bool = True,
) -> DataFrame:
    """Distinct n-word shingles per document: (id, shingle).

    ``distinct=False`` skips the per-doc ``array_distinct`` (a map-side
    pass over every doc's shingle array) and streams every occurrence —
    for consumers that are multiplicity-insensitive (a semi join, or a
    DISTINCT of their own downstream). Everything stays map-side either
    way; this only saves the per-array dedup CPU.

    Tokenization is a plain single-space split of the lowercased text so
    the DuckDB oracle (string_split) tokenizes identically.

    ``segmentation="script"`` (round 9) shingles the script-segmented
    word stream instead (``text.segmented_text_sql`` — a no-op on
    single-spaced spaced-script text, per-character isolation on
    zh/ja/th): under the whitespace split a space-free-script document
    is ONE "word", yields ZERO n>=2 shingles, and is therefore
    INVISIBLE to every shingle-based near-dup detector — MinHash-LSH,
    n-gram Jaccard, and the incremental stores silently pass CJK
    near-copies through. Script-mode shingles are n-CHARACTER grams
    for CJK spans, the standard proxy. A store written under one mode
    must be queried under the same mode (band keys hash the shingles).

    The split is materialized once per row (not re-evaluated per
    shingle), and the doc scan is spread across cores first: a small
    single parquet file arrives as one partition, which would serialize
    the whole shingle/hash map phase. (At real scale the scan already
    has many partitions and the spread is a cheap no-op shuffle of doc
    rows, never of shingles.)

    ``spread=False`` skips that partition-count probe: ``df.rdd``
    compiles the frame's ENTIRE logical plan to a physical one on the
    driver, which is instant on a parquet scan but takes SECONDS when
    ``docs`` carries a deep joined lineage (measured 4.2 s on
    :func:`verify_jaccard_pairs`'s semi-join prune at sf0.1 — the probe
    alone was 3× the query's execution time). Callers whose input has
    already crossed a shuffle (or is semi-join-pruned to a small set)
    pass ``spread=False``: downstream groupBys re-spread the rows
    anyway, and at real scale the scan arrives pre-partitioned.
    """
    docs = _spread_docs(docs) if spread else docs
    return (
        _distinct_shingle_arrays(
            docs, n, text_col=text_col, id_col=id_col,
            segmentation=segmentation, distinct=distinct,
        )
        .select(F.col(id_col), F.explode("_sh").alias("shingle"))
    )


def _spread_docs(docs: DataFrame) -> DataFrame:
    """Repartition a doc frame that arrives in fewer partitions than the
    cluster has cores (a small single parquet file scans as ONE
    partition, which would serialize the whole shingle/hash map phase).
    The ``.rdd`` partition-count probe compiles the frame's logical plan
    on the driver — instant on a scan, SECONDS on a deep joined lineage
    — so callers with deep inputs skip the spread (see
    :func:`word_shingles` ``spread=False``)."""
    spark = docs.sparkSession
    parallelism = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < parallelism:
        docs = docs.repartition(parallelism)
    return docs


def _words_array(text_col: str, segmentation: str):
    """Column: the tokenized word array the shingle builders consume."""
    if segmentation == "script":
        from haplorec_spark.operators.text import _words_sql

        return F.expr(_words_sql(text_col, "script"))
    if segmentation == "whitespace":
        return F.split(F.lower(F.col(text_col)), " ")
    raise ValueError(
        f"unknown segmentation mode {segmentation!r}; "
        "expected 'whitespace' or 'script'"
    )


def _shingle_array_expr(n: int):
    """Column over a ``_ws`` word-array column: all n-word shingles (with
    duplicates), empty when the doc has fewer than n words (or null
    text — ``size(null) >= n`` is never true in either ANSI mode)."""
    return F.when(
        F.size(F.col("_ws")) >= n,
        F.expr(
            f"transform(sequence(0, size(_ws) - {n}),"
            f" i -> concat_ws(' ', slice(_ws, i + 1, {n})))"
        ),
    ).otherwise(F.array().cast("array<string>"))


def _distinct_shingle_arrays(
    docs: DataFrame,
    n: int,
    *,
    text_col: str,
    id_col: str,
    segmentation: str,
    distinct: bool = True,
) -> DataFrame:
    """(id, ``_sh`` = distinct-shingle array), docs with zero shingles
    dropped — the map-side core of every shingle consumer. Per-doc
    ``array_distinct`` equals the old explode + global ``.distinct()``
    row set (rows always differ by id across docs), without the
    corpus-wide exchange that distinct paid. ``distinct=False`` keeps
    every occurrence (multiplicity-insensitive consumers skip the
    per-array dedup CPU).

    Both the word array and the shingle array are materialized behind
    an ``explode(array(...))`` Generate barrier: a plain projection
    would be COLLAPSED into its consumers by Catalyst (CollapseProject
    has no common-subexpression sharing), re-running the whole
    tokenize + shingle build once per reference — 13× in
    :func:`lsh_band_keys` (the size filter plus every per-seed
    transform), measured as a 2–4× gate slowdown before the barrier.
    A Generate's output is an attribute, so consumers reference the
    computed array instead of inlining its expression."""
    words = docs.select(
        F.col(id_col),
        F.explode(
            F.array(_words_array(text_col, segmentation))
        ).alias("_ws"),
    )
    arr = _shingle_array_expr(n)
    if distinct:
        arr = F.array_distinct(arr)
    return (
        words.select(
            F.col(id_col),
            F.explode(F.array(arr)).alias("_sh"),
        )
        .filter(F.size("_sh") > 0)
    )


# ---------------------------------------------------------- MinHash + LSH


def lsh_parameters(
    threshold: float,
    num_hashes: int = 12,
    *,
    fn_weight: float = 1.0,
) -> tuple[int, int]:
    """(bands, rows_per_band) for a target Jaccard ``threshold``.

    The standard S-curve analysis (Leskovec/Rajaraman/Ullman, Mining
    of Massive Datasets §3.4): a pair with Jaccard s collides in at
    least one of b bands of r rows with probability 1-(1-s^r)^b, and
    the curve's inflection sits near (1/b)^(1/r). This picks, among
    the divisor pairs of ``num_hashes``, the (b, r) minimizing the
    integrated error against the step function at ``threshold``
    (false positives below it + ``fn_weight`` × false negatives above
    it, midpoint-integrated over 200 cells) — so dedup (miss = a kept
    duplicate) can
    weight false negatives higher than decontamination-style screens.

    Driver-side arithmetic only; feed the result to
    :func:`lsh_candidate_pairs` / :func:`lsh_band_keys` as
    ``bands=b`` with the same ``num_hashes``.
    """
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0, 1), got {threshold}")
    if num_hashes < 2:
        raise ValueError(f"num_hashes must be >= 2, got {num_hashes}")
    candidates = [
        (b, num_hashes // b)
        for b in range(1, num_hashes + 1)
        if num_hashes % b == 0
    ]

    def err(b: int, r: int) -> float:
        n = 200
        total = 0.0
        for i in range(n):
            s = (i + 0.5) / n
            p = 1.0 - (1.0 - s**r) ** b
            total += (p if s < threshold else fn_weight * (1.0 - p)) / n
        return total

    return min(candidates, key=lambda br: err(*br))


def minhash_signatures(
    shingles: DataFrame, num_hashes: int = 12, *, id_col: str = "doc_id"
) -> DataFrame:
    """(id, mh_0..mh_{k-1}): per-document minimum of k salted md5 hashes.

    The "hash family" is md5 prefixed with the seed; the minimum is taken
    lexicographically over hex strings — a total order both engines share.
    The k minima are k map-side-combined aggregate columns over one
    groupBy(doc) — no k-fold row blowup and a single shuffle whose width
    is |docs|, not |docs| x k.
    """
    return shingles.groupBy(id_col).agg(
        *[
            F.min(
                F.md5(F.concat_ws("|", F.lit(str(seed)), F.col("shingle")))
            ).alias(f"mh_{seed}")
            for seed in range(num_hashes)
        ]
    )


def lsh_band_keys(
    docs: DataFrame,
    *,
    num_hashes: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    segmentation: str = "whitespace",
) -> DataFrame:
    """(id, band, band_key): each document's LSH band signatures.

    The joinable form of the MinHash signature — band keys are
    concatenations of the per-seed minima (seed order). The whole
    signature is computed MAP-SIDE with array higher-order functions
    (one fused fold over the doc's distinct-shingle array yielding all
    per-seed minima — the same lexicographic hex-string minimum
    :func:`minhash_signatures` aggregates), so the only exchange any
    consumer pays is its own band-key shuffle: the old
    shingle-explode → distinct → groupBy(doc) pipeline cost two
    corpus-wide exchanges (and a sort-based aggregate, since
    min(string) has no hash-aggregate buffer) before the band keys
    even existed. Shared by the in-batch self-join
    (:func:`lsh_candidate_pairs`) and the incremental store
    (:func:`write_lsh_store` / :func:`incremental_candidate_pairs`).
    """
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    rows_per_band = num_hashes // bands
    sh = _distinct_shingle_arrays(
        _spread_docs(docs), shingle_n, text_col=text_col, id_col=id_col,
        segmentation=segmentation,
    )
    # ONE fused fold computes all k minima in a single interpreted pass
    # over the shingle array: k separate array_min(transform(...))
    # columns each re-walked the array (k loop setups, k materialized
    # md5 arrays) — measured ~10% slower on the minima stage. The 'g'
    # seed compares greater than every md5 hex string (hex is 0-9a-f),
    # and `_sh` is non-empty by construction, so each slot ends at the
    # true per-seed minimum — element s equals
    # array_min(transform(_sh, x -> md5(concat_ws('|', '<s>', x)))).
    per_elem = ", ".join(
        f"md5(concat_ws('|', '{seed}', x))" for seed in range(num_hashes)
    )
    mins = sh.select(
        F.col(id_col),
        F.expr(
            f"aggregate(_sh, array_repeat('g', {num_hashes}),"
            f" (acc, x) -> zip_with(acc, array({per_elem}),"
            f" (a, b) -> least(a, b)))"
        ).alias("_mh"),
    )
    band_entries = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    ",",
                    *[
                        F.element_at("_mh", s + 1)
                        for s in range(
                            b * rows_per_band, (b + 1) * rows_per_band
                        )
                    ],
                ).alias("band_key"),
            )
            for b in range(bands)
        ]
    )
    return mins.select(
        F.col(id_col), F.explode(band_entries).alias("bk")
    ).select(
        F.col(id_col),
        F.col("bk.band").alias("band"),
        F.col("bk.band_key").alias("band_key"),
    )


def lsh_candidate_pairs(
    docs: DataFrame,
    *,
    num_hashes: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    segmentation: str = "whitespace",
    hot_bucket_cap: int | None = 1024,
) -> DataFrame:
    """MinHash-LSH candidate near-duplicate pairs (id_a < id_b).

    Signature is split into ``bands`` bands of ``num_hashes/bands`` rows;
    documents sharing any full band signature become a candidate pair.

    ``hot_bucket_cap`` is the skewed-key guard (the round-9 verdict's
    one remaining 100 TB scale-killer): a boilerplate family of m
    near-identical documents shares ALL its band keys, so the naive
    bucket-local self-join emits ~bands·m²/2 pairs from a single key —
    at m = 10⁵ (routine on a crawl) that is a 10¹⁰-row shuffle from one
    bucket. With the cap set (the default), pairs are generated from
    ONE groupBy on (band, band_key):

    * bucket size ≤ cap → every within-bucket pair, exploded map-side
      from the sorted id array — identical output to the self-join,
      and the (expensive) shingle→minhash upstream is scanned ONCE
      instead of twice;
    * bucket size > cap → star edges only (bucket-minimum id → each
      other member), O(m) edges per band. The connected components of
      the candidate graph are IDENTICAL to the uncapped output (a
      clique and a star on the same vertex set have the same
      component), so :func:`dedup_clusters` /
      :func:`~haplorec_spark.operators.sampling.leakage_safe_split`
      consumers are unaffected; only the *pair list itself* is reduced
      — a consumer that Jaccard-verifies every candidate pair (e.g.
      :func:`verify_jaccard_pairs` feeding a report of all near-dup
      pairs, not a drop decision) sees hub–member pairs only for
      mega-families, so pass ``hot_bucket_cap=None`` there if the
      exhaustive list matters more than the quadratic risk.

    ``None`` restores the exact all-pairs output (row-identical to a
    bucket-local self-join, emitted from the same grouped path). The
    grouped path holds one bucket's id array in a single row
    (~8–30 MB at m = 10⁶) — bounded by the largest duplicate family,
    never by the corpus.
    """
    if hot_bucket_cap is not None and hot_bucket_cap < 2:
        raise ValueError(
            f"hot_bucket_cap must be >= 2 (or None), got {hot_bucket_cap}"
        )
    banded = lsh_band_keys(
        docs,
        num_hashes=num_hashes,
        bands=bands,
        shingle_n=shingle_n,
        text_col=text_col,
        id_col=id_col,
        segmentation=segmentation,
    )
    # Both cap settings ride the ONE-groupBy grouped path — with the
    # cap as the star-edge cutoff, or uncapped (None) emitting every
    # within-bucket pair, which is row-identical to the old bucket
    # self-join. The self-join spelling paid the map-side signature
    # pipeline TWICE once lsh_band_keys stopped shuffling (each join
    # side re-derived it from the scan; under auto-broadcast there is
    # no exchange to reuse), and its per-bucket row blowup is the same
    # m² either way.
    return (
        _bucket_pairs(
            banded.select(F.col(id_col).alias("_bid"), "band", "band_key"),
            ["band", "band_key"],
            hot_bucket_cap,
        )
        .select("doc_id_a", "doc_id_b")
        .distinct()
    )


def _bucket_pairs(
    keyed: DataFrame, bucket_cols: list[str], cap: int | None
) -> DataFrame:
    """(doc_id_a, doc_id_b) per bucket from a (_bid, *bucket_cols)
    frame: all pairs for buckets of size ≤ ``cap``, star edges
    (bucket-min id → member) above it; ``cap=None`` emits every
    within-bucket pair unconditionally (exact semantics). One shuffle
    (the groupBy); pair generation is a map-side array lambda over the
    sorted ids, so no self-join exists in the plan and upstream is
    scanned once."""
    grouped = keyed.groupBy(*bucket_cols).agg(
        F.sort_array(F.collect_list("_bid")).alias("_ids")
    )
    all_pairs = (
        "flatten(transform(_ids, (x, i) ->"
        " transform(slice(_ids, i + 2, size(_ids)),"
        " y -> named_struct('doc_id_a', x, 'doc_id_b', y))))"
    )
    star = (
        "transform(slice(_ids, 2, size(_ids) - 1),"
        " y -> named_struct('doc_id_a', element_at(_ids, 1),"
        " 'doc_id_b', y))"
    )
    pairs = (
        F.expr(all_pairs)
        if cap is None
        else F.when(F.size("_ids") <= cap, F.expr(all_pairs)).otherwise(
            F.expr(star)
        )
    )
    return (
        grouped.filter(F.size("_ids") >= 2)
        .select(F.explode(pairs).alias("_p"))
        .select("_p.doc_id_a", "_p.doc_id_b")
    )



def _write_segmentation_marker(spark, path: str, segmentation: str) -> None:
    """Record the shingle segmentation mode a store was written under
    as ``<path>/_segmentation`` (underscore-prefixed — table reads of
    the store skip it, the packing ``_manifest`` convention). Written
    on every store write; an existing marker is VALIDATED first, so a
    job whose config flipped modes fails at write time instead of
    silently appending incompatible band keys."""
    _validate_segmentation_marker(spark, path, segmentation)
    spark.createDataFrame(
        [(segmentation,)], "segmentation string"
    ).write.mode("overwrite").parquet(f"{path}/_segmentation")


def _validate_segmentation_marker(
    spark, path: str, segmentation: str
) -> None:
    """Raise if the store at ``path`` carries a ``_segmentation``
    marker for a DIFFERENT mode — band keys hash the shingles, so a
    cross-mode query joins against keys that can never collide and
    silently finds no historical duplicates (review-caught, round 9).
    A store with no marker is legacy: pre-marker stores were always
    whitespace-mode, so querying one with segmentation="script" also
    raises (re-write the store under the new mode instead)."""
    from pyspark.errors.exceptions.captured import AnalysisException

    try:
        stored = spark.read.parquet(f"{path}/_segmentation").first()
        mode = stored["segmentation"]
    except AnalysisException:
        mode = None  # no marker: store absent or legacy
    if mode is not None and mode != segmentation:
        raise ValueError(
            f"LSH store at {path} was written with "
            f"segmentation={mode!r}; querying/appending it with "
            f"{segmentation!r} would silently match nothing — use the "
            "store's mode or rebuild the store"
        )
    if mode is None and segmentation != "whitespace":
        try:
            spark.read.parquet(path)
        except AnalysisException:
            return  # store doesn't exist yet — any mode is fine
        raise ValueError(
            f"LSH store at {path} predates segmentation markers "
            "(always whitespace-mode); querying it with "
            f"segmentation={segmentation!r} would silently match "
            "nothing — rebuild the store under the new mode"
        )


def write_lsh_store(
    docs: DataFrame,
    path: str,
    *,
    num_hashes: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    mode: str = "append",
    segmentation: str = "whitespace",
) -> None:
    """Persist (id, band, band_key) rows for incremental dedup.

    The store holds band keys, not text: ~bands × 40 bytes per
    document, so the historical corpus's dedup state is ~1000× smaller
    than the corpus. Partitioned by band (band-pruned reads); appends
    accumulate drops — dedup the store itself only if the same batch
    may be written twice. For recurring large joins, bucketing the
    store on band_key (``scale.write_bucketed``) removes the store-side
    shuffle entirely.
    """
    _write_segmentation_marker(docs.sparkSession, path, segmentation)
    lsh_band_keys(
        docs,
        num_hashes=num_hashes,
        bands=bands,
        shingle_n=shingle_n,
        text_col=text_col,
        id_col=id_col,
        segmentation=segmentation,
    ).write.mode(mode).partitionBy("band").parquet(path)


def compact_lsh_store(
    spark, path: str, *, representatives_only: bool = False
) -> None:
    """Rewrite the append-accumulated band-key store to one file per
    band partition with exact duplicate rows removed.

    Every :func:`write_lsh_store` append adds files; after thousands
    of drops a band-pruned probe opens thousands of tiny files, and a
    batch that was written twice (the append mode's documented risk)
    duplicates its rows. Compaction ``.distinct()``s the rows — a pure
    no-op for every consumer (:func:`incremental_candidate_pairs`
    deduplicates candidates anyway; band keys carry no multiplicity
    meaning) — and repartitions to one file per band. The
    ``_segmentation`` marker is re-written after the swap (the
    stage-and-rename replaces the whole directory). Offline
    single-writer maintenance.

    ``representatives_only=True`` is the STORE-SIDE twin of
    :func:`lsh_candidate_pairs`' hot-bucket cap: each (band, band_key)
    bucket collapses to its minimum-id row, so a 10⁵-copy boilerplate
    family in years of history joins an incoming batch as ONE row per
    band instead of 10⁵ (the incremental join's output against a
    mega-family drops from m_batch × m_store to m_batch). For the
    drop/keep decision this is lossless — a new document matches the
    representative iff it matches any member (band keys are equal
    across the bucket by definition) — but ``doc_id_matched`` then
    names the representative, so keep the exhaustive store if you
    audit WHICH historical document matched."""
    from haplorec_spark.operators.stores import replace_parquet_dir

    try:
        marker = spark.read.parquet(f"{path}/_segmentation").first()
        segmentation = marker["segmentation"] if marker else None
    except Exception:
        segmentation = None
    store = spark.read.parquet(path)
    id_cols = [c for c in store.columns if c not in ("band", "band_key")]
    if representatives_only:
        store = store.groupBy("band", "band_key").agg(
            *[F.min(c).alias(c) for c in id_cols]
        )
    else:
        store = store.distinct()
    store = store.repartition("band")
    replace_parquet_dir(store, path, partition_by=("band",))
    if segmentation is not None:
        spark.createDataFrame(
            [(segmentation,)], "segmentation string"
        ).write.mode("overwrite").parquet(f"{path}/_segmentation")


def incremental_candidate_pairs(
    new_docs: DataFrame,
    store_path: str,
    *,
    num_hashes: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    segmentation: str = "whitespace",
    hot_bucket_cap: int | None = 1024,
    store_probe_cap: int | None = None,
) -> DataFrame:
    """(doc_id_new, doc_id_matched, source): near-dup candidates of an
    incoming batch against BOTH the historical store and itself.
    ``hot_bucket_cap`` governs the IN-BATCH half (see
    :func:`lsh_candidate_pairs`; pass ``None`` when a downstream
    Jaccard-verification consumer needs the exhaustive pair list); the
    store half's mega-family guard is
    ``compact_lsh_store(representatives_only=True)``, and
    ``store_probe_cap`` additionally bounds false-collision hot store
    keys (see :func:`history_candidate_pairs`).

    The incremental twin of :func:`lsh_candidate_pairs` — a new drop
    is deduped without re-scanning the historical corpus: only its
    band-key store (1000× smaller) joins in. ``source`` is 'history'
    (matched a stored document) or 'batch' (matched inside the drop;
    id_new > id_matched, mirroring the self-join's id_a < id_b).
    After dropping/keeping, append the surviving batch's keys via
    :func:`write_lsh_store` to advance the store.
    """
    vs_history = history_candidate_pairs(
        new_docs,
        store_path,
        num_hashes=num_hashes,
        bands=bands,
        shingle_n=shingle_n,
        text_col=text_col,
        id_col=id_col,
        segmentation=segmentation,
        store_probe_cap=store_probe_cap,
    ).withColumn("source", F.lit("history"))
    vs_batch = (
        lsh_candidate_pairs(
            new_docs,
            num_hashes=num_hashes,
            bands=bands,
            shingle_n=shingle_n,
            text_col=text_col,
            id_col=id_col,
            segmentation=segmentation,
            hot_bucket_cap=hot_bucket_cap,
        )
        .select(
            F.col("doc_id_b").alias("doc_id_new"),
            F.col("doc_id_a").alias("doc_id_matched"),
        )
        .withColumn("source", F.lit("batch"))
    )
    return vs_history.unionByName(vs_batch)


def history_candidate_pairs(
    new_docs: DataFrame,
    store_path: str,
    *,
    num_hashes: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    segmentation: str = "whitespace",
    store_probe_cap: int | None = None,
) -> DataFrame:
    """(doc_id_new, doc_id_matched): the HISTORY half of
    :func:`incremental_candidate_pairs` alone — an incoming batch's
    band keys joined against the persisted store, no in-batch pairs.
    Used by consumers that handle the in-batch half with a different
    strategy (e.g. the bounded star-verify path in
    :func:`~haplorec_spark.streaming.stream_dedup_ingest`).

    Store-side bound: the join fans out by the number of STORED ids
    sharing a probed band key. When the store advances with SURVIVORS
    only (the ``stream_dedup_ingest`` contract) a real duplicate
    family never accumulates there — each batch's family members drop
    against the store's one representative — so same-key store rows
    stay representative-sized; after many appends of the same
    surviving ids run ``compact_lsh_store(representatives_only=True)``
    to restore that bound physically. What survivors-only does NOT
    bound is FALSE collisions: many *distinct* survivors can land on
    one band key (hash luck), and every later probe of that key pays
    the full fan-out even though verification will discard the pairs.
    ``store_probe_cap`` pins that tail: per (band, band_key), only the
    ``cap`` smallest stored ids are probed (the hub convention —
    smallest ids make valid witnesses and keep reruns deterministic).
    The store is first semi-join-pruned to the batch's own keys, so
    the cap's window runs over probed-key rows only, never the whole
    store. A capped probe can miss a true match whose stored witness
    ranks past the cap on EVERY shared key — under survivors-only
    stores that requires ≥ cap distinct false-colliding survivors on
    each of the document's keys, which is the pathological case the
    cap exists to bound (seeded-collision test-pinned).
    """
    spark = new_docs.sparkSession
    if store_probe_cap is not None and store_probe_cap < 1:
        raise ValueError(
            f"store_probe_cap must be >= 1, got {store_probe_cap}"
        )
    _validate_segmentation_marker(spark, store_path, segmentation)
    new_banded = lsh_band_keys(
        new_docs,
        num_hashes=num_hashes,
        bands=bands,
        shingle_n=shingle_n,
        text_col=text_col,
        id_col=id_col,
        segmentation=segmentation,
    )
    probe = new_banded.select(
        F.col(id_col).alias("doc_id_new"), "band", "band_key"
    )
    store = spark.read.parquet(store_path).select(
        F.col(id_col).alias("doc_id_matched"), "band", "band_key"
    )
    if store_probe_cap is not None:
        pruned = store.join(
            probe.select("band", "band_key").distinct(),
            on=["band", "band_key"],
            how="left_semi",
        )
        w = Window.partitionBy("band", "band_key").orderBy(
            "doc_id_matched"
        )
        store = (
            # distinct first: append-duplicated store rows (the
            # documented pre-compaction state) must not consume cap
            # slots, or a distinct survivor ranking within the cap
            # would be silently excluded
            pruned.distinct()
            .withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= store_probe_cap)
            .drop("_rk")
        )
    return (
        probe.join(store, on=["band", "band_key"])
        .select("doc_id_new", "doc_id_matched")
        .distinct()
    )


def write_hash_store(
    docs: DataFrame,
    path: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    mode: str = "append",
) -> None:
    """Persist (id, content hash) rows for incremental EXACT dedup.

    The exact-dedup twin of :func:`write_lsh_store`: 1 row × ~48 bytes
    per historical document, so a recurring drop dedups against all of
    history by joining this store, never by re-reading corpus text.
    The md5 key is uniformly distributed — no partition column needed;
    for recurring large joins bucket it on ``_h`` via
    ``scale.write_bucketed`` to remove the store-side shuffle.
    """
    docs.select(
        F.col(id_col), F.md5(F.col(text_col)).alias("_h")
    ).write.mode(mode).parquet(path)


def incremental_exact_duplicates(
    new_docs: DataFrame,
    store_path: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id_new, doc_id_matched, source): exact duplicates of an
    incoming batch against the historical hash store ('history') and
    inside the batch itself ('batch', id_new > id_matched).

    Same contract as :func:`incremental_candidate_pairs`, exact-match
    flavor: the anti-join drop step and the store append are the
    caller's (or :func:`haplorec_spark.streaming.stream_dedup_ingest`'s)
    next move.
    """
    spark = new_docs.sparkSession
    hashed = new_docs.select(
        F.col(id_col).alias("doc_id_new"),
        F.md5(F.col(text_col)).alias("_h"),
    )
    store = spark.read.parquet(store_path)
    vs_history = (
        hashed.join(
            store.select(F.col(id_col).alias("doc_id_matched"), "_h"),
            on="_h",
        )
        .select("doc_id_new", "doc_id_matched")
        .distinct()
        .withColumn("source", F.lit("history"))
    )
    vs_batch = (
        exact_duplicates(new_docs, text_col=text_col, id_col=id_col)
        .select(
            F.col(id_col).alias("doc_id_new"),
            F.col("canonical_id").alias("doc_id_matched"),
        )
        .withColumn("source", F.lit("batch"))
    )
    return vs_history.unionByName(vs_batch)


# ------------------------------------------------- duplicate n-gram spans


def _dup_ngram_starts(
    docs: DataFrame,
    n: int,
    min_df: int,
    text_col: str,
    id_col: str,
    max_broadcast_grams: int = 2_000_000,
) -> DataFrame:
    """(id, pos): start positions (0-based word index) of n-grams that
    occur in >= min_df distinct documents.

    The duplicated-n-gram set is MEASURED before the join back onto the
    gram stream (the ``dedup_clusters``/``assign_ids`` adaptive
    pattern): under ``max_broadcast_grams`` hashes (~32 B each) it
    broadcasts; above, it shuffle-joins — Lee et al.'s own numbers put
    duplicated n-grams at ~1% of a web corpus's tokens, which at 100 TB
    is corpus-proportional, far past any executor's broadcast budget.
    The hint pins the plan both ways (a mis-estimated auto-broadcast of
    an unbounded set is an OOM, not a slow query)."""
    ws = f"split(lower({text_col}), ' ')"
    # documents shorter than n words contribute no n-grams. The guard
    # must be an explicit CASE: sequence(0, size - n) AUTO-REVERSES
    # when size < n (sequence(0, -1) = [0, -1]), which would feed
    # slice() a 0 start and crash under ANSI.
    gram_structs = (
        f"CASE WHEN size({ws}) >= {n} THEN"
        f" transform(sequence(0, size({ws}) - {n}),"
        f" i -> struct(i as pos,"
        f" md5(concat_ws(' ', slice({ws}, i + 1, {n}))) as h))"
        f" ELSE cast(array() as array<struct<pos:int,h:string>>) END"
    )
    grams = docs.select(
        F.col(id_col), F.explode(F.expr(gram_structs)).alias("g")
    ).select(F.col(id_col), F.col("g.pos").alias("pos"), F.col("g.h").alias("h"))
    # df counts distinct DOCS per hash; the within-doc dedup is per-row
    # (array_distinct over the doc's own gram hashes), so the count
    # aggregate is the only corpus-wide exchange on this branch — the
    # old (h, id) global distinct paid a second one for the same rows
    hot = (
        docs.select(
            F.explode(
                F.expr(
                    f"CASE WHEN size({ws}) >= {n} THEN array_distinct("
                    f"transform(sequence(0, size({ws}) - {n}),"
                    f" i -> md5(concat_ws(' ', slice({ws}, i + 1, {n})))))"
                    f" ELSE cast(array() as array<string>) END"
                )
            ).alias("h")
        )
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= min_df)
        .select("h")
        # checkpoint, not persist (round 13): the measured count and the
        # join share one materialization either way, but persist had no
        # release path (the caller consumes the join lazily) — blocks now
        # free when the frame is GC'd, and the join side reads a
        # LogicalRDD. Duplicated-gram sets are ~1% of corpus tokens
        # (Lee et al.), the same MEMORY_AND_DISK footprint persist had.
        .localCheckpoint()
    )
    n_hot = hot.count()
    side = (
        F.broadcast(hot) if n_hot <= max_broadcast_grams else hot.hint("merge")
    )
    return grams.join(side, on="h").select(id_col, "pos")


def duplicate_ngram_spans(
    docs: DataFrame,
    *,
    n: int = 20,
    min_df: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_broadcast_grams: int = 2_000_000,
) -> DataFrame:
    """(id, span_start, span_end): maximal word-index spans covered by
    n-grams occurring in >= ``min_df`` distinct documents — the
    substring granularity of the dedup family (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better":
    verbatim-repeated SPANS, not whole documents, are the dominant
    duplication mode in web corpora).

    Overlapping/touching duplicated n-grams merge into one span
    (islands via a per-document running-max window). Spans are
    inclusive word indices into ``split(lower(text), ' ')``.

    Scale shape: the n-gram stream is map-side (one explode at word
    granularity), the document-frequency cut is ONE partially
    aggregated hash-keyed shuffle (within-doc gram dedup is a map-side
    ``array_distinct``), and — like the boilerplate hot-line set — the
    duplicated n-grams join back adaptively on their MEASURED size
    (broadcast under ``max_broadcast_grams``, shuffle join above — see
    :func:`_dup_ngram_starts`). The island merge is a map-side linear
    scan over each doc's sorted start array (island starts are
    positions with no predecessor within n; island ends pair with them
    index-for-index), so the whole tail costs one doc-keyed exchange —
    the old window + re-aggregate spelling paid two, plus a sort.
    """
    starts = _dup_ngram_starts(
        docs, n, min_df, text_col, id_col, max_broadcast_grams
    )
    # positions ascend after sort_array; p starts a new island iff the
    # previous duplicated position is more than n back (prev_max_end =
    # prev_pos + n - 1 < pos - 1), ends one iff the next is more than n
    # ahead — the k-th start pairs with the k-th end by construction
    span_starts = (
        "filter(transform(_ps, (p, i) -> struct(p as p, i as i)),"
        " s -> s.i = 0 OR s.p > element_at(_ps, s.i) + " f"{n})"
    )
    span_ends = (
        "filter(transform(_ps, (p, i) -> struct(p as p, i as i)),"
        " s -> s.i = size(_ps) - 1"
        " OR element_at(_ps, s.i + 2) > s.p + " f"{n})"
    )
    spans = (
        f"zip_with({span_starts}, {span_ends},"
        f" (s, e) -> struct(s.p as span_start, e.p + {n} - 1 as span_end))"
    )
    return (
        starts.groupBy(id_col)
        .agg(F.sort_array(F.collect_list("pos")).alias("_ps"))
        .select(F.col(id_col), F.explode(F.expr(spans)).alias("_sp"))
        .select(
            id_col,
            F.col("_sp.span_start").alias("span_start"),
            F.col("_sp.span_end").alias("span_end"),
        )
    )


def strip_duplicate_ngram_spans(
    docs: DataFrame,
    *,
    n: int = 20,
    min_df: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_broadcast_grams: int = 2_000_000,
) -> DataFrame:
    """(id, text_clean, n_words, n_removed): drop every word covered by
    a duplicated n-gram (the removal face of
    :func:`duplicate_ngram_spans`).

    Removal is map-side once the duplicated start positions collect per
    document (a |dup-starts|-wide groupBy, duplicate-sized): a word at
    index i is removed iff some duplicated n-gram starts in
    ``[i - n + 1, i]``, evaluated as an ``exists`` over the per-doc
    sorted start array. Documents with no duplicated spans pass
    through untouched via the left join.
    """
    starts = (
        _dup_ngram_starts(
            docs, n, min_df, text_col, id_col, max_broadcast_grams
        )
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list("pos")).alias("_starts"))
    )
    # hashes matched on lowercased words, but reconstruction keeps the
    # original casing — a single-space split has identical arity/indices
    ws = f"split({text_col}, ' ')"
    # the kept-words scan is O(words × starts) per document; it is
    # materialized ONCE as a helper column so text_clean and n_removed
    # both read it instead of re-running the exists() scan (the
    # language-ID scorer's materialize-before-reuse pattern)
    kept = (
        f"filter(transform({ws}, (w, i) -> struct(w as w, i as i)),"
        f" s -> NOT exists(_starts,"
        f" st -> st <= s.i AND s.i < st + {n}))"
    )
    return (
        docs.join(starts, on=id_col, how="left")
        .withColumn(
            "_kept",
            F.expr(
                f"CASE WHEN _starts IS NULL THEN NULL ELSE {kept} END"
            ),
        )
        .select(
            F.col(id_col),
            F.when(F.col("_starts").isNull(), F.col(text_col))
            .otherwise(
                F.expr("array_join(transform(_kept, s -> s.w), ' ')")
            )
            .alias("text_clean"),
            F.expr(f"size({ws})").alias("n_words"),
            F.when(F.col("_starts").isNull(), F.lit(0))
            .otherwise(F.expr(f"size({ws}) - size(_kept)"))
            .alias("n_removed"),
        )
    )


# --------------------------------------------------------- n-gram Jaccard


def ngram_jaccard_pairs(
    docs: DataFrame,
    *,
    shingle_n: int = 3,
    threshold: float = 0.6,
    max_doc_freq: float | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    segmentation: str = "whitespace",
) -> DataFrame:
    """Exact Jaccard similarity over word-shingle sets, >= threshold.

    Pruned relationally: only pairs sharing >= 1 shingle are scored (the
    join on shingle), so the plan is shingle-keyed shuffle + the
    per-pair count aggregate — division-style, no cross join. Set sizes
    ride each exploded shingle row as a map-side ``size(_sh)`` int (one
    extra int per shuffled row) and come out of the pair aggregate as
    ``max`` — no size-aggregate subtree, no re-join of sizes onto
    pairs, which the old spelling paid two extra exchanges and two
    sort-merge joins for.

    ``max_doc_freq`` is the 100 TB lever: shingles appearing in more
    than that fraction of documents (boilerplate) are dropped BEFORE the
    self-join, capping the join's hottest keys. Scores then become
    Jaccard over the filtered shingle sets — approximate against the
    unfiltered metric (common shingles carry no near-dup signal), exact
    over what remains, so leave it None when an exact oracle matters.
    (The filtered path re-counts sizes AFTER the anti-join — the
    map-side size would be the unfiltered one.)
    """
    sh = (
        _distinct_shingle_arrays(
            _spread_docs(docs), shingle_n, text_col=text_col,
            id_col=id_col, segmentation=segmentation,
        )
        .select(
            F.col(id_col),
            F.size("_sh").alias("n_sh"),
            F.explode("_sh").alias("shingle"),
        )
    )
    if max_doc_freq is not None:
        n_docs = docs.select(id_col).distinct().count()
        cap = max_doc_freq * n_docs
        hot = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > cap)
            .select("shingle")
        )
        sh = (
            sh.join(F.broadcast(hot), on="shingle", how="left_anti")
            .drop("n_sh")
        )
        sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
        a = sh.select(F.col(id_col).alias("doc_id_a"), "shingle")
        b = sh.select(F.col(id_col).alias("doc_id_b"), "shingle")
        inter = (
            a.join(b, on="shingle")
            .filter(F.col("doc_id_a") < F.col("doc_id_b"))
            .groupBy("doc_id_a", "doc_id_b")
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
        scored = (
            inter.join(
                sizes.select(
                    F.col(id_col).alias("doc_id_a"),
                    F.col("n_sh").alias("n_a"),
                ),
                on="doc_id_a",
            )
            .join(
                sizes.select(
                    F.col(id_col).alias("doc_id_b"),
                    F.col("n_sh").alias("n_b"),
                ),
                on="doc_id_b",
            )
        )
    else:
        a = sh.select(
            F.col(id_col).alias("doc_id_a"),
            F.col("n_sh").alias("n_a"),
            "shingle",
        )
        b = sh.select(
            F.col(id_col).alias("doc_id_b"),
            F.col("n_sh").alias("n_b"),
            "shingle",
        )
        scored = (
            a.join(b, on="shingle")
            .filter(F.col("doc_id_a") < F.col("doc_id_b"))
            .groupBy("doc_id_a", "doc_id_b")
            .agg(
                F.count(F.lit(1)).alias("n_common"),
                F.max("n_a").alias("n_a"),
                F.max("n_b").alias("n_b"),
            )
        )
    return (
        scored.withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_id_a", "doc_id_b", "jaccard")
    )


# ---------------------------------------------------------------- SimHash

_HEXMAP = "0123456789abcdef"


def _simhash32_block(texts: list) -> tuple[list, list]:
    """Vectorized 32-bit SimHash over a batch of ALREADY-LOWERCASED
    texts: returns (live row indices, simhash int per live row). A
    ``None`` text emits no row — the expression twin's
    ``explode(split(NULL))`` drops the document the same way.

    Token bits come from the first 4 bytes of md5(token) (== the first
    8 hex chars the expression twin reads); md5 is computed once per
    DISTINCT token in the batch (natural-language batches repeat most
    words), votes are per-doc segment sums over the unpacked bit
    matrix, and bit k of the fingerprint is set iff its +/-1 vote sum
    is positive — integer arithmetic end to end, so kernel and
    expression are bit-identical by construction."""
    import hashlib

    import numpy as np

    live: list[int] = []
    counts: list[int] = []
    uniq_index: dict[str, int] = {}
    uniq_tokens: list[str] = []
    inv: list[int] = []
    for i, t in enumerate(texts):
        if t is None:
            continue
        toks = t.split(" ")
        live.append(i)
        counts.append(len(toks))
        for tok in toks:
            j = uniq_index.get(tok)
            if j is None:
                j = len(uniq_tokens)
                uniq_index[tok] = j
                uniq_tokens.append(tok)
            inv.append(j)
    if not live:
        return [], []
    md5 = hashlib.md5
    hb = b"".join(
        md5(tok.encode("utf-8")).digest()[:4] for tok in uniq_tokens
    )
    # (n_uniq, 32) bit matrix, MSB of byte 0 first == expression pos 0
    ubits = np.unpackbits(
        np.frombuffer(hb, dtype=np.uint8).reshape(-1, 4), axis=1
    )
    token_bits = ubits[np.asarray(inv, dtype=np.int64)]
    cnts = np.asarray(counts, dtype=np.int64)
    starts = np.concatenate(
        (np.zeros(1, dtype=np.int64), np.cumsum(cnts[:-1]))
    )
    ones = np.add.reduceat(token_bits, starts, axis=0, dtype=np.int64)
    # vote sum at position p = ones - zeros = 2*ones - n_tokens
    bit_set = (2 * ones - cnts[:, None]) > 0
    weights = np.int64(1) << np.arange(31, -1, -1, dtype=np.int64)
    sims = (bit_set * weights).sum(axis=1, dtype=np.int64)
    return live, [int(x) for x in sims]


def simhash32(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    kernel: bool = True,
) -> DataFrame:
    """(id, simhash): 32-bit SimHash over word tokens.

    Per token, bits come from the first 8 hex chars of md5(token); per bit
    position the +-1 votes are summed; positive sums set the bit.

    Round 13 (guide §4.2): the signature computes in a vectorized
    ``mapInArrow`` numpy kernel (:func:`_simhash32_block`) — fully
    map-side, so the per-token row blowup (``explode`` at word
    granularity) and the groupBy(doc) exchange of the expression twin
    disappear from the plan, and md5 runs once per DISTINCT batch token
    instead of once per token occurrence. Lowercasing stays in the JVM
    (``lower`` is collation/locale-sensitive; splitting on a literal
    space is not), so only (id, lowered text) crosses the Python
    boundary and the kernel is bit-identical to the twin (parity-pinned
    by ``test_simhash32_kernel_matches_expression_twin``; the DuckDB
    oracle of q_dedup_simhash_pairs recomputes the same fingerprints
    independently). ``kernel=False`` keeps the expression twin: 32
    map-side-combined sum aggregates over one groupBy(doc) — no row
    blowup, one shuffle of width |docs| x 32 ints. (A fully map-side
    EXPRESSION spelling — 32 ``aggregate`` higher-order folds over the
    token array — was MEASURED 2.2× slower at sf0.1: HOFs evaluate
    interpreted; that lesson is why the round-13 kernel is numpy, not
    HOFs.)

    The kernel declares ``simhash`` non-nullable, which is true: it
    emits an integer for every live row and drops ``None`` texts
    instead. A nullable field would let the optimizer infer
    ``isnotnull(simhash)`` from the banded self-join of
    :func:`simhash_near_duplicates` and push it under the two join
    sides only, so the star-edge side's grouped subtree would no
    longer match theirs, its exchange could not be reused, and the
    kernel and its shuffle would run twice.
    """
    if not kernel:
        return _simhash32_expr(docs, text_col=text_col, id_col=id_col)
    from pyspark.sql import types as T

    sel = docs.select(
        F.col(id_col), F.lower(F.col(text_col)).alias("_lt")
    )
    id_field = sel.schema[id_col]
    out_type = T.StructType(
        [id_field, T.StructField("simhash", T.LongType(), nullable=False)]
    )

    def kern(batches):
        import pyarrow as pa

        for batch in batches:
            texts = batch.column(1).to_pylist()
            live, sims = _simhash32_block(texts)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(0).take(pa.array(live, type=pa.int64())),
                    pa.array(sims, type=pa.int64()),
                ],
                names=[id_col, "simhash"],
            )

    return sel.mapInArrow(kern, out_type)


def _simhash32_expr(
    docs: DataFrame, *, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The expression twin of :func:`simhash32` (pre-round-13 spelling):
    explode to token rows, 32 partially-aggregated vote sums over one
    groupBy(doc). Kept as the parity oracle for the kernel and for
    callers that need a no-Python plan."""
    tokens = docs.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("tok"),
    ).withColumn("h8", F.substring(F.md5(F.col("tok")), 1, 8))

    def vote(pos: int):
        nibble, shift = pos // 4, 3 - pos % 4
        bit = F.expr(
            f"shiftright(instr('{_HEXMAP}', substring(h8, {nibble + 1}, 1)) - 1,"
            f" {shift}) % 2"
        )
        return F.sum(2 * bit - 1).alias(f"s_{pos}")

    votes = tokens.groupBy(id_col).agg(*[vote(p) for p in range(32)])
    simhash = None
    for pos in range(32):
        term = F.when(
            F.col(f"s_{pos}") > 0, F.lit(1 << (31 - pos)).cast("bigint")
        ).otherwise(F.lit(0).cast("bigint"))
        simhash = term if simhash is None else simhash + term
    return votes.select(F.col(id_col), simhash.alias("simhash"))


def simhash_near_duplicates(
    docs: DataFrame,
    *,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    collapse_identical: bool = True,
) -> DataFrame:
    """(id_a, id_b, hamming) pairs with SimHash Hamming distance <= 3.

    Banded: the 32-bit fingerprint splits into 4 byte-bands; by
    pigeonhole any pair within Hamming 3 shares at least one exact band,
    so the self-join is keyed on (band_index, band_byte) — recall is
    exact, and no cross join exists in the plan.

    ``collapse_identical`` (the default) is the skewed-key guard: a
    boilerplate family of m identical documents has ONE fingerprint, so
    the naive banded self-join emits ~4·m²/2 pairs from a single
    (band, byte) key. Collapsed, each distinct fingerprint enters the
    banded join once via its representative (group-minimum id), and the
    family is reported as m−1 star edges (rep → member, hamming 0) —
    O(m) rows, every emitted edge a TRUE pair, and the connected
    components of the output are IDENTICAL to the uncapped pair set
    (within a group the star spans the clique; across groups x–y
    qualifies iff rep_x–rep_y does, since hamming is a function of the
    fingerprints alone). What changes is only the exhaustive pair list:
    cross-family member×member pairs are represented by their
    rep–rep edge. Pass ``collapse_identical=False`` for the literal
    all-pairs output.
    """
    if max_hamming > 3:
        raise ValueError("byte-banding over 32 bits guarantees recall only to 3")
    sim = simhash32(docs, text_col=text_col, id_col=id_col)
    if not collapse_identical:
        return _simhash_banded_pairs(sim, id_col=id_col, max_hamming=max_hamming)
    # ONE grouped frame feeds everything (round-10 bench fix, twice:
    # the first collapse design joined sim back against a reps
    # aggregate — corpus signature aggregate scheduled twice, 1.4×
    # measured; an eager localCheckpoint of the grouped frame fixed
    # the double compute but added a separate job per query, still
    # 1.47× in the bench harness). Final shape: NO checkpoint — the
    # three consumers (star edges + both banded-join sides) share the
    # grouped subtree, whose shuffle AQE's exchange reuse materializes
    # once (the bloom-probe contract, pinned by
    # test_simhash_collapse_reuses_signature_exchange). The three
    # subtrees stay identical only because simhash32 declares simhash
    # non-nullable; see its docstring for how a nullable column makes
    # the kernel run twice. Measured
    # 1.75 s vs the literal path's 1.51 s at sf0.1. A family's id
    # array lives in one row — the lsh_candidate_pairs grouped-path
    # tradeoff, bounded by the largest duplicate family.
    grp = sim.groupBy("simhash").agg(
        F.sort_array(F.collect_list(F.col(id_col))).alias("_ids")
    )
    star = (
        grp.filter(F.size("_ids") >= 2)
        .select(
            F.expr("element_at(_ids, 1)").alias("doc_id_a"),
            F.explode(F.expr("slice(_ids, 2, size(_ids) - 1)")).alias(
                "doc_id_b"
            ),
        )
        .withColumn("hamming", F.lit(0).cast("int"))
    )
    rep_pairs = _simhash_banded_pairs(
        grp.select(F.expr("element_at(_ids, 1)").alias(id_col), "simhash"),
        id_col=id_col,
        max_hamming=max_hamming,
    )
    return star.unionByName(rep_pairs)


def _simhash_banded_pairs(
    sig: DataFrame, *, id_col: str, max_hamming: int
) -> DataFrame:
    """Byte-banded self-join over a (id, simhash) frame: 4 band structs
    explode map-side (no cross join), pairs join on (band index, band
    byte), Hamming distance from the fingerprints themselves."""
    band_entries = F.array(
        *[
            F.struct(
                F.lit(b).alias("bix"),
                F.expr(f"cast(shiftright(simhash, {8 * b}) % 256 as int)").alias(
                    "bval"
                ),
            )
            for b in range(4)
        ]
    )
    banded = sig.select(
        F.col(id_col), "simhash", F.explode(band_entries).alias("bk")
    ).select(F.col(id_col), "simhash", "bk.bix", "bk.bval")
    a = banded.select(
        F.col(id_col).alias("doc_id_a"),
        F.col("simhash").alias("sim_a"),
        "bix",
        "bval",
    )
    b = banded.select(
        F.col(id_col).alias("doc_id_b"),
        F.col("simhash").alias("sim_b"),
        "bix",
        "bval",
    )
    return (
        a.join(b, on=["bix", "bval"])
        .filter(F.col("doc_id_a") < F.col("doc_id_b"))
        .select(
            "doc_id_a",
            "doc_id_b",
            F.expr("bit_count(sim_a ^ sim_b)").cast("int").alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# ----------------------------------------------------- embedding near-dup


def cosine_expr(a: str, b: str):
    """Exact in-order double-precision cosine between two array columns.

    The fold order (index 0..n-1, left-to-right) is pinned so the DuckDB
    oracle (list_reduce over the same order) produces bit-identical
    doubles before rounding.
    """
    dot = F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) ->"
        f" cast(x as double) * cast(y as double)), cast(0.0 as double),"
        f" (acc, v) -> acc + v)"
    )
    na = F.expr(
        f"sqrt(aggregate(transform({a}, x -> cast(x as double) * cast(x as double)),"
        f" cast(0.0 as double), (acc, v) -> acc + v))"
    )
    nb = F.expr(
        f"sqrt(aggregate(transform({b}, x -> cast(x as double) * cast(x as double)),"
        f" cast(0.0 as double), (acc, v) -> acc + v))"
    )
    return dot / (na * nb)


def embedding_near_duplicates(
    embeddings: DataFrame,
    *,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id_a, id_b, cosine) pairs with cosine similarity >= threshold.

    Exact pairwise baseline (O(n^2)); the scale path for the same
    predicate is similarity.ann_lsh_topk's hyperplane buckets.

    Physical shape: per-vector norms are computed once (the same
    left-to-right fold the per-pair formula used, so dot/(na*nb) is
    bit-identical), the n-row side is repartitioned so the quadratic
    pair evaluation uses every core (a single small parquet file scans
    as one partition), and the deduplicated side broadcasts.
    """
    norm = F.expr(
        f"sqrt(aggregate(transform({vec_col}, x -> cast(x as double)"
        f" * cast(x as double)), cast(0.0 as double), (acc, v) -> acc + v))"
    )
    spark = embeddings.sparkSession
    with_norm = embeddings.select(
        F.col(id_col), F.col(vec_col), norm.alias("nrm")
    )
    a = with_norm.select(
        F.col(id_col).alias("vec_id_a"),
        F.col(vec_col).alias("va"),
        F.col("nrm").alias("na"),
    ).repartition(spark.sparkContext.defaultParallelism)
    b = with_norm.select(
        F.col(id_col).alias("vec_id_b"),
        F.col(vec_col).alias("vb"),
        F.col("nrm").alias("nb"),
    )
    dot = F.expr(
        "aggregate(zip_with(va, vb, (x, y) ->"
        " cast(x as double) * cast(y as double)), cast(0.0 as double),"
        " (acc, v) -> acc + v)"
    )
    return (
        a.join(F.broadcast(b), F.col("vec_id_a") < F.col("vec_id_b"))
        .select(
            "vec_id_a",
            "vec_id_b",
            F.round(dot / (F.col("na") * F.col("nb")), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def verify_jaccard_pairs(
    pairs: DataFrame,
    left_docs: DataFrame,
    right_docs: DataFrame,
    *,
    threshold: float,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    a_col: str = "doc_id_new",
    b_col: str = "doc_id_matched",
    segmentation: str = "whitespace",
) -> DataFrame:
    """Keep only candidate pairs whose EXACT shingle Jaccard reaches
    ``threshold`` — the verification pass between LSH candidate
    generation and the drop step, so false-positive band collisions
    don't delete unique documents. Returns the pairs' columns plus
    ``jaccard``.

    ``left_docs`` supplies text for the ``a_col`` ids, ``right_docs``
    for the ``b_col`` ids (pass the same frame twice for an in-corpus
    self-check). Jaccard is over distinct word shingles, identical to
    :func:`ngram_jaccard_pairs`.

    Scale shape: shingle arrays are built ONLY for documents that
    appear in a candidate pair (semi-join prune first) — candidate
    sets are duplicate-sized, not corpus-sized, so the per-doc shingle
    arrays and the two id-keyed joins stay proportional to the drop.
    Pairs whose documents produce no shingles (shorter than
    ``shingle_n`` words) cannot be LSH candidates in the first place
    (no band keys), so the inner joins drop nothing real.
    """
    sa = _pruned_shingle_sets(
        left_docs, pairs.select(a_col).distinct(),
        shingle_n=shingle_n, text_col=text_col, id_col=id_col,
        segmentation=segmentation,
    )
    sb = _pruned_shingle_sets(
        right_docs, pairs.select(b_col).distinct(),
        shingle_n=shingle_n, text_col=text_col, id_col=id_col,
        segmentation=segmentation,
    )
    return _jaccard_pairs_join(
        pairs, sa, sb,
        threshold=threshold, id_col=id_col, a_col=a_col, b_col=b_col,
    )


def _pruned_shingle_sets(
    docs: DataFrame,
    ids: DataFrame,
    *,
    shingle_n: int,
    text_col: str,
    id_col: str,
    segmentation: str,
) -> DataFrame:
    """(id, ``_sh`` = distinct-shingle array) for exactly the ids in
    ``ids`` — the shared shingle-set build behind every exact-Jaccard
    verification join.

    The array is built MAP-SIDE on the semi-join output
    (:func:`_distinct_shingle_arrays`): the old spelling paid a
    repartition(id), a corpus-wide shingle-row distinct, and a
    groupBy(id) collect_list — three exchanges — to produce the same
    per-doc distinct-shingle set (order differs; every consumer is the
    order-insensitive ``array_intersect``/``size`` Jaccard join). The
    only exchange the build contributes now is whatever the downstream
    pair join needs anyway. The pruned set is candidate-sized, never
    corpus-sized."""
    pruned = docs.join(
        ids.select(F.col(ids.columns[0]).alias(id_col)),
        on=id_col,
        how="left_semi",
    )
    return _distinct_shingle_arrays(
        pruned, shingle_n, text_col=text_col, id_col=id_col,
        segmentation=segmentation,
    )


def _jaccard_pairs_join(
    pairs: DataFrame,
    shingles_a: DataFrame,
    shingles_b: DataFrame,
    *,
    threshold: float,
    id_col: str,
    a_col: str,
    b_col: str,
) -> DataFrame:
    """Join ``pairs`` against two (id, ``_sh``) shingle-set frames and
    keep rows whose exact Jaccard reaches ``threshold`` (the pairs'
    columns plus ``jaccard``). Pass the SAME frame twice to reuse one
    persisted shingle build for both sides."""
    sa = shingles_a.select(
        F.col(id_col).alias(a_col), F.col("_sh").alias("_sh_a")
    )
    sb = shingles_b.select(
        F.col(id_col).alias(b_col), F.col("_sh").alias("_sh_b")
    )
    inter = F.size(F.array_intersect(F.col("_sh_a"), F.col("_sh_b")))
    union = F.size("_sh_a") + F.size("_sh_b") - inter
    return (
        pairs.join(sa, on=a_col)
        .join(sb, on=b_col)
        .withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= threshold)
        .select(*pairs.columns, "jaccard")
    )


def lsh_verified_pairs(
    docs: DataFrame,
    *,
    threshold: float,
    margin: float = 0.1,
    escalate_sample: int = 16,
    num_hashes: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    segmentation: str = "whitespace",
    hot_bucket_cap: int | None = 1024,
    cache: bool = True,
) -> DataFrame:
    """(doc_id_a, doc_id_b, jaccard): Jaccard-VERIFIED near-duplicate
    pairs with BOUNDED work on mega-families — the drop list a
    quality-conscious dedup consumes (``doc_id_b`` is the member to
    drop, ``doc_id_a`` its verified witness, always ``a < b``).

    The exact pipeline (``lsh_candidate_pairs(hot_bucket_cap=None)``
    then :func:`verify_jaccard_pairs`) emits ~bands·m²/2 candidate
    rows from one m-document boilerplate family — at m = 10⁵ that is a
    10¹⁰-row shuffle, the one configuration where round 9's skew guard
    could not help because star candidates only witness hub–member
    similarity. This operator verifies over-cap buckets in O(m) per
    band instead:

    * bucket ≤ ``hot_bucket_cap``: every within-bucket pair, verified
      exactly — identical decisions to the exact path;
    * bucket > cap: the m−1 hub–member star edges are Jaccard-checked
      (hub = bucket-minimum id). A member whose hub similarity clears
      ``threshold`` is dropped with the hub as witness — the exact
      path would drop it too (the hub IS a valid witness). A member
      whose hub similarity lands in ``[threshold − margin, threshold)``
      is AMBIGUOUS — it may still clear the threshold against some
      other member — and escalates to exact checks against the
      bucket's first ``escalate_sample`` members (the smallest ids
      after the hub, so they are valid ``a < b`` witnesses for almost
      every member). A member below the margin band is kept.

    Verification work per over-cap bucket is ≤ (m−1) star checks +
    (escalated members × ``escalate_sample``) pair checks — O(m), not
    O(m²). The price is a tunable FALSE-KEEP risk: a member whose hub
    similarity falls below ``threshold − margin`` but whose true
    nearest in-bucket neighbor clears the threshold is kept. For
    near-identical families (the ones that actually overflow the cap)
    hub similarity ≈ 1 ≥ threshold, so the risk concentrates in the
    margin band by construction; widen ``margin`` / raise
    ``escalate_sample`` to shrink it, or pass ``hot_bucket_cap=None``
    to restore the exact quadratic when the exhaustive answer matters
    more than the bound.

    Decisions are EXACTLY the unbounded path's wherever every bucket
    a document occupies is under the cap, and wherever an over-cap
    hub similarity clears the threshold (test-pinned).

    ``cache`` materializes the shared first verify pass with
    ``localCheckpoint`` (it feeds the accepted set, the ambiguity
    scan, and the escalation anti-join) — checkpoint rather than
    persist so downstream references read a LogicalRDD instead of
    re-embedding (and re-analyzing) the whole banding lineage per
    reference; see :func:`_star_verify_first_pass` for the measured
    driver-latency rationale and the fault-tolerance trade. The
    blocks are released by Spark's ContextCleaner when the returned
    frame is garbage-collected, not eagerly — a long-running caller
    that builds this plan per micro-batch
    (:func:`~haplorec_spark.streaming.stream_dedup_ingest`) passes
    ``cache=False`` and pays the bounded recompute instead of
    accumulating batch-lifetime blocks.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    if margin < 0.0:
        raise ValueError(f"margin must be >= 0, got {margin}")
    if escalate_sample < 1:
        raise ValueError(
            f"escalate_sample must be >= 1, got {escalate_sample}"
        )
    if hot_bucket_cap is None:
        pairs = lsh_candidate_pairs(
            docs,
            num_hashes=num_hashes,
            bands=bands,
            shingle_n=shingle_n,
            text_col=text_col,
            id_col=id_col,
            segmentation=segmentation,
            hot_bucket_cap=None,
        )
        return verify_jaccard_pairs(
            pairs,
            docs,
            docs,
            threshold=threshold,
            shingle_n=shingle_n,
            text_col=text_col,
            id_col=id_col,
            a_col="doc_id_a",
            b_col="doc_id_b",
            segmentation=segmentation,
        )
    if hot_bucket_cap < 2:
        raise ValueError(
            f"hot_bucket_cap must be >= 2 (or None), got {hot_bucket_cap}"
        )
    grouped, big, star_pairs, verified, shingles = _star_verify_first_pass(
        docs,
        threshold=threshold,
        margin=margin,
        num_hashes=num_hashes,
        bands=bands,
        shingle_n=shingle_n,
        text_col=text_col,
        id_col=id_col,
        segmentation=segmentation,
        hot_bucket_cap=hot_bucket_cap,
        cache=cache,
    )
    if cache:
        verified = verified.localCheckpoint()
    accepted = (
        verified.filter(F.col("jaccard") >= threshold)
        .select("doc_id_a", "doc_id_b", "jaccard")
        .distinct()
    )
    # Ambiguous star members: hub similarity in [floor, threshold) in
    # some over-cap bucket AND not already dropped via any accepted
    # edge — escalate those against that bucket's sample members.
    # no distinct: left_anti matches per-key, duplicate _done rows are
    # free, and the distinct cost a full aggregate+exchange
    dropped_members = accepted.select(F.col("doc_id_b").alias("_done"))
    ambiguous = (
        verified.filter(
            (F.col("_kind") == "star") & (F.col("jaccard") < threshold)
        )
        .join(
            dropped_members,
            on=F.col("doc_id_b") == F.col("_done"),
            how="left_anti",
        )
        .select("band", "band_key", F.col("doc_id_b").alias("_member"))
        .distinct()
    )
    samples = big.select(
        "band",
        "band_key",
        F.slice("_ids", 1, escalate_sample + 1).alias("_sample"),
    )
    escalation_pairs = (
        ambiguous.join(samples, on=["band", "band_key"])
        .select(
            F.explode("_sample").alias("doc_id_a"),
            F.col("_member").alias("doc_id_b"),
        )
        .filter(F.col("doc_id_a") < F.col("doc_id_b"))
        .distinct()
        # hub edge was already measured in the first pass
        .join(
            verified.filter(F.col("_kind") == "star").select(
                "doc_id_a", "doc_id_b"
            ),
            on=["doc_id_a", "doc_id_b"],
            how="left_anti",
        )
    )
    # Every escalation id already appears in a star edge of the same
    # over-cap bucket (samples are the bucket's smallest ids; ambiguous
    # members are star doc_id_b's), so the first pass's shingle frame
    # covers the escalation verify — no second shingle build.
    escalated = _jaccard_pairs_join(
        escalation_pairs, shingles, shingles,
        threshold=threshold, id_col=id_col,
        a_col="doc_id_a", b_col="doc_id_b",
    )
    return accepted.unionByName(
        escalated.select("doc_id_a", "doc_id_b", "jaccard")
    ).distinct()


def _star_verify_first_pass(
    docs: DataFrame,
    *,
    threshold: float,
    margin: float,
    num_hashes: int,
    bands: int,
    shingle_n: int,
    text_col: str,
    id_col: str,
    segmentation: str,
    hot_bucket_cap: int,
    cache: bool = True,
):
    """The shared front half of the bounded star-verification path —
    band-key buckets, the small-bucket all-pairs / over-cap star-edge
    split, and the one exact-Jaccard pass at ``threshold − margin``
    (one construction for :func:`lsh_verified_pairs` and its audit
    face :func:`verification_profile`; two hand copies would drift).

    Returns ``(grouped, big, star_pairs, verified, shingles)``: all
    sized buckets, the over-cap buckets with their sorted member ids,
    the raw star edges (bucket-keyed), the verified pass — rows at or
    above the margin floor only, tagged ``_kind`` small/star — and
    the candidate-id shingle-set frame (``(id, _sh)``), which covers
    every escalation id too (sample ids and ambiguous members all
    appear in their bucket's star edges), so the escalation verify
    joins the SAME frame instead of rebuilding shingles.

    ``cache=True`` materializes ``grouped`` and ``shingles`` with
    ``localCheckpoint`` (round 12; was ``persist``): the downstream
    joins consume each several times (the pairs frame is read for
    a-ids, b-ids, and the verify join; ``grouped`` feeds the
    small/star split and the escalation samples), and without the
    reuse every consumption recomputes the whole minhash banding
    pipeline — measured 20.8 s → ~12 s for one first-pass action at
    sf0.1. Checkpointing rather than persisting ALSO TRUNCATES THE
    LINEAGE (guide §3.3): under persist, every downstream reference
    re-embeds the banding pipeline as the InMemoryRelation's child,
    and Catalyst re-analyzes/canonicalizes that subtree per reference
    — the gate's physical plan held 208 Exchange nodes and DataFrame
    CONSTRUCTION alone cost seconds of driver time per run. With the
    two midpoints checkpointed the downstream plans read LogicalRDDs.
    The trade is fault-tolerance, not work: blocks live in
    MEMORY_AND_DISK exactly as persisted blocks did, but a lost
    executor can no longer recompute its slice (lineage is gone) — a
    deliberate batch-path trade; both frames are candidate/bucket-
    sized, never corpus-sized (``grouped`` holds docs×bands ids,
    ``shingles`` only candidate docs), so the footprint is bounded at
    scale. Checkpointed blocks are released by the ContextCleaner
    when the frame is GC'd, the persist lifecycle. Per-micro-batch
    plans pass ``cache=False`` (materialized frames leak until driver
    GC); the recompute there is batch-sized."""
    banded = lsh_band_keys(
        docs,
        num_hashes=num_hashes,
        bands=bands,
        shingle_n=shingle_n,
        text_col=text_col,
        id_col=id_col,
        segmentation=segmentation,
    )
    grouped = (
        banded.select(F.col(id_col).alias("_bid"), "band", "band_key")
        .groupBy("band", "band_key")
        .agg(F.sort_array(F.collect_list("_bid")).alias("_ids"))
        .filter(F.size("_ids") >= 2)
    )
    if cache:
        grouped = grouped.localCheckpoint()
    all_pairs = (
        "flatten(transform(_ids, (x, i) ->"
        " transform(slice(_ids, i + 2, size(_ids)),"
        " y -> named_struct('doc_id_a', x, 'doc_id_b', y))))"
    )
    star = (
        "transform(slice(_ids, 2, size(_ids) - 1),"
        " y -> named_struct('doc_id_a', element_at(_ids, 1),"
        " 'doc_id_b', y))"
    )
    small_pairs = (
        grouped.filter(F.size("_ids") <= hot_bucket_cap)
        .select(F.explode(F.expr(all_pairs)).alias("_p"))
        .select("_p.doc_id_a", "_p.doc_id_b")
        .distinct()
        .withColumn("_kind", F.lit("small"))
        .withColumn("band", F.lit(None).cast("int"))
        .withColumn("band_key", F.lit(None).cast("string"))
    )
    big = grouped.filter(F.size("_ids") > hot_bucket_cap)
    star_pairs = (
        big.select("band", "band_key", F.explode(F.expr(star)).alias("_p"))
        .select("band", "band_key", "_p.doc_id_a", "_p.doc_id_b")
        .withColumn("_kind", F.lit("star"))
    )
    # One verify pass at (threshold − margin): small-bucket pairs and
    # star edges share the shingle-set build; star edges keep their
    # bucket key so ambiguous members can find their escalation sample.
    candidates = small_pairs.unionByName(
        star_pairs.select(
            "doc_id_a", "doc_id_b", "_kind", "band", "band_key"
        )
    )
    floor = max(threshold - margin, 0.0)
    # The candidate-id set IS the bucket-member set: a small bucket's
    # all-pairs explode mentions every member (size >= 2), an over-cap
    # bucket's star edges mention the hub (doc_id_a) and every other
    # member (doc_id_b). Exploding the (persisted) grouped frame once
    # yields the identical id set while embedding ONE banding lineage
    # in the analyzed plan instead of three — the a-side/b-side union
    # re-embedded the whole candidate tree (banding pipeline included)
    # twice, which both paid a second union+distinct exchange and
    # inflated the plan Catalyst must canonicalize per reference.
    cand_ids = grouped.select(F.explode("_ids").alias(id_col)).distinct()
    shingles = _pruned_shingle_sets(
        docs, cand_ids,
        shingle_n=shingle_n, text_col=text_col, id_col=id_col,
        segmentation=segmentation,
    )
    if cache:
        shingles = shingles.localCheckpoint()
    verified = _jaccard_pairs_join(
        candidates, shingles, shingles,
        threshold=floor, id_col=id_col,
        a_col="doc_id_a", b_col="doc_id_b",
    )
    return grouped, big, star_pairs, verified, shingles


def verification_profile(
    docs: DataFrame,
    *,
    threshold: float,
    margin: float = 0.1,
    num_hashes: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    segmentation: str = "whitespace",
    hot_bucket_cap: int = 1024,
    cache: bool = True,
) -> DataFrame:
    """(bucket_size_band, decision, n): how :func:`lsh_verified_pairs`
    would decide, counted per decision class and bucket-size band —
    the audit face of the bounded verification path (the
    :func:`cluster_size_profile` convention), so the false-keep
    budget is OBSERVABLE before a big run instead of inferred from
    the margin prose.

    Decision classes (same procedure, same first verify pass):

    * ``exact_pair`` — within-bucket pairs of ≤-cap buckets, verified
      exactly (n = per-bucket pair count m·(m−1)/2; a pair sharing
      two buckets counts twice because the WORK bound, not the
      distinct pair set, is what this profiles);
    * ``hub_cleared`` — over-cap star members whose hub similarity
      clears ``threshold`` (dropped, hub witness — exact-path
      decision);
    * ``margin_escalated`` — members in [threshold − margin,
      threshold) escalating to the bucket sample;
    * ``margin_covered`` — members in the margin band already dropped
      by an accepted edge elsewhere (no escalation needed);
    * ``below_margin_kept`` — members whose hub similarity fell below
      the margin floor: kept unescalated. THIS row is the documented
      false-keep budget — if it is large on a bucket band you care
      about, widen ``margin`` or raise the cap.

    ``bucket_size_band`` is the bucket size rounded up to a power of
    two. Work is the first verify pass plus bucket-keyed joins over
    bucket-sized frames — same O(m·bands) bound as the operator, no
    escalation pass (escalation OUTCOMES are pair-level and already
    observable in the returned ``jaccard`` column of the operator).
    DuckDB-oracled on the seeded families of ``q_dedup_verified_pairs``
    (tests/test_registry.py).

    ``cache`` follows :func:`lsh_verified_pairs`' convention: True
    localCheckpoints the first pass's bucket/shingle frames (they are
    consumed several times below; the blocks live until driver GC) —
    a long-running driver profiling every incoming drop passes False
    and pays the drop-sized recompute instead.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    if margin < 0.0:
        raise ValueError(f"margin must be >= 0, got {margin}")
    if hot_bucket_cap is None or hot_bucket_cap < 2:
        raise ValueError(
            "verification_profile profiles the BOUNDED path; "
            f"hot_bucket_cap must be >= 2, got {hot_bucket_cap}"
        )
    grouped, big, star_pairs, verified, _shingles = _star_verify_first_pass(
        docs,
        threshold=threshold,
        margin=margin,
        num_hashes=num_hashes,
        bands=bands,
        shingle_n=shingle_n,
        text_col=text_col,
        id_col=id_col,
        segmentation=segmentation,
        hot_bucket_cap=hot_bucket_cap,
        cache=cache,
    )
    band_of = (
        "cast(pow(2, ceil(log2(cast(_m as double)))) as bigint)"
    )
    exact = (
        grouped.filter(F.size("_ids") <= hot_bucket_cap)
        .select(F.size("_ids").cast("long").alias("_m"))
        .select(
            F.expr(band_of).alias("bucket_size_band"),
            (F.col("_m") * (F.col("_m") - 1) / 2).cast("long").alias("_n"),
        )
        .groupBy("bucket_size_band")
        .agg(F.sum("_n").alias("n"))
        .withColumn("decision", F.lit("exact_pair"))
    )
    sizes = big.select(
        "band", "band_key", F.size("_ids").cast("long").alias("_m")
    )
    star_j = verified.filter(F.col("_kind") == "star")
    dropped = (
        verified.filter(F.col("jaccard") >= threshold)
        .select(F.col("doc_id_b").alias("_done"))
        .distinct()
    )
    hub_cleared = star_j.filter(F.col("jaccard") >= threshold).select(
        "band", "band_key", "doc_id_b"
    )
    in_margin = star_j.filter(F.col("jaccard") < threshold).select(
        "band", "band_key", "doc_id_b"
    )
    covered = in_margin.join(
        dropped, on=F.col("doc_id_b") == F.col("_done"), how="left_semi"
    )
    escalating = in_margin.join(
        dropped, on=F.col("doc_id_b") == F.col("_done"), how="left_anti"
    )
    # star edges whose hub similarity fell below the floor never reach
    # the verified pass at all — they are the kept tail
    below = star_pairs.select("band", "band_key", "doc_id_b").join(
        star_j.select("band", "band_key", "doc_id_b"),
        on=["band", "band_key", "doc_id_b"],
        how="left_anti",
    )

    def classed(members: DataFrame, decision: str) -> DataFrame:
        return (
            members.join(sizes, on=["band", "band_key"])
            .select(F.expr(band_of).alias("bucket_size_band"))
            .groupBy("bucket_size_band")
            .agg(F.count(F.lit(1)).alias("n"))
            .withColumn("decision", F.lit(decision))
        )

    return (
        exact.unionByName(classed(hub_cleared, "hub_cleared"))
        .unionByName(classed(escalating, "margin_escalated"))
        .unionByName(classed(covered, "margin_covered"))
        .unionByName(classed(below, "below_margin_kept"))
        .select("bucket_size_band", "decision", "n")
    )


# --------------------------------------------------- near-dup clustering


def dedup_clusters(
    pairs: DataFrame,
    *,
    max_iterations: int = 20,
    a_col: str = "doc_id_a",
    b_col: str = "doc_id_b",
    small_edge_limit: int = 1_000_000,
) -> DataFrame:
    """(doc_id, canonical_id): connected components over near-dup pairs.

    The drop step of every near-dup family: LSH/SimHash/Jaccard emit
    *pairs*; transitive closure groups them into clusters and the
    minimum id becomes the keeper.

    Adaptive two-phase (the :func:`~haplorec_spark.operators.fk.
    assign_ids` pattern): the distinct edge count is measured first —
    it is the same job that materializes the persisted edge set the
    iterative path would reuse.

    * ``<= small_edge_limit`` edges (~16 MB of id pairs at the
      default): driver-side union-find with path compression —
      near-dup edge sets are duplicate-sized, not corpus-sized, so
      this is the common case, and it replaces ~8 fixed-overhead
      Spark jobs with one collect. The bound is MEASURED, so big
      graphs cannot silently funnel through the driver.
    * larger: iterative min-label propagation (adopt the smallest
      label among self and neighbors) + pointer jumping (then adopt
      the label's own label), so the longest chain shrinks
      geometrically — O(log n) rounds to a fixed point, detected with
      one short-circuit probe per round and bounded by
      ``max_iterations``. Probing every round is deliberate: real
      near-dup graphs converge in 2-3 rounds, so a probe-every-2
      scheme — measured on the sf0.1 corpus — only detects the fixed
      point later and loses despite saving probe jobs.

    Both paths produce identical labels (component-minimum id).
    """
    spark = pairs.sparkSession
    # Both directions come from ONE scan of the pairs plan: a union of
    # two selects over `pairs` schedules the (possibly expensive —
    # LSH/Jaccard/SimHash) upstream twice, doubling the whole candidate
    # computation. explode of a 2-struct array doubles map-side instead.
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
                    ),
                    F.struct(
                        F.col(b_col).alias("src"), F.col(a_col).alias("dst")
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .distinct()
        .persist()
    )
    n_edges = edges.count()

    if n_edges <= small_edge_limit:
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for r in edges.collect():
            a, b = r["src"], r["dst"]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[ra] = rb
        # canonical = component minimum, matching the distributed path
        comp_min: dict = {}
        for node in parent:
            root = find(node)
            if root not in comp_min or node < comp_min[root]:
                comp_min[root] = node
        out = [(node, comp_min[find(node)]) for node in parent]
        edges.unpersist()
        from pyspark.sql.types import StructField, StructType

        id_type = pairs.schema[a_col].dataType
        schema = StructType([
            StructField("doc_id", id_type),
            StructField("canonical_id", id_type),
        ])
        return spark.createDataFrame(out, schema)

    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(
                labels.select(
                    F.col("node").alias("dst"),
                    F.col("label").alias("dst_label"),
                ),
                on="dst",
            )
            .groupBy("src")
            .agg(F.min("dst_label").alias("nmin"))
        )
        propagated = labels.join(
            neighbor_min, labels.node == neighbor_min.src, "left"
        ).select(
            "node",
            F.least(
                F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
            ).alias("label"),
        )
        # pointer jumping: follow the new label to ITS label, halving
        # chain depth every round
        parent = propagated.select(
            F.col("node").alias("label"), F.col("label").alias("label2")
        )
        updated = (
            propagated.join(parent, on="label", how="left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("label2"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            updated.alias("u")
            .join(labels.alias("l"), on="node")
            .filter(F.col("u.label") != F.col("l.label"))
            .limit(1)
            .count()
        )
        labels = updated
        if changed == 0:
            break
    edges.unpersist()
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("canonical_id")
    )


def cluster_size_profile(
    clusters: DataFrame,
    *,
    id_col: str = "doc_id",
    canonical_col: str = "canonical_id",
) -> DataFrame:
    """(cluster_size, n_clusters, n_docs, n_dropped): the near-dup
    cluster size histogram — the audit face of :func:`dedup_clusters`
    (the embedding twin is ``similarity.cell_profile``).

    Before dropping non-canonical members at 100 TB, this one small
    frame answers the questions that matter: how much shrinks
    (``sum(n_dropped)``), and whether some degenerate mega-cluster —
    a boilerplate-driven LSH bucket collapse — is about to delete a
    million distinct documents as "duplicates of" one survivor (it
    shows up as a single visible row with a huge cluster_size). Two
    key-granularity aggregates, nothing document-sized moves.
    """
    return (
        clusters.groupBy(canonical_col)
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters")).alias("n_docs"),
            ((F.col("cluster_size") - 1) * F.col("n_clusters")).alias(
                "n_dropped"
            ),
        )
    )


def dedup_survivors(
    docs: DataFrame,
    clusters: DataFrame,
    *,
    score_col: str | None = None,
    id_col: str = "doc_id",
    canonical_col: str = "canonical_id",
) -> DataFrame:
    """The drop step with a POLICY: keep one document per near-dup
    cluster — the min-id canonical by default, the argmax of
    ``score_col`` when given (quality-aware survivor selection: the
    published pipelines keep the highest-quality member of each
    near-dup family, not an arbitrary one).

    ``clusters`` is :func:`dedup_clusters` output (``doc_id``,
    ``canonical_id``); documents in no cluster always survive.
    Tie-break is ascending id (deterministic across reruns); NULL
    scores sort LAST under the explicit ``desc_nulls_last`` — a scored
    member always beats an unscored one (pinned in both engines; Spark
    and DuckDB disagree on default null order, so it is never left to
    defaults).

    Plan shape (100 TB): docs in no cluster pass through one anti
    join (the clusters frame is duplicate-sized — broadcast when it
    fits, AQE decides); only cluster MEMBERS enter the survivor
    window, so the ranking shuffle moves the duplicate set, never the
    corpus, and the ``row_number() = 1`` filter lets Spark's
    WindowGroupLimit keep one row per cluster map-side before that
    shuffle.
    """
    member = clusters.select(
        F.col(id_col), F.col(canonical_col).alias("_canonical")
    )
    untouched = docs.join(member, on=id_col, how="left_anti")
    in_cluster = docs.join(member, on=id_col)
    if score_col is None:
        winners = in_cluster.filter(F.col(id_col) == F.col("_canonical"))
    else:
        w = Window.partitionBy("_canonical").orderBy(
            F.col(score_col).desc_nulls_last(), F.col(id_col).asc()
        )
        winners = (
            in_cluster.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
    return untouched.unionByName(winners.drop("_canonical"))


# ------------------------------------------------------ query registration

from haplorec_spark.queries import register, table  # noqa: E402

_SHINGLES_SQL = """
    WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws
               FROM documents),
         sh AS (SELECT DISTINCT doc_id, shingle FROM (
                    SELECT doc_id,
                           unnest(CASE WHEN len(ws) >= 3
                                  THEN list_transform(
                                           generate_series(1, len(ws) - 2),
                                           i -> ws[i] || ' ' || ws[i+1]
                                                      || ' ' || ws[i+2])
                                  ELSE []::VARCHAR[] END) AS shingle
                    FROM w))
"""

_SIMHASH_SQL = """
    WITH toks AS (SELECT doc_id,
                         unnest(string_split(lower(text), ' ')) AS tok
                  FROM documents),
         th AS (SELECT doc_id, substr(md5(tok), 1, 8) AS h8 FROM toks),
         votes AS (SELECT doc_id, pos,
                          2 * (((strpos('0123456789abcdef',
                                        substr(h8, pos // 4 + 1, 1)) - 1)
                                >> (3 - pos % 4)) & 1) - 1 AS vote
                   FROM th CROSS JOIN range(32) p(pos)),
         bits AS (SELECT doc_id, pos,
                         CASE WHEN sum(vote) > 0 THEN 1 ELSE 0 END AS b
                  FROM votes GROUP BY doc_id, pos),
         sim AS (SELECT doc_id,
                        (sum(b * (1::BIGINT << (31 - pos))))::BIGINT AS simhash
                 FROM bits GROUP BY doc_id)
"""


@register(
    "q_dedup_exact",
    # The synthetic corpus has no exact duplicates, which made this gate
    # vacuous (0 == 0 rows) in round 1; the query seeds copies of the
    # low-id documents under shifted ids so the operator provably finds
    # them AND maps each to its original as the canonical keeper.
    """
    WITH corpus AS (SELECT doc_id, text FROM documents
                    UNION ALL
                    SELECT doc_id + 100000, text FROM documents
                    WHERE doc_id < 25),
         h AS (SELECT doc_id, md5(text) AS _h FROM corpus),
         c AS (SELECT doc_id,
                      min(doc_id) OVER (PARTITION BY _h) AS canonical_id
               FROM h)
    SELECT doc_id, canonical_id FROM c WHERE doc_id <> canonical_id
    """,
    "exact duplicate detection via content hash (seeded duplicates)",
)
def q_dedup_exact(spark, sf_dir):
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    seeded = docs.unionByName(
        docs.filter(F.col("doc_id") < 25).select(
            (F.col("doc_id") + 100000).alias("doc_id"), "text"
        )
    )
    return exact_duplicates(seeded)


@register(
    "q_dedup_minhash_lsh",
    _SHINGLES_SQL + """,
         sig AS (SELECT doc_id, seed,
                        min(md5(seed::VARCHAR || '|' || shingle)) AS mh
                 FROM sh CROSS JOIN range(12) t(seed)
                 GROUP BY doc_id, seed),
         banded AS (SELECT doc_id, seed // 3 AS band,
                           string_agg(mh, ',' ORDER BY seed) AS band_key
                    FROM sig GROUP BY doc_id, seed // 3)
    SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
    FROM banded a JOIN banded b USING (band, band_key)
    WHERE a.doc_id < b.doc_id
    """,
    "MinHash-LSH candidate near-duplicate pairs (12 hashes, 4 bands)",
)
def q_dedup_minhash_lsh(spark, sf_dir):
    # hot_bucket_cap=None: the oracle encodes the exact all-pairs
    # self-join, so the gate must run exact semantics at ANY scale —
    # with the default cap the two sides would diverge the moment a
    # band bucket exceeds it (review-caught, round 10)
    return lsh_candidate_pairs(
        table(spark, sf_dir, "documents"), hot_bucket_cap=None
    )


@register(
    "q_dedup_ngram_jaccard",
    _SHINGLES_SQL + """,
         sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
         inter AS (SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
                          count(*) AS n_common
                   FROM sh a JOIN sh b USING (shingle)
                   WHERE a.doc_id < b.doc_id
                   GROUP BY a.doc_id, b.doc_id)
    SELECT doc_id_a, doc_id_b, jaccard FROM (
        SELECT doc_id_a, doc_id_b,
               round(n_common / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_id_a
        JOIN sizes sb ON sb.doc_id = doc_id_b)
    WHERE jaccard >= 0.2
    """,
    "exact n-gram Jaccard similarity over shingle-sharing pairs",
)
def q_dedup_ngram_jaccard(spark, sf_dir):
    return ngram_jaccard_pairs(
        table(spark, sf_dir, "documents"), threshold=0.2
    )


@register(
    "q_dedup_clusters",
    _SHINGLES_SQL.replace("WITH w AS", "WITH RECURSIVE w AS", 1) + """,
         sig AS (SELECT doc_id, seed,
                        min(md5(seed::VARCHAR || '|' || shingle)) AS mh
                 FROM sh CROSS JOIN range(12) t(seed)
                 GROUP BY doc_id, seed),
         banded AS (SELECT doc_id, seed // 3 AS band,
                           string_agg(mh, ',' ORDER BY seed) AS band_key
                    FROM sig GROUP BY doc_id, seed // 3),
         prs AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
                 FROM banded a JOIN banded b USING (band, band_key)
                 WHERE a.doc_id < b.doc_id),
         edges AS (SELECT a AS src, b AS dst FROM prs
                   UNION SELECT b, a FROM prs),
         reach AS (
             SELECT src AS node, src AS label FROM edges
             UNION
             SELECT e.src, r.label
             FROM edges e JOIN reach r ON r.node = e.dst
         )
    SELECT node AS doc_id, min(label) AS canonical_id
    FROM reach GROUP BY node
    """,
    "connected components over MinHash-LSH pairs (iterative min-label "
    "propagation + pointer jumping vs a recursive-CTE oracle)",
)
def q_dedup_clusters(spark, sf_dir):
    return dedup_clusters(lsh_candidate_pairs(table(spark, sf_dir, "documents")))


@register(
    "q_dedup_spans",
    # The synthetic corpus shares few natural 10-grams, so the query
    # seeds a shared 12-word passage onto every 4th document — the span
    # detector must report exactly the appended word range per seeded
    # doc (plus any natural duplicated spans), islands merged.
    """
    WITH d AS (SELECT doc_id,
                      CASE WHEN doc_id % 4 = 0 THEN text ||
                           ' shared passage alpha beta gamma delta epsilon'
                           || ' zeta eta theta iota kappa'
                      ELSE text END AS text
               FROM documents),
         w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM d),
         g AS (SELECT doc_id, u.pos, u.h FROM (
                   SELECT doc_id,
                          unnest(list_apply(
                              range(0, greatest(len(ws) - 10, -1) + 1),
                              i -> {'pos': i,
                                    'h': md5(array_to_string(
                                             ws[i + 1: i + 10], ' '))}))
                              AS u
                   FROM w)),
         hot AS (SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS df
                                FROM g GROUP BY h) WHERE df >= 2),
         s AS (SELECT doc_id, pos FROM g WHERE h IN (SELECT h FROM hot)),
         isl AS (SELECT doc_id, pos,
                        sum(CASE WHEN prev_end IS NULL
                                  OR pos > prev_end + 1 THEN 1 ELSE 0 END)
                            OVER (PARTITION BY doc_id ORDER BY pos)
                            AS island
                 FROM (SELECT doc_id, pos,
                              max(pos + 9) OVER (PARTITION BY doc_id
                                  ORDER BY pos ROWS BETWEEN UNBOUNDED
                                  PRECEDING AND 1 PRECEDING) AS prev_end
                       FROM s))
    SELECT doc_id, min(pos)::INT AS span_start, max(pos + 9)::INT AS span_end
    FROM isl GROUP BY doc_id, island
    """,
    "span-level dedup: maximal word spans covered by cross-document "
    "duplicated 10-grams (Lee et al. substring granularity; seeded "
    "shared passages)",
)
def q_dedup_spans(spark, sf_dir):
    docs = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            "CASE WHEN doc_id % 4 = 0 THEN concat(text,"
            " ' shared passage alpha beta gamma delta epsilon zeta eta"
            " theta iota kappa') ELSE text END"
        ).alias("text"),
    )
    return duplicate_ngram_spans(docs, n=10, min_df=2)


# Not a driver gate: q_dedup_simhash_pairs recomputes these signatures
# inside its own oracle, so the pairs gate verifies the fingerprint
# computation end-to-end (keeps the registry within the driver's
# 50-query correctness budget). Still covered by tests/test_dedup.py.
def q_dedup_simhash(spark, sf_dir):
    return simhash32(table(spark, sf_dir, "documents"))


@register(
    "q_dedup_simhash_pairs",
    # Collapsed-identical semantics (the default skew guard): identical
    # fingerprints report as rep->member star edges at hamming 0; the
    # banded all-pairs join runs over DISTINCT fingerprints only.
    _SIMHASH_SQL + """,
         grp AS (SELECT simhash, min(doc_id) AS rep, count(*) AS m
                 FROM sim GROUP BY simhash),
         star AS (SELECT g.rep AS doc_id_a, s.doc_id AS doc_id_b,
                         0::INT AS hamming
                  FROM sim s JOIN grp g USING (simhash)
                  WHERE s.doc_id <> g.rep),
         banded AS (SELECT rep AS doc_id, simhash, bix,
                           ((simhash >> (8 * bix)) % 256)::INT AS bval
                    FROM grp CROSS JOIN range(4) t(bix)),
         rp AS (SELECT doc_id_a, doc_id_b, hamming FROM (
                    SELECT DISTINCT a.doc_id AS doc_id_a,
                           b.doc_id AS doc_id_b,
                           bit_count(xor(a.simhash, b.simhash))::INT
                               AS hamming
                    FROM banded a JOIN banded b USING (bix, bval)
                    WHERE a.doc_id < b.doc_id)
                WHERE hamming <= 3)
    SELECT * FROM star UNION ALL SELECT * FROM rp
    """,
    "banded SimHash near-duplicate pairs (Hamming <= 3, exact recall; "
    "identical fingerprints collapsed to star edges)",
)
def q_dedup_simhash_pairs(spark, sf_dir):
    return simhash_near_duplicates(table(spark, sf_dir, "documents"))


@register(
    "q_dedup_embedding_cosine",
    # Random 64-dim vectors never reach cosine 0.8, which made this gate
    # vacuous (0 == 0 rows) in round 1; seeding shifted-id copies of the
    # low-id vectors guarantees exact-duplicate pairs (cosine 1.0) the
    # operator must find, alongside any natural near-dups. The scan is
    # bounded to vec_id < 1000: the gate verifies the exact O(n^2)
    # baseline's arithmetic, and an unbounded quadratic scan belongs to
    # the LSH scale path, not a correctness gate.
    """
    WITH e AS (SELECT vec_id,
                      list_transform(embedding, x -> x::DOUBLE) AS v
               FROM embeddings WHERE vec_id < 1000
               UNION ALL
               SELECT vec_id + 100000,
                      list_transform(embedding, x -> x::DOUBLE) AS v
               FROM embeddings WHERE vec_id < 25)
    SELECT vec_id_a, vec_id_b, cosine FROM (
        SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
               round(list_reduce(list_transform(generate_series(1, len(a.v)),
                                                i -> a.v[i] * b.v[i]),
                                 (x, y) -> x + y)
                     / (sqrt(list_reduce(list_transform(a.v, x -> x * x),
                                         (x, y) -> x + y))
                        * sqrt(list_reduce(list_transform(b.v, x -> x * x),
                                           (x, y) -> x + y))), 6) AS cosine
        FROM e a JOIN e b ON a.vec_id < b.vec_id)
    WHERE cosine >= 0.8
    """,
    "embedding cosine near-duplicate pairs (exact pairwise baseline, "
    "seeded duplicates)",
)
def q_dedup_embedding_cosine(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    seeded = emb.filter(F.col("vec_id") < 1000).unionByName(
        emb.filter(F.col("vec_id") < 25).select(
            (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
        )
    )
    return embedding_near_duplicates(seeded, threshold=0.8)
