"""Deduplication operators for training-data pipelines: exact, MinHash+LSH,
SimHash, and exact n-gram Jaccard (north-star per BASELINE.json).

Scale design:
- Exact dedup is a hash-groupBy on a content digest — one shuffle on the
  digest, never on the raw text.
- MinHash signatures come from ONE explode of shingles and ONE groupBy with
  `num_hashes` min-aggregates over an affine family derived from ONE base
  hash per shingle (h1 + i·h2; see `_base_halves`) — the shuffle carries
  (doc_id, half-hash) pairs, not text, and the string is hashed once.
- LSH banding turns near-dup search from O(n²) into a self-join on
  (band_index, band_hash) buckets; only bucket-mates are compared.
- Exact Jaccard (the verifier for LSH candidates) joins on shared shingles
  so only pairs with nonzero intersection are ever materialized.

All of it is built-in expressions — xxhash64, explode, min, groupBy — no
Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from fhir_etl_spark.operators.text import WS_RUN, tokens


def content_digest(text: Column | str, normalize: bool = True) -> Column:
    """Digest for exact dedup. ``normalize`` collapses whitespace and case
    first (the usual 'exact-ish' policy); md5 on the result."""
    c = F.col(text) if isinstance(text, str) else text
    if normalize:
        c = F.lower(F.trim(F.regexp_replace(c, WS_RUN, " ")))
    return F.md5(c)


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (min id) per content digest.

    min() as the representative-pick is an order-insensitive aggregate —
    deterministic under any partitioning, unlike dropDuplicates (which keeps
    an arbitrary row).
    """
    digest = content_digest(F.col(text_col))
    return (
        df.withColumn("_digest", digest)
        .groupBy("_digest")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("n_copies"))
        .drop("_digest")
    )


def gram_at(toks: Column | str, i: Column, k: int) -> Column:
    """The k-token gram starting at 1-based position ``i``, as one
    space-joined string — ``concat_ws`` over ``k`` ``element_at`` reads
    instead of ``array_join(slice(...))``. ``slice`` materializes a
    fresh k-element array per position, an allocation Catalyst cannot
    elide inside HOF lambdas where this runs once per token position;
    the element_at chain reads the backing array in place. Measured at
    sf10-shape (r12 session 6, 500k docs, best-of-3 noop): 4.88 → 1.17 s
    for k=3 shingles, 8.94 → 2.01 s for k=10 grams — ~4× on the map
    prefix of the whole gram/shingle tier, with 0 mismatching rows on
    the full corpus (same tokens, same separator; tokens are never
    null, and every caller guards ``i+k-1 ≤ size`` so element_at never
    reads out of bounds)."""
    c = F.col(toks) if isinstance(toks, str) else toks
    return F.concat_ws(" ", *[F.element_at(c, i + j) for j in range(k)])


def shingles_from_tokens(toks: Column, k: int = 3) -> Column:
    """k-token shingles (distinct) from an ALREADY-MATERIALIZED token array
    column.

    Catalyst does no common-subexpression elimination inside higher-order
    lambdas, so the token array must be a projected column (a cheap bound
    attribute read inside the lambda) — passing `tokens(text)` directly
    re-runs the regex split per lambda invocation, a ~50× slowdown measured
    at sf0.1. gram_at touches each position once with no per-position
    allocation (r12: was array_join(slice(...)), ~4× slower — see gram_at).
    """
    n = F.size(toks)
    # sequence(1, 0) would generate a DESCENDING [1, 0] — guard short docs
    # with an explicit empty-array branch instead.
    idx = F.sequence(F.lit(1), n - (k - 1))
    windowed = F.array_distinct(
        F.transform(idx, lambda i: gram_at(toks, i, k))
    )
    return F.when(n >= k, windowed).otherwise(F.array().cast("array<string>"))


def doc_shingles(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3
) -> DataFrame:
    """One row per (doc, distinct shingle) — tokens materialized first."""
    # explode_outer + post-filter, NOT plain explode: for an inner explode
    # Catalyst's InferFiltersFromGenerate adds `size(arr) > 0` and filter
    # pushdown then inlines the ENTIRE shingling expression (including the
    # regex split, re-evaluated per lambda invocation) into that predicate
    # below the projections — measured 7× slower at sf0.1. An outer explode
    # infers nothing; the isNotNull on the OUTPUT attribute cannot sink
    # below the Generate, so the array is computed exactly once.
    toked = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
    arrays = toked.select(
        F.col(id_col), shingles_from_tokens(F.col("_toks"), k).alias("_sh")
    )
    return arrays.select(
        F.col(id_col), F.explode_outer("_sh").alias("shingle")
    ).where(F.col("shingle").isNotNull())


def _base_halves(col: Column, hash_fn: str) -> tuple[Column, Column]:
    """(h1, h2): two independent 32-bit halves of ONE base hash of the
    shingle — the whole MinHash family derives from them as
    ``h_i = h1 + i·h2`` (Kirsch–Mitzenmacher double hashing, the scheme
    the datasketch library uses with an affine family over one SHA-1).
    One string hash per shingle instead of ``num_hashes`` seeded
    re-hashes of the full string: the i-th permutation costs one long
    multiply-add inside the min-aggregate, and ``max h_i =
    32·(2³²−1) < 2³⁷`` so the arithmetic never overflows a BIGINT in
    either engine — which is what keeps the ``md5`` twin value-oracled
    (DuckDB parses the same two hex halves and replays the same
    integer min).

    ``xxhash64`` (production default): halves are the low/high 32 bits
    of the one 64-bit hash. ``md5``: halves parse hex chars 1–8 / 9–16
    of the one digest."""
    if hash_fn == "xxhash64":
        base = F.xxhash64(col)
        return (
            base.bitwiseAND(F.lit(0xFFFFFFFF)),
            F.shiftrightunsigned(base, 32),
        )
    if hash_fn == "md5":
        hx = F.md5(col)
        return (
            F.conv(F.substring(hx, 1, 8), 16, 10).cast("long"),
            F.conv(F.substring(hx, 9, 8), 16, 10).cast("long"),
        )
    raise ValueError(f"unknown hash_fn: {hash_fn!r} (want 'xxhash64' or 'md5')")


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    k: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(doc_id, sig ARRAY<BIGINT>[num_hashes]) — column-i is
    min(h1 + i·h2) over the doc's shingles, with (h1, h2) the two
    32-bit halves of ONE base hash per shingle (:func:`_base_halves`).

    One explode + one groupBy; the num_hashes minima come out of a
    single aggregation pass (partial aggregation runs map-side), and the
    per-permutation cost is one long multiply-add — NOT a re-hash of the
    shingle string (the round-12 change: the old seeded form paid
    num_hashes full string hashes per shingle and was the measured
    dominant cost of every MinHash-family query at the sf10 tier).
    ``hash_fn='xxhash64'`` is the production default; ``'md5'`` derives
    the identical family from the md5 digest so DuckDB replays every
    component exactly (the d4/d12 value oracles). The halves are
    PROJECTED columns (not inlined into each aggregate): Catalyst does
    no CSE across aggregate children, so inlining would re-hash per
    permutation — the same trap shingles_from_tokens documents.
    """
    exploded = doc_shingles(df, id_col, text_col, k)
    h1, h2 = _base_halves(F.col("shingle"), hash_fn)
    halved = exploded.select(F.col(id_col), h1.alias("_h1"), h2.alias("_h2"))
    aggs = [
        F.min(F.col("_h1") + F.lit(i) * F.col("_h2")).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    sig = F.array(*[F.col(f"h{i}") for i in range(num_hashes)])
    return halved.groupBy(id_col).agg(*aggs).select(id_col, sig.alias("sig"))


def banded_buckets(
    signatures: DataFrame,
    id_col: str = "doc_id",
    bands: int = 8,
    rows_per_band: int = 4,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, band, bucket) banded-LSH index rows from MinHash signatures —
    the inverted-index half of :func:`lsh_candidate_pairs`, exposed on
    its own because the index IS the incrementally-maintainable dedup
    state: the banding of a doc depends only on the doc, so
    index(batch₁ ∪ batch₂) == index(batch₁) ∪ index(batch₂)
    exactly — per-batch index rows union into the same table a
    whole-corpus build would produce. Map-only (one explode per doc)."""

    def band_bucket(b: int) -> Column:
        sl = F.slice("sig", b * rows_per_band + 1, rows_per_band)
        if hash_fn == "xxhash64":
            return F.xxhash64(sl)
        if hash_fn == "md5":
            # components are BIGINT (round 12); long→string casts agree
            # between Spark and DuckDB, so the md5-over-joined-decimals
            # bucket stays value-oracled
            return F.md5(
                F.array_join(F.transform(sl, lambda x: x.cast("string")), "|")
            )
        raise ValueError(f"unknown hash_fn: {hash_fn!r} (want 'xxhash64' or 'md5')")

    # loud guard on the band geometry: if bands × rows_per_band exceeds
    # the signature width, the out-of-range bands slice EMPTY arrays and
    # hash identically for every doc — all docs collide in those bands
    # and the dedup false-positives catastrophically, silently (round-8
    # review follow-up; latent in lsh_candidate_pairs since round 1)
    need = bands * rows_per_band
    signatures = signatures.withColumn(
        "sig",
        F.when(
            F.size("sig") < need,
            F.raise_error(
                F.concat(
                    F.lit(
                        f"banded_buckets: {bands} bands x {rows_per_band} "
                        f"rows need >= {need} hashes but signature has "
                    ),
                    F.size("sig").cast("string"),
                )
            ),
        ).otherwise(F.col("sig")),
    )

    return signatures.select(
        F.col(id_col),
        # explode_outer: sidesteps the inferred size()>0 filter, which would
        # otherwise re-hash every band a second time (see doc_shingles).
        F.explode_outer(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), band_bucket(b).alias("bucket"))
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")


def doc_band_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    k: int = 3,
    bands: int = 8,
    rows_per_band: int = 4,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Documents → the complete banded dedup index: MinHash signatures →
    :func:`banded_buckets` rows, PLUS a sentinel row ``(id, band=-1,
    bucket=<own id>)`` for every document too short to shingle (< k
    tokens / empty text), which :func:`minhash_signatures`'s groupBy
    would otherwise drop entirely.

    The sentinels make the (id, kept) verdict contract TOTAL (round-8
    review finding: a pipeline inner-joining documents to verdicts on
    kept=true silently lost every short doc): each sentinel bucket is a
    singleton keyed by the doc's own id at band −1 — no real band is
    negative, so sentinels can never collide with content buckets, and
    a singleton bucket always reads back kept=true. The per-doc union
    law banded_buckets documents is preserved (sentinels too depend
    only on the doc)."""
    idx = banded_buckets(
        minhash_signatures(df, id_col, text_col, num_hashes, k, hash_fn),
        id_col,
        bands,
        rows_per_band,
        hash_fn,
    )
    # sentinel bucket key: for md5 the bucket column is string, so any
    # id casts injectively; for xxhash64 the bucket is BIGINT — numeric
    # ids cast exactly, while string ids (crawl corpora) hash via
    # xxhash64 (band −1 keeps sentinels disjoint from content buckets;
    # a 64-bit sentinel collision merging two short docs is the same
    # accepted risk the content buckets already carry)
    if hash_fn == "xxhash64":
        id_dt = df.schema[id_col].dataType.simpleString()
        if id_dt in ("bigint", "int", "smallint", "tinyint"):
            sent_bucket = F.col(id_col).cast("long")
        else:
            sent_bucket = F.xxhash64(F.col(id_col))
    else:
        sent_bucket = F.col(id_col).cast("string")
    # sentinel membership is decided by the shingle precondition directly
    # (size(tokens) < k — exactly when doc_shingles yields nothing): an
    # anti join against the index would re-execute the whole signature
    # subtree just to find the short docs
    sentinels = (
        df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
        .where(F.size("_toks") < k)
        .select(
            id_col,
            F.lit(-1).alias("band"),
            sent_bucket.alias("bucket"),
        )
    )
    return idx.unionByName(sentinels)


def lsh_bucket_keepers(banded: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """DIRECT bucket-collision dedup verdicts off a banded index →
    (id, kept): a doc is dropped iff some bucket it occupies contains a
    smaller id. One per-bucket min aggregate + one join back — no pair
    enumeration, so a degenerate bucket costs O(d), not O(d²).

    This is deliberately NON-transitive (a doc that is the min of every
    bucket it occupies survives even if one of its bucket-mates was
    dropped for colliding elsewhere) — the property that makes the
    verdict a pure function of the index table and therefore
    incrementally maintainable (verdicts can be read off an index folded
    batch by batch at any point). Full transitive-closure
    dedup is the batch d6 pass over :func:`lsh_candidate_pairs`.

    r12 optimization (guide §2.4 — remove shuffles outright): "dropped
    iff some bucket holds a smaller id" is per-row ``id == min(id) over
    (band, bucket)`` folded per doc with ``min_by``-style boolean AND —
    one bucket-keyed window plus one id-keyed aggregate. The previous
    shape (per-bucket min groupBy + flag join + two distincts + a
    lineage checkpoint so the index would not re-execute per consumer)
    paid four exchanges and a materialization for the same verdicts;
    the single-consumer plan needs no checkpoint at all. Verdicts are
    identical row-for-row (pinned by the existing d12 value oracle)."""
    w = Window.partitionBy("band", "bucket")
    return (
        banded.select(
            F.col(id_col), (F.col(id_col) == F.min(id_col).over(w)).alias("_ok")
        )
        .groupBy(id_col)
        .agg(F.min("_ok").alias("kept"))
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    bands: int = 8,
    rows_per_band: int = 4,
    max_bucket_size: int | None = 1000,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Candidate near-dup pairs (a < b) from banded LSH over signatures.

    Docs agreeing on ALL rows of at least one band land in the same bucket.
    Inverted-index pair generation: group ids by (band, band_hash) bucket
    and enumerate each posting list's (a < b) pairs with a nested array
    transform — the banded table shuffles ONCE (a bucket self-join would
    shuffle it twice) and the final distinct collapses pairs that collide
    in several bands. Bucket sizes, not n², drive cost. With the default
    8×4 over 32 hashes, the s-curve threshold is ≈ (1/8)^(1/4) ≈ 0.59
    Jaccard.

    Scale guard: a bucket of d docs yields d·(d−1)/2 pairs; a degenerate
    bucket (huge cluster of identical docs — run exact dedup first) would
    blow up the explode. ``max_bucket_size`` drops larger buckets; any cap
    above the corpus's true max bucket size is answer-identical.

    ``hash_fn`` must match the one the signatures were built with:
    ``xxhash64`` buckets are BIGINT hashes of the band slice; ``md5``
    buckets are md5 over the '|'-joined band components (BIGINTs cast to
    string), the DuckDB-replayable twin (see :func:`_base_halves`).
    """

    banded = banded_buckets(signatures, id_col, bands, rows_per_band, hash_fn)
    postings = banded.groupBy("band", "bucket").agg(
        F.array_sort(F.collect_set(id_col)).alias("ids")
    )
    size_guard = F.size("ids") >= 2
    if max_bucket_size is not None:
        size_guard = size_guard & (F.size("ids") <= max_bucket_size)
    # ids is sorted, so pairing element i with every later element
    # enumerates each unordered (a < b) pair exactly once per bucket
    # explode_outer: an inner explode's inferred size()>0 filter would
    # re-materialize the full quadratic pair array a second time (see
    # doc_shingles).
    return (
        postings.filter(size_guard)
        .select(
            F.explode_outer(
                F.flatten(
                    F.transform(
                        "ids",
                        lambda x, i: F.transform(
                            F.slice("ids", i + 2, F.size("ids")),
                            lambda y: F.struct(x.alias("a"), y.alias("b")),
                        ),
                    )
                )
            ).alias("p")
        )
        .where(F.col("p").isNotNull())
        .select("p.a", "p.b")
        .distinct()
    )


def minhash_jaccard(
    signatures: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Estimate Jaccard for candidate pairs as the fraction of agreeing
    signature components (broadcast-join the signatures onto the pairs)."""
    sig_a = signatures.select(F.col(id_col).alias("a"), F.col("sig").alias("sig_a"))
    sig_b = signatures.select(F.col(id_col).alias("b"), F.col("sig").alias("sig_b"))
    agree = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v)
    )
    return (
        pairs.join(sig_a, "a")
        .join(sig_b, "b")
        .select(
            "a",
            "b",
            F.round(agree / F.size(F.col("sig_a")), 4).alias("jaccard_est"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (a < b, jaccard ≥ threshold).

    Inverted-index pair generation, NOT a shingle self-join: group postings
    by shingle, explode each posting list's (a < b) pairs with a nested
    array transform, count agreements per pair → |A∩B|. Each posting entry
    carries its doc's shingle count (known map-side before the explode), so
    |A|+|B| travels WITH the pair and jaccard = inter / (|A|+|B| − inter)
    needs no per-doc size table and no size joins: the whole operator is
    exactly two shuffles (shingle→postings, pairs→counts), versus four in
    the join formulation (shingles twice for sizes, candidate pairs twice
    through the size joins — and the candidate-pair table is the LARGEST
    intermediate, so those were the expensive shuffles at corpus scale).

    Scale guard: pair generation is quadratic PER SHINGLE — a stop-word
    trigram appearing in d documents alone yields d·(d−1)/2 pair structs
    inside one posting row. `max_shingle_df` drops posting lists longer
    than the cap, bounding both the pair count and the exploded row size
    (the denominators |A|,|B| stay exact, so the estimate only ever
    UNDER-counts the intersection — conservative for a keep-threshold).
    Any cap above the corpus's true max DF is answer-identical (synthetic
    testdata max DF: 25 at sf0.1, so the default 1000 changes nothing at
    test scale); at 100 TB the cap is what makes the operator runnable at
    all. ``None`` removes the guard — only for corpora with no hot
    shingles, or after LSH pre-pruning.
    """
    # |A| = size of the doc's shingle array, known map-side BEFORE the
    # explode — so carry it WITH each posting entry as (id, n) instead of
    # building a separate per-doc size table. That removes the second
    # groupBy over the shingle table AND both size joins: the whole
    # operator is shingle→postings→pairs, exactly two shuffles, and the
    # shingling itself executes once. (Two selects: tokens materialized as
    # a column first — no CSE inside higher-order lambdas.)
    toked = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
    arrays = toked.select(
        F.col(id_col), shingles_from_tokens(F.col("_toks"), k).alias("_sh")
    )
    # explode_outer + post-filter: see doc_shingles — an inner explode's
    # inferred `size(arr) > 0` filter re-inlines the whole shingling
    # expression below the projections.
    sh = arrays.select(
        F.col(id_col),
        F.size("_sh").alias("_n"),
        F.explode_outer("_sh").alias("shingle"),
    ).where(F.col("shingle").isNotNull())
    # array_sort on array<struct> orders by the first field (the id, unique
    # within a posting), preserving the a < b pair-enumeration contract.
    postings = sh.groupBy("shingle").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col(id_col).alias("id"), F.col("_n").alias("n")))
        ).alias("ids")
    )
    df_guard = F.size("ids") >= 2
    if max_shingle_df is not None:
        df_guard = df_guard & (F.size("ids") <= max_shingle_df)
    # ids is sorted, so pairing element i with every later element
    # enumerates each unordered (a < b) pair exactly once
    # explode_outer: an inner explode's inferred size()>0 filter would
    # re-materialize the full quadratic pair array a second time (see
    # doc_shingles).
    # Jaccard only ever uses |A|+|B|, so carry the SUM as one field: the
    # quadratic pair structs (the largest intermediate in the operator)
    # stay three longs wide instead of four.
    pairs = (
        postings.filter(df_guard)
        .select(
            F.explode_outer(
                F.flatten(
                    F.transform(
                        "ids",
                        lambda x, i: F.transform(
                            F.slice("ids", i + 2, F.size("ids")),
                            lambda y: F.struct(
                                x["id"].alias("a"),
                                y["id"].alias("b"),
                                (x["n"] + y["n"]).alias("s"),
                            ),
                        ),
                    )
                )
            ).alias("p")
        )
        .where(F.col("p").isNotNull())
        .select("p.a", "p.b", "p.s")
    )
    # s is constant per (a, b) — min() just picks the carried value, so
    # |A|+|B| arrives with the pair and no size join is needed.
    inter = pairs.groupBy("a", "b").agg(
        F.count("*").alias("inter"),
        F.min("s").alias("s"),
    )
    return (
        inter.withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("s") - F.col("inter")), 4),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def ngram_jaccard_pairs_prefix(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via PREFIX FILTERING — the
    AllPairs/PPJoin candidate bound (Bayardo 2007 *Scaling Up All Pairs
    Similarity Search*; Xiao 2008 *PPJoin*), the scale path for the
    fuzzy-dedup tier (VERDICT r11 #2).

    Same contract as :func:`ngram_jaccard_pairs` — (a < b, jaccard ≥
    threshold), jaccard rounded to 4 — and EXACT, not approximate: the
    prefix filter is lossless. Order all shingles by a global total
    order (document frequency asc, shingle asc); each doc's PREFIX is
    its first ``|A| − ⌈t·|A|⌉ + 1`` shingles in that order. Lemma: if
    J(A,B) ≥ t then A and B share a shingle inside BOTH prefixes —
    proof: J ≥ t ⇒ |A∩B| ≥ t·|A∪B| ≥ ⌈t·|A|⌉; if no common shingle is
    in both prefixes then (WLOG A's prefix ends no later in the global
    order than B's) every common shingle would lie outside A's prefix,
    i.e. among its last ⌈t·|A|⌉ − 1 shingles — contradiction. So pair
    generation over the PREFIX posting lists finds every qualifying
    pair; exact verification (array_intersect on the full shingle
    sets) then removes false candidates. Missed-pair probability: 0,
    unlike MinHash-LSH banding.

    Why this beats the full posting-list mine at 100 TB: pair
    generation is quadratic PER POSTING LIST, and df-ascending prefixes
    systematically exclude the hot (high-df) shingles that cause the
    blowup — the quadratic term collapses to the genuinely-similar
    neighborhood while everything else stays corpus-linear (one df
    aggregation, one per-doc prefix cut, prefix postings ≈ half the
    stream at t=0.5, then candidate-only verify joins). The
    ``max_shingle_df`` guard still caps degenerate prefix lists (e.g. a
    corpus of identical documents — where the OUTPUT itself is
    quadratic); as in :func:`ngram_jaccard_pairs` it only ever drops
    candidates, conservative for a keep-threshold, and any cap above
    the corpus's true max DF is answer-identical.
    """
    toked = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
    arrays = toked.select(
        F.col(id_col), shingles_from_tokens(F.col("_toks"), k).alias("_sh")
    )
    sh = arrays.select(
        F.col(id_col),
        F.size("_sh").alias("_n"),
        F.explode_outer("_sh").alias("shingle"),
    ).where(F.col("shingle").isNotNull())
    # global document frequency — the prefix ordering key (map-side
    # partial combine: the exchange carries ≤ |distinct shingles| rows)
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("_df"))
    ranked = sh.join(dfreq, "shingle")
    # per-doc prefix: first |A| − ⌈t·|A|⌉ + 1 shingles by (df, shingle)
    w = Window.partitionBy(id_col).orderBy("_df", "shingle")
    prefix_len = F.col("_n") - F.ceil(F.lit(float(threshold)) * F.col("_n")) + 1
    prefix = (
        ranked.withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") <= prefix_len)
        .select(id_col, "_n", "shingle")
    )
    postings = prefix.groupBy("shingle").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col(id_col).alias("id"), F.col("_n").alias("n")))
        ).alias("ids")
    )
    df_guard = F.size("ids") >= 2
    if max_shingle_df is not None:
        df_guard = df_guard & (F.size("ids") <= max_shingle_df)
    cand = (
        postings.filter(df_guard)
        .select(
            F.explode_outer(
                F.flatten(
                    F.transform(
                        "ids",
                        lambda x, i: F.transform(
                            F.slice("ids", i + 2, F.size("ids")),
                            lambda y: F.struct(
                                x["id"].alias("a"),
                                y["id"].alias("b"),
                                (x["n"] + y["n"]).alias("s"),
                            ),
                        ),
                    )
                )
            ).alias("p")
        )
        .where(F.col("p").isNotNull())
        # a pair can collide on several prefix shingles — dedup BEFORE
        # the verify joins; s = |A|+|B| rides along (min picks the
        # constant), so no size table is ever built
        .groupBy("p.a", "p.b")
        .agg(F.min("p.s").alias("s"))
    )
    # exact verify on candidates only — the d11 two-tier pattern applied
    # to pairs: |A∩B| via array_intersect over the full shingle sets,
    # shuffled only for candidate docs' rows (the joins hash-partition
    # by id; candidate count ≈ true near-dup pairs, ≪ corpus²)
    sh_a = arrays.select(F.col(id_col).alias("a"), F.col("_sh").alias("_sh_a"))
    sh_b = arrays.select(F.col(id_col).alias("b"), F.col("_sh").alias("_sh_b"))
    return (
        cand.join(sh_a, "a")
        .join(sh_b, "b")
        .withColumn("inter", F.size(F.array_intersect("_sh_a", "_sh_b")))
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("s") - F.col("inter")), 4),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(doc_id, simhash BIGINT): sign-aggregated token-hash bits.

    Explode tokens once; per bit b, sum +1/−1 by whether bit b of
    hash(token) is set; the sign vector packs back into one BIGINT.
    Hamming distance between simhashes approximates cosine distance of the
    token-count vectors. 64 min-width aggregates in one groupBy pass.

    ``hash_fn='xxhash64'`` (default) takes bit b of xxhash64(token);
    ``'md5'`` takes bit b%4 of hex nibble b//4 of md5(token) — an equally
    arbitrary 64-bit assignment, but one DuckDB reproduces exactly
    (strpos on the hex digit), which is what value-oracles the d5 gate
    query. SimHash is hash-agnostic: any fixed bit assignment works.
    """
    # materialize + explode_outer: avoids the inferred-filter split re-eval
    # (see doc_shingles).
    toked = (
        df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
        .select(F.col(id_col), F.explode_outer("_toks").alias("tok"))
        .where(F.col("tok").isNotNull())
    )
    if hash_fn == "xxhash64":
        h = F.xxhash64("tok")
        bit_is_set = [
            F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1 for b in range(bits)
        ]
    elif hash_fn == "md5":
        if bits > 64:
            raise ValueError("md5 twin packs at most 64 bits")
        # materialize the nibbles as columns (one conv per hex digit, not
        # one per bit): bit b = bit (b % 4) of nibble (b // 4)
        hx = F.md5("tok")
        toked = toked.select(
            F.col(id_col),
            *[
                F.conv(F.substring(hx, i + 1, 1), 16, 10)
                .cast("int")
                .alias(f"_n{i}")
                for i in range((bits + 3) // 4)
            ],
        )
        bit_is_set = [
            F.shiftright(F.col(f"_n{b // 4}"), b % 4).bitwiseAND(F.lit(1)) == 1
            for b in range(bits)
        ]
    else:
        raise ValueError(f"unknown hash_fn: {hash_fn!r} (want 'xxhash64' or 'md5')")
    aggs = [
        F.sum(F.when(bit_is_set[b], 1).otherwise(-1)).alias(f"b{b}")
        for b in range(bits)
    ]
    packed = None
    for b in range(bits):
        bit = F.when(F.col(f"b{b}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, b)
        packed = term if packed is None else packed.bitwiseOR(term)
    return toked.groupBy(id_col).agg(*aggs).select(id_col, packed.alias("simhash"))


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit simhashes (popcount of XOR)."""
    return F.bit_count(a.bitwiseXOR(b))


def _driver_union_find(edges: DataFrame) -> DataFrame:
    """Small-graph fast path for dedup_clusters: collect the (already
    materialized) edge list and run path-compressed union-find. Bounded
    by the caller's edge threshold — two longs per edge — never by corpus
    size. Result is identical to the distributed fixpoint: cluster_id =
    min doc id of the component."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for row in edges.toLocalIterator():
        a, b = row[0], row[1]
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by MIN id so the final root IS the cluster id
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo

    rows = [(node, find(node)) for node in parent]
    return edges.sparkSession.createDataFrame(
        rows, schema="node long, label long"
    ).select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


def dedup_clusters(
    pairs: DataFrame,
    max_iterations: int = 20,
    driver_threshold_edges: int = 1_000_000,
) -> DataFrame:
    """Connected components over near-dup pairs (a, b) → (doc_id, cluster_id)
    with cluster_id = min doc id in the component.

    Hybrid execution, picked by EDGE count (never corpus size — the pair
    list only contains documents that near-dup-matched something, orders
    of magnitude smaller than the corpus):

    - ≤ ``driver_threshold_edges``: one bounded collect (two longs per
      edge; the default 1M cap is ~16 MB) + path-compressed union-find on
      the driver. The iterative-jobs overhead (per-round join + agg +
      checkpoint + probe action) costs seconds of fixed latency; below
      the cap the driver finishes in milliseconds with the identical
      result.
    - above it: distributed min-label propagation — every node starts
      labeled with itself; each round every node takes the min label in
      its neighborhood; stop at fixpoint. Rounds needed = graph diameter
      (near-dup clusters are shallow); each round is one join + one
      aggregation, shuffle-partitioned on node id. This is the 100 TB
      path: no single machine ever holds the edge list.

    Both paths are deterministic and agree exactly (pinned by
    tests/test_scd_sketch_clusters.py with the threshold forced to 0).
    """
    # Bidirectional edge list in ONE scan of the pair plan: a union of two
    # selects would execute the upstream pair-mining pipeline TWICE inside
    # the checkpoint job (it is the expensive part — the quadratic pair
    # explode + two shuffles), whereas exploding both orientations per row
    # costs one extra projected row. No distinct(): pairs carry the a<b
    # contract (every generator in this module emits each unordered pair
    # once) — and min-propagation is idempotent to duplicate edges anyway.
    #
    # localCheckpoint, not cache(): cached plans compile WITHOUT adaptive
    # partition coalescing (spark.sql.optimizer.canChangeCachedPlanOutput-
    # Partitioning defaults false), so under a default-200-shuffle-partition
    # session the tiny edge table would pin 400 partitions and every loop
    # round would pay 400 near-empty tasks. The checkpoint materializes the
    # AQE-coalesced result once; every round (or the driver collect) then
    # scans a right-sized RDD — the mining plan executes exactly ONCE on
    # either path.
    edges = (
        pairs.select(
            # explode_outer per the module-wide inferred-filter rule
            # (see doc_shingles), though the 2-element array here is
            # never empty
            F.explode_outer(
                F.array(
                    F.struct(F.col("a").alias("src"), F.col("b").alias("dst")),
                    F.struct(F.col("b").alias("src"), F.col("a").alias("dst")),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .localCheckpoint()
    )
    if driver_threshold_edges > 0:
        # count on the CHECKPOINT (no recompute); collect only when small
        n_edges = edges.count()  # = 2 × pairs
        if n_edges <= 2 * driver_threshold_edges:
            return _driver_union_find(edges)
    # Round 1 fused into initialization: after one propagation round every
    # node's label is min(self, neighbors), which is exactly one groupBy over
    # the edge list — no join, no separate "label = self" seed table.
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("min_dst"))
        .select(
            F.col("src").alias("node"),
            F.least("src", "min_dst").alias("label"),
        )
    )

    def _label_sum(df: DataFrame):
        # decimal(38,0) so the probe cannot overflow at any node count
        return df.agg(F.sum(F.col("label").cast("decimal(38,0)"))).first()[0]

    # Fixpoint probe: labels are MONOTONE NON-INCREASING per node, so the
    # total label sum strictly decreases exactly while any node still
    # changes. Comparing sums costs one map-side-partial aggregate — no
    # join, no extra execution of the round's plan (the localCheckpoint
    # materializes it first). The loop is job-LATENCY-bound (the per-round
    # data is a label table, not the corpus), so the probe cadence
    # escalates geometrically (1, 2, 4, 4… rounds per checkpoint+probe):
    # near-dup components are typically cliques or near-cliques that
    # converge in the fused round 1, making the common case exactly one
    # checkpoint and two tiny agg jobs; long-chain components still get
    # probed often enough that at most ~2× the needed rounds run.
    prev_sum = _label_sum(labels)
    converged = False
    rounds_done = 1  # the fused initialization round
    rounds_per_probe = 1
    while rounds_done < max_iterations:
        for _inner in range(rounds_per_probe):
            neighbor_labels = (
                edges.join(labels, edges.dst == labels.node)
                .select(F.col("src").alias("node"), F.col("label"))
            )
            labels = (
                labels.unionByName(neighbor_labels)
                .groupBy("node")
                .agg(F.min("label").alias("label"))
            )
        rounds_done += rounds_per_probe
        labels = labels.localCheckpoint()  # eager; truncates iterative lineage
        new_sum = _label_sum(labels)
        if new_sum == prev_sum:
            converged = True
            break
        prev_sum = new_sum
        rounds_per_probe = min(rounds_per_probe * 2, 4)
    if not converged:
        # Partial labels would silently SPLIT long-chain components (extra
        # cluster ids → dedup keeps extra duplicates). Fail loudly instead:
        # min-label propagation needs ~diameter rounds.
        raise RuntimeError(
            f"dedup_clusters did not converge in {max_iterations} rounds — "
            "a component's diameter exceeds max_iterations; raise it"
        )
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


def dedup_keep_representatives(
    df: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Full near-dup dedup: cluster the pairs, keep each cluster's min-id
    representative plus every unpaired document."""
    clusters = dedup_clusters(pairs)
    non_representatives = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("doc_id").alias(id_col)
    )
    return df.join(non_representatives, id_col, "left_anti")


def chunk_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 10,
) -> DataFrame:
    """Cross-document repeated-passage removal (the RefinedWeb / Gopher
    "remove duplicated lines across documents" step, adapted to
    fixed-width token chunks since the corpus carries no line structure).

    Policy: each DISTINCT chunk text survives only in the document with
    the smallest id; every other occurrence is dropped. Deterministic
    under any partitioning (min-id keeper, positional reassembly).

    Plan shape (r12 rewrite — guide §8: decide with small rows, move
    big rows once):
    - one narrow explode of non-overlapping ``chunk_tokens``-token
      chunks, projected DOWN TO METADATA before any exchange: the rows
      that shuffle are (doc, position, 128-bit chunk hash) — 20-odd
      bytes — never the chunk text (the d10 two-seeded-xxhash64
      discipline: at b distinct chunks the false-identity odds are
      ≈ b²/2¹²⁹, negligible where a single 64-bit hash is not);
    - one groupBy on the hash to elect the keeper (min id);
    - one co-partitioned metadata join back → the DROPPED positions
      only, folded to one integer-array row per affected doc;
    - a doc-grain left join attaches the drop lists (AQE broadcasts
      them when few docs are affected) and each document is rebuilt
      MAP-SIDE by re-slicing its own token array — chunk text crosses
      the wire ZERO times (the previous shape shuffled it three: the
      keeper groupBy, the join back, and the per-doc reassembly
      collect_list).
    No UDFs. Output is byte-identical: the rebuilt chunk strings are
    the same slices joined by the same separator in the same positional
    order.

    Returns (id_col, clean_text, n_removed).
    """
    base = df.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("_toks")
    )
    # _toks is a PROJECTED column (no CSE inside HOF lambdas — the
    # shingles_from_tokens rule); chunk strings are built map-side and
    # dropped in the very next projection, before any exchange
    nch = F.ceil(F.size("_toks") / F.lit(chunk_tokens)).cast("int")
    chunk_str = lambda k: F.array_join(  # noqa: E731 — bound once below
        F.slice("_toks", k * chunk_tokens + 1, chunk_tokens), " "
    )
    meta = base.select(
        id_col,
        F.posexplode(
            F.transform(F.sequence(F.lit(0), nch - 1), chunk_str)
        ).alias("pos", "_c"),
    ).select(
        id_col,
        "pos",
        F.struct(
            F.xxhash64("_c").alias("h1"),
            F.xxhash64(F.lit(0x9E3779B9), "_c").alias("h2"),
        ).alias("_k"),
    )
    keepers = meta.groupBy("_k").agg(F.min(id_col).alias("_m"))
    drops = (
        meta.join(keepers, "_k")
        .filter(F.col(id_col) > F.col("_m"))
        .groupBy(id_col)
        .agg(F.collect_list("pos").alias("_dps"))
    )
    rebuilt = base.join(drops, id_col, "left").select(
        F.col(id_col),
        "_toks",
        F.coalesce("_dps", F.array().cast("array<int>")).alias("_dl"),
    )
    kept_ks = F.filter(
        F.sequence(F.lit(0), F.ceil(F.size("_toks") / F.lit(chunk_tokens)).cast("int") - 1),
        lambda k: ~F.array_contains(F.col("_dl"), k.cast("int")),
    )
    return rebuilt.select(
        F.col(id_col),
        F.concat_ws(
            " ",
            F.transform(
                kept_ks,
                lambda k: F.array_join(
                    F.slice("_toks", k * chunk_tokens + 1, chunk_tokens), " "
                ),
            ),
        ).alias("clean_text"),
        F.size("_dl").cast("long").alias("n_removed"),
    )


def cdc_chunk_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    w: int = 2,
    divisor: int = 8,
) -> DataFrame:
    """Content-defined chunk dedup — :func:`chunk_dedup`'s keeper policy
    over CONTENT-DEFINED boundaries (the LBFS/FastCDC idea on a token
    stream): a chunk boundary falls after token i exactly where the
    w-token gram ending at i hashes to 0 mod ``divisor``, so boundaries
    are a pure function of local content. That is what fixed-width
    chunking can't give you: insert one token near the front of a
    near-copy and every downstream fixed-width chunk shifts (zero
    dedup); content-defined boundaries RESYNC right after the edit, so
    the shared tail still collapses (pinned by
    tests/test_cdc_chunking.py's insertion-resync test).

    Expected chunk length ≈ ``divisor`` tokens (geometric: each
    candidate position cuts with probability 1/divisor). md5-derived
    boundary hash (one md5 of the w-gram per position, the
    :func:`_base_halves` low half) so DuckDB replays boundaries
    bit-exactly; at 100 TB swap in xxhash64 exactly as d9/d10 document
    for their gram keys — the chunk-grain shuffle shape is unchanged.

    Plan shape: boundary detection + chunk slicing are map-only HOFs
    over the projected token array (no shuffle, whole-stage codegen);
    then the same METADATA exchanges as :func:`chunk_dedup` (r12: the
    keeper groupBy, join back and drop-list fold move (doc, pos,
    128-bit hash) rows only; documents rebuild map-side from their own
    (_toks, _bounds)). Returns the TOTAL contract (doc_id, clean_text,
    n_removed, n_chunks) — `bounded` carries one row per input doc, so
    empty docs read back ('', 0, 0), never vanish.
    """
    toked = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
    n = F.size("_toks")
    # boundary candidates i ∈ [w, n−1] (1-based; a cut after token n−1
    # at the earliest leaves a non-empty final chunk, and positions
    # before w have no full gram). sequence(w, n−1) would DESCEND for
    # n ≤ w — guard with an explicit empty branch (the shingling rule).
    # gram_at, not array_join(slice(...)): one interpreted md5 runs per
    # token position here, and the slice's per-position array allocation
    # measured 8.7 vs 1.6 s for this exact scan at sf10-shape (r12 s6)
    gram_hash = lambda i: F.conv(  # noqa: E731 — bound once below
        F.substring(F.md5(gram_at("_toks", i - (w - 1), w)), 1, 8),
        16,
        10,
    ).cast("long")
    cuts = F.when(
        n >= w + 1,
        F.filter(
            F.sequence(F.lit(w), n - 1),
            lambda i: gram_hash(i) % divisor == 0,
        ),
    ).otherwise(F.array().cast("array<int>"))
    bounded = toked.select(
        F.col(id_col),
        F.col("_toks"),
        F.concat(F.array(F.lit(0)), cuts, F.array(n)).alias("_bounds"),
    )
    # _bounds is a PROJECTED column (Catalyst does no CSE inside HOF
    # lambdas — the shingles_from_tokens rule), read O(1) per element.
    chunk_structs = F.when(
        F.size("_toks") > 0,
        F.transform(
            F.sequence(F.lit(1), F.size("_bounds") - 1),
            lambda j: F.struct(
                (j - 1).cast("int").alias("pos"),
                F.array_join(
                    F.slice(
                        "_toks",
                        F.element_at("_bounds", j) + 1,
                        F.element_at("_bounds", j + 1) - F.element_at("_bounds", j),
                    ),
                    " ",
                ).alias("chunk"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<pos:int,chunk:string>>"))
    # r12 rewrite (guide §8 — the chunk_dedup shape): only METADATA
    # shuffles. Chunk text is built map-side, hashed to the d10-style
    # two-seeded 128-bit key in the same codegen stage, and dropped
    # before the exchange; the keeper election, the join back and the
    # drop-list fold all move (doc, pos, hash) integers. Documents are
    # rebuilt MAP-SIDE by re-slicing their own (_toks, _bounds) against
    # the (broadcast) per-doc drop list — chunk text never crosses the
    # wire (previously it crossed three times), and the output is
    # byte-identical (same slices, same separator, same order). The
    # final left join of the old shape is gone too: `bounded` already
    # has one row per input doc, so the contract stays TOTAL.
    meta = (
        bounded.select(F.col(id_col), F.explode(chunk_structs).alias("c"))
        .select(
            id_col,
            F.col("c.pos").alias("pos"),
            F.struct(
                F.xxhash64("c.chunk").alias("h1"),
                F.xxhash64(F.lit(0x9E3779B9), "c.chunk").alias("h2"),
            ).alias("_k"),
        )
    )
    keepers = meta.groupBy("_k").agg(F.min(id_col).alias("_m"))
    drops = (
        meta.join(keepers, "_k")
        .filter(F.col(id_col) > F.col("_m"))
        .groupBy(id_col)
        .agg(F.collect_list("pos").alias("_dps"))
    )
    rebuilt = bounded.join(drops, id_col, "left").select(
        F.col(id_col),
        "_toks",
        "_bounds",
        F.coalesce("_dps", F.array().cast("array<int>")).alias("_dl"),
    )
    kept_js = F.filter(
        F.sequence(F.lit(1), F.size("_bounds") - 1),
        lambda j: ~F.array_contains(F.col("_dl"), (j - 1).cast("int")),
    )
    clean = F.when(
        F.size("_toks") > 0,
        F.concat_ws(
            " ",
            F.transform(
                kept_js,
                lambda j: F.array_join(
                    F.slice(
                        "_toks",
                        F.element_at("_bounds", j) + 1,
                        F.element_at("_bounds", j + 1) - F.element_at("_bounds", j),
                    ),
                    " ",
                ),
            ),
        ),
    ).otherwise(F.lit(""))
    return rebuilt.select(
        F.col(id_col),
        clean.alias("clean_text"),
        F.size("_dl").cast("long").alias("n_removed"),
        F.when(F.size("_toks") > 0, F.size("_bounds") - 1)
        .otherwise(F.lit(0))
        .cast("long")
        .alias("n_chunks"),
    )


def substring_dedup(
    documents: DataFrame,
    k: int = 10,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    gram_key: str = "text",
    min_span_tokens: int | None = None,
) -> DataFrame:
    """Exact repeated-substring removal: delete every token span that is
    part of a whitespace-token k-gram occurring ≥ ``min_count`` times
    ANYWHERE in the corpus (the ExactSubstr policy of "Deduplicating
    Training Data Makes Language Models Better", Lee et al. 2022 —
    approximated at k-token granularity instead of a suffix array, the
    standard distributed formulation).

    Returns (id, n_tokens, n_removed, clean_text) with surviving tokens
    rejoined in order; docs shorter than ``k`` tokens pass through whole.

    ``min_span_tokens`` (default None = k, i.e. everything covered) is the
    paper's removal-length threshold: duplicated-gram occurrences are first
    merged into MAXIMAL covered spans per document, and only spans of at
    least this many tokens are removed — Lee et al. drop duplicated
    substrings above 50 tokens, keeping incidental short repeats. Values
    below ``k`` are meaningless (a single occurrence already covers k
    tokens) and rejected.

    Scale shape (5 key-partitioned shuffles, none carrying full texts
    beyond the k-gram strings):
    1. one explode to (doc, position, gram);
    2. corpus-wide gram count (groupBy gram) → duplicated grams;
    3. semi join occurrences against duplicated grams (co-keyed);
    4. maximal-span merge: a doc-partitioned window over start positions
       (classic interval merge — new span when the start clears the
       running max end) — then ONE explode of the DISJOINT spans to
       covered positions. Merging before exploding keeps the shuffle at
       one row per duplicated occurrence instead of k, and disjoint
       spans need no distinct: in a boilerplate-heavy corpus where
       occurrences overlap (a duplicated run of L tokens has L−k+1
       occurrences), the old explode-then-distinct shape shuffled
       k·(L−k+1) rows per run against L here;
    5. anti join token stream against covered positions (both keyed on
       (doc, position)) → per-doc ordered reassembly.

    ``gram_key='hash'`` swaps the join/group key for a PAIR of
    independently-seeded xxhash64s over the gram — 16-byte keys instead
    of k-token strings — the 100 TB default; ``'text'`` keeps the raw
    gram so a SQL oracle can replay the exact pipeline (same trick as
    chunk_dedup's documented key swap). A single 64-bit hash is not
    enough here (ADVICE r04): at b distinct grams the expected number of
    birthday collisions is ≈ b²/2⁶⁵ — about 54 false gram-identities at
    b = 10⁹, and unlike chunk_dedup a collision between two UNIQUE grams
    gives both count 2 and falsely deletes both spans. The 128-bit pair
    pushes that to ≈ b²/2¹²⁹ (~10⁻²⁰ at 10⁹ grams — negligible); the
    residual risk is inherent to any hash-keyed formulation and only
    ``gram_key='text'`` is collision-free.
    """
    if gram_key not in ("text", "hash"):
        raise ValueError(f"gram_key must be text|hash, got {gram_key!r}")
    if min_span_tokens is None:
        min_span_tokens = k
    if min_span_tokens < k:
        raise ValueError(
            f"min_span_tokens ({min_span_tokens}) below k ({k}): every covered "
            "span is at least k tokens, so smaller thresholds are meaningless"
        )
    toked = documents.select(
        F.col(id_col).alias("_id"), tokens(F.col(text_col)).alias("_t")
    )
    # (doc, start position 0-based, gram string); sequence() with
    # start > stop counts DOWN in Spark, so short docs need the explicit
    # empty-array guard, not a clamped stop
    starts = F.when(
        F.size("_t") >= k, F.sequence(F.lit(1), F.size("_t") - k + 1)
    ).otherwise(F.array().cast("array<int>"))
    grams = toked.select(
        "_id",
        F.posexplode(
            # gram_at: no per-position slice allocation (~4x at k=10,
            # r12 s6 measurement — see gram_at)
            F.transform(starts, lambda i: gram_at("_t", i, k))
        ).alias("_i", "_gram"),
    )
    # 128-bit composite key: two xxhash64s with distinct literal seeds
    # (the extra literal column changes the hash input, giving an
    # independent second hash) — see the collision note in the docstring
    key = (
        F.struct(
            F.xxhash64("_gram").alias("h1"),
            F.xxhash64(F.lit(0x9E3779B9), "_gram").alias("h2"),
        )
        if gram_key == "hash"
        else F.col("_gram")
    )
    grams = grams.select("_id", "_i", key.alias("_k"))
    dup_keys = (
        grams.groupBy("_k").agg(F.count("*").alias("_n"))
        .filter(F.col("_n") >= min_count)
        .select("_k")
    )
    # maximal-span merge (shape note 4): occurrences sorted by start per
    # doc; a new span begins when this start exceeds the running max end
    # BY MORE THAN ONE position (end-adjacent intervals produce one
    # contiguous covered run and must merge for the span-length
    # threshold to see the true maximal span)
    occ = grams.join(dup_keys, "_k", "semi").select(
        "_id", F.col("_i").alias("_s"), (F.col("_i") + k - 1).alias("_e")
    )
    return _remove_spans_rebuild(toked, occ, min_span_tokens, id_col)


def _remove_spans_rebuild(
    toked: DataFrame,
    intervals: DataFrame,
    min_span_tokens: int,
    id_col: str,
) -> DataFrame:
    """Shared removal tail for the ExactSubstr family: merge the
    (possibly overlapping) covered ``intervals`` (_id, _s, _e; 0-based
    inclusive token positions) into MAXIMAL disjoint spans per doc (the
    windowed interval merge — new span when a start clears the running
    max end by more than one), drop spans shorter than
    ``min_span_tokens``, anti-join the token stream against the covered
    positions, and reassemble (id, n_tokens, n_removed, clean_text).
    ``toked`` is (_id, _t:array<string>).

    r12 optimization (guide §8 — decide with small rows, move big rows
    once): the decision table is the merged span list — integers, one
    row per doc after the fold — so the token stream never shuffles.
    Spans are merged with the same per-doc window, folded to one sorted
    ``array<struct<_s,_e>>`` row per affected doc (same exchange — the
    groupBy key matches the window partition), joined back DOC-GRAIN
    (AQE broadcasts the span table — affected docs ≪ corpus rows in
    bytes), and each document is rebuilt map-side by concatenating the
    gap slices between its spans. The previous tail exploded the corpus
    to (doc, position, token) rows, anti-joined them against exploded
    covered positions, and regrouped — three corpus-token-shaped
    exchanges for what one integer-array broadcast decides. Outputs are
    byte-identical: gap slices preserve token order, and
    ``concat_ws(' ', kept)`` is unchanged."""
    w = Window.partitionBy("_id").orderBy("_s")
    prev_end = F.max("_e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    is_new_span = F.when(
        prev_end.isNull() | (F.col("_s") > prev_end + 1), 1
    ).otherwise(0)
    spans = (
        intervals.withColumn(
            "_g", F.sum(is_new_span).over(w.rowsBetween(Window.unboundedPreceding, 0))
        )
        .groupBy("_id", "_g")
        .agg(F.min("_s").alias("_s"), F.max("_e").alias("_e"))
        .filter(F.col("_e") - F.col("_s") + 1 >= min_span_tokens)
    )
    span_lists = spans.groupBy("_id").agg(
        F.array_sort(F.collect_list(F.struct("_s", "_e"))).alias("_sp")
    )
    # gap-slice rebuild: fold over the sorted disjoint spans with state
    # (kept-so-far, next-uncopied-0-based-position); each step copies
    # the gap before the span, the finish copies the tail. slice() is
    # 1-based; zero-length gaps yield empty slices. Docs with no spans
    # pass through whole via the null-_sp branch.
    base = toked.select("_id", "_t").join(span_lists, "_id", "left")
    kept_arr = F.when(F.col("_sp").isNull(), F.col("_t")).otherwise(
        F.aggregate(
            "_sp",
            F.struct(
                F.array().cast("array<string>").alias("a"),
                F.lit(0).cast("int").alias("c"),
            ),
            lambda st, sp: F.struct(
                F.concat(
                    st["a"], F.slice("_t", st["c"] + 1, sp["_s"] - st["c"])
                ).alias("a"),
                (sp["_e"] + 1).cast("int").alias("c"),
            ),
            lambda st: F.concat(
                st["a"], F.slice("_t", st["c"] + 1, F.size("_t") - st["c"])
            ),
        )
    )
    return base.select(
        "_id", "_t", kept_arr.alias("_kept_arr")
    ).select(
        F.col("_id").alias(id_col),
        F.size("_t").cast("long").alias("n_tokens"),
        (F.size("_t") - F.size("_kept_arr")).cast("long").alias("n_removed"),
        F.concat_ws(" ", F.col("_kept_arr")).alias("clean_text"),
    )


def suffix_array_dedup(
    documents: DataFrame,
    min_len: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_span_tokens: int | None = None,
    max_levels: int = 32,
) -> DataFrame:
    """ExactSubstr via a DISTRIBUTED SUFFIX ARRAY (Lee et al. 2022's
    actual data structure, built with prefix doubling à la
    Flick & Aluru 2015 "Parallel distributed memory construction of
    suffix and LCP arrays"): delete every token position lying inside a
    substring of ≥ ``min_len`` tokens that occurs ≥ 2 times anywhere in
    the corpus. Same output contract as :func:`substring_dedup`
    (id, n_tokens, n_removed, clean_text) — and for the DEFAULT
    thresholds the two are provably identical (a position is inside a
    duplicated ≥ k-token substring iff it is inside a duplicated
    k-gram), which is how the registered query value-oracles this
    implementation: the oracle replays the k-gram pipeline.

    What the suffix array buys over the k-gram formulation: per-suffix
    LONGEST duplicated-prefix lengths (true LCPs), so one build answers
    EVERY threshold — and the shuffle rows carry integer ranks, never
    k-token gram strings (the k-gram explode's k× text blow-up).

    Build (all key-partitioned; no single-partition window — global
    dense ranks come from operators/ranking.distributed_dense_rank):

    1. base rank table R₂ built at WIDTH 2 directly — one distributed
       rank over (token, next-token-or-'') pairs (round 10: skips the
       separate vocabulary-rank round; '' sorts below every token and
       the tokenizer never emits it, so the sentinel order matches);
    2. prefix doubling: R₂ⱼ from (Rⱼ(p), Rⱼ(p+j), −1 beyond doc end) —
       a (doc,pos)-keyed self-join + one distributed rank per round,
       ⌈log₂ max_doc_tokens⌉ rounds, early exit once ranks are unique
       (the uniqueness probe is free — the rank builder's offset
       collect already sums to the global distinct count);
    3. suffix-array adjacency: rank-ordered index (one more distributed
       rank over unique keys), self-join idx↔idx+1;
    4. LCP of every adjacent pair by the standard descending walk over
       the saved level tables (if Rⱼ matches at offset lcp, lcp += j) —
       two (doc,pos)-keyed joins per level — then clamped to the real
       remaining lengths (sentinel pads only ever match pads);
    5. d(s) = max(LCP with SA-prev, LCP with SA-next) — the classic SA
       identity for "longest duplicated prefix of suffix s";
    6. spans [s, s+d) for d ≥ min_len → the shared interval-merge +
       anti-join reassembly tail (:func:`_remove_spans_rebuild`).

    Cost: O(n log L) shuffle rows of small integers (L = max doc
    tokens) vs the k-gram's O(n·k) text bytes — the trade a 100 TB
    deployment prices out per corpus. The per-round bounded collects
    (one row per shuffle partition, the ranking offsets) serialize
    plan-build exactly like v11's Lloyd rounds — fixed count,
    corpus-independent size.
    """
    if min_span_tokens is None:
        min_span_tokens = min_len
    if min_span_tokens < min_len:
        raise ValueError(
            f"min_span_tokens ({min_span_tokens}) below min_len ({min_len})"
        )
    toked, depths = suffix_duplication_depths(
        documents, id_col=id_col, text_col=text_col, max_levels=max_levels
    )
    intervals = depths.filter(F.col("_d") >= min_len).select(
        "_id",
        F.col("_p").alias("_s"),
        (F.col("_p") + F.col("_d") - 1).alias("_e"),
    )
    return _remove_spans_rebuild(toked, intervals, min_span_tokens, id_col)


def suffix_duplication_depths(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_levels: int = 32,
) -> tuple[DataFrame, DataFrame]:
    """The suffix-array build itself → ``(toked, depths)``.

    - ``toked``: (_id, _t) — the tokenized corpus (lazy checkpoint);
    - ``depths``: (_id, _p, _d) — for every suffix (document, 0-based
      token position), the length of the LONGEST prefix that occurs ≥ 2
      times anywhere in the corpus (the classic SA identity
      d(s) = max(LCP(s, SA-prev), LCP(s, SA-next)); positions with no
      duplicated prefix may be absent — treat missing as 0).

    ``depths`` is the answer-every-threshold artifact: ExactSubstr at
    ANY ``min_len`` is a filter over it, which is what the d13p store
    persists (suffix_array_build_or_load) so the O(n log L) build runs
    once per corpus. Build steps documented in
    :func:`suffix_array_dedup`."""
    from fhir_etl_spark.operators.ranking import (
        distributed_dense_rank,
        distributed_dense_rank_with_count,
    )

    toked = documents.select(
        F.col(id_col).alias("_id"), tokens(F.col(text_col)).alias("_t")
    ).localCheckpoint(eager=False)
    suf = toked.select("_id", F.posexplode("_t").alias("_p", "_w"))
    agg0 = toked.agg(
        F.max(F.size("_t")).alias("mx"), F.sum(F.size("_t")).alias("tot")
    ).first()
    max_len = agg0["mx"] or 0
    n_suffixes = int(agg0["tot"] or 0)
    if max_len == 0:
        empty = suf.select(
            "_id", "_p", F.lit(0).cast("int").alias("_d")
        ).limit(0)
        return toked, empty

    # rank tables arrive MATERIALIZED (the rank builders eager-
    # checkpoint internally — also the lineage barrier: prefix
    # doubling self-joins each round's output, so an untruncated plan
    # doubles per round), so the level selects below are cheap
    # projections over pinned partitions — no re-execution anywhere.
    #
    # Round-10 latency trims (VERDICT r09 #7) and the r13 rework —
    # semantics unchanged (d13 == d10 randomized-equivalence tests pin
    # it, and the registered oracles replay the k-gram formulation):
    # - r13: the base table is built at WIDTH 4, MAP-SIDE — each
    #   suffix's first four tokens read from its own doc's token array
    #   (F.get, '' past the end) — which deletes BOTH the (doc,pos)
    #   self-join the width-2 base needed AND one whole doubling round
    #   (width 2→4). '' sorts below every real token and tokens()
    #   never emits '', so padded-tuple lexicographic order is exactly
    #   truncated-suffix order with shorter-first — the same sentinel
    #   contract the -1 rank pad encodes (guide §2.1: remove the
    #   shuffle outright);
    # - each round's uniqueness probe is FREE: the rank builder's
    #   prefix-offset collect already sums to the global distinct
    #   count, replacing one count/countDistinct job per round.
    exp4 = toked.select("_id", "_t", F.posexplode("_t").alias("_p", "_w0"))
    keyed0 = exp4.select(
        "_id",
        "_p",
        "_w0",
        F.coalesce(F.get("_t", F.col("_p") + 1), F.lit("")).alias("_w1"),
        F.coalesce(F.get("_t", F.col("_p") + 2), F.lit("")).alias("_w2"),
        F.coalesce(F.get("_t", F.col("_p") + 3), F.lit("")).alias("_w3"),
    )
    level4, n_distinct = distributed_dense_rank_with_count(
        keyed0, ["_w0", "_w1", "_w2", "_w3"], "_r"
    )
    tables: list[tuple[int, DataFrame]] = [
        (4, level4.select("_id", "_p", "_r"))
    ]
    j = 4
    while j < max_len and len(tables) < max_levels and n_distinct < n_suffixes:
        cur = tables[-1][1]
        shifted = cur.select(
            "_id", (F.col("_p") - j).alias("_p"), F.col("_r").alias("_r2")
        )
        keyed = cur.join(shifted, ["_id", "_p"], "left").select(
            "_id", "_p", "_r", F.coalesce("_r2", F.lit(-1)).alias("_r2")
        )
        # Dense-domain bucketed ranking for these integer-keyed rounds
        # was built and A/B'd TWICE and declined twice: r12's variant
        # rode spark.sql.shuffle.partitions and AQE coalesced it serial
        # (23.2 vs 17.2 s); the r13 rebuild pinned an explicit
        # REPARTITION_BY_NUM partition count (no coalescing possible,
        # no range-sampling job, round input executed once) and STILL
        # lost — warm A/B at sf0.1: bucketed rounds 2.0–3.0 s each vs
        # generic 1.3–1.8 s (d13 total 24.4 vs 17.5 s). The sampling
        # job the generic builder pays is cheap next to whatever the
        # range-sorted exchange buys the window sort. Measurements in
        # OPTIMIZATION_r13.md; the generic range builder stays.
        nxt, n_distinct = distributed_dense_rank_with_count(
            keyed, ["_r", "_r2"], "_rn"
        )
        nxt = nxt.select("_id", "_p", F.col("_rn").alias("_r"))
        j *= 2
        tables.append((j, nxt))

    final = tables[-1][1]
    if n_distinct == n_suffixes:
        # ranks are UNIQUE dense in [0, n): the rank IS the suffix-array
        # position — re-ranking by (_r, _id, _p) would reproduce _r
        # bit-for-bit (dense, 0-based, same order, no ties to break).
        # Skipping it saves one whole ranking round (r13; guide §1.2 —
        # don't compute what you throw away).
        sa = final.select("_id", "_p", F.col("_r").cast("long").alias("_sa"))
    else:
        sa = distributed_dense_rank(final, ["_r", "_id", "_p"], "_sa").select(
            "_id", "_p", "_sa"
        )
    nxt_suf = sa.select(
        (F.col("_sa") - 1).alias("_sa"),
        F.col("_id").alias("_bid"),
        F.col("_p").alias("_bp"),
    )
    pairs = (
        sa.join(nxt_suf, "_sa")
        .select(
            F.col("_id").alias("_aid"), F.col("_p").alias("_ap"), "_bid", "_bp"
        )
        .withColumn("_lcp", F.lit(0))
    )
    # LCP walk over the saved level tables, widest first (the narrowest
    # rank table is now width 4 — see the base-table note above)
    walk_levels = [(width, tbl, "_r") for width, tbl in reversed(tables)]
    for width, tbl, rcol in walk_levels:
        ra = tbl.select(
            F.col("_id").alias("_aid"), F.col("_p").alias("_qa"),
            F.col(rcol).alias("_ra"),
        )
        rb = tbl.select(
            F.col("_id").alias("_bid"), F.col("_p").alias("_qb"),
            F.col(rcol).alias("_rb"),
        )
        pairs = (
            pairs.withColumn("_qa", F.col("_ap") + F.col("_lcp"))
            .withColumn("_qb", F.col("_bp") + F.col("_lcp"))
            .join(ra, ["_aid", "_qa"], "left")
            .join(rb, ["_bid", "_qb"], "left")
            .withColumn(
                "_lcp",
                F.col("_lcp")
                + F.when(
                    F.col("_ra").isNotNull() & (F.col("_ra") == F.col("_rb")),
                    width,
                ).otherwise(0),
            )
            .drop("_qa", "_qb", "_ra", "_rb")
        )
    # Fused width-2 + width-1 finish (r13): the remainder below the
    # width-4 base resolves with ONE 3-token lookup per side instead of
    # the old width-2-rank join + width-1 token join (4 joins → 2).
    # Row-exists semantics match the old rank-table joins exactly: a
    # lookup past the doc end misses (left-join NULL → no match); a
    # within-row '' pad only ever matches another '' pad, and any
    # both-suffixes-exhausted overcount is removed by the same
    # remaining-length clamp below that always bounded pad matches.
    tok3 = exp4.select(
        "_id", "_p", "_w0",
        F.coalesce(F.get("_t", F.col("_p") + 1), F.lit("")).alias("_x1"),
        F.coalesce(F.get("_t", F.col("_p") + 2), F.lit("")).alias("_x2"),
    )
    ta = tok3.select(
        F.col("_id").alias("_aid"), F.col("_p").alias("_qa"),
        F.col("_w0").alias("_a0"), F.col("_x1").alias("_a1"),
        F.col("_x2").alias("_a2"),
    )
    tb = tok3.select(
        F.col("_id").alias("_bid"), F.col("_p").alias("_qb"),
        F.col("_w0").alias("_b0"), F.col("_x1").alias("_b1"),
        F.col("_x2").alias("_b2"),
    )
    m2 = (
        F.col("_a0").isNotNull()
        & F.col("_b0").isNotNull()
        & (F.col("_a0") == F.col("_b0"))
        & (F.col("_a1") == F.col("_b1"))
    )
    m1 = F.when(m2, F.col("_a2") == F.col("_b2")).otherwise(
        F.col("_a0").isNotNull()
        & F.col("_b0").isNotNull()
        & (F.col("_a0") == F.col("_b0"))
    )
    pairs = (
        pairs.withColumn("_qa", F.col("_ap") + F.col("_lcp"))
        .withColumn("_qb", F.col("_bp") + F.col("_lcp"))
        .join(ta, ["_aid", "_qa"], "left")
        .join(tb, ["_bid", "_qb"], "left")
        .withColumn(
            "_lcp",
            F.col("_lcp")
            + F.when(m2, 2).otherwise(0)
            + F.when(m1, 1).otherwise(0),
        )
        .drop("_qa", "_qb", "_a0", "_a1", "_a2", "_b0", "_b1", "_b2")
    )
    lens = toked.select("_id", F.size("_t").alias("_len"))
    la = lens.select(F.col("_id").alias("_aid"), F.col("_len").alias("_la"))
    lb = lens.select(F.col("_id").alias("_bid"), F.col("_len").alias("_lb"))
    lcps = (
        pairs.join(la, "_aid")
        .join(lb, "_bid")
        .select(
            "_aid", "_ap", "_bid", "_bp",
            F.least(
                "_lcp", F.col("_la") - F.col("_ap"), F.col("_lb") - F.col("_bp")
            ).alias("_lcp"),
        )
    )
    d_per_suffix = (
        lcps.select(F.col("_aid").alias("_id"), F.col("_ap").alias("_p"), "_lcp")
        .unionByName(
            lcps.select(
                F.col("_bid").alias("_id"), F.col("_bp").alias("_p"), "_lcp"
            )
        )
        .groupBy("_id", "_p")
        .agg(F.max("_lcp").alias("_d"))
    )
    return toked, d_per_suffix


# --- d13p: persisted suffix array (round 10, VERDICT r09 #5) -----------
# The build above is the expensive artifact (O(n log L) shuffles, ~9
# ranking rounds) and its selling point is answer-EVERY-threshold — but
# each invocation rebuilt it. The ann_store pattern fits exactly: commit
# the depths table to a snapshot-versioned store keyed by a CONTENT
# fingerprint of the corpus plus the build parameters; any later
# min_len is then a filter + the reassembly tail, with ZERO doubling
# rounds executed (plan-pinned in tests — no rangepartitioning node).


def corpus_text_fingerprint(
    documents: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> str:
    """Order-independent content identity of an (id, text) corpus in ONE
    aggregate scan: count + wrapped sum + xor of per-row xxhash64. Used
    as the store key — a changed/added/removed document changes the
    fingerprint and forces a rebuild. (ann_store fingerprints FILES;
    here the corpus is an arbitrary DataFrame, so identity must come
    from content.) Two INDEPENDENT xor folds, not a sum: xor never
    overflows (a long sum raises under ANSI mode — Spark 4's default),
    and the second fold runs over a re-hashed value so the pair of
    64-bit digests doesn't share xor's cancellation structure."""
    r = (
        documents.select(
            F.xxhash64(
                F.col(id_col).cast("string"), F.col(text_col)
            ).alias("_h")
        )
        .withColumn("_h2", F.xxhash64(F.lit(1), F.col("_h")))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(_h)").alias("x1"),
            F.expr("bit_xor(_h2)").alias("x2"),
        )
        .first()
    )
    mask = (1 << 64) - 1
    return f"{r['n']:x}-{(r['x1'] or 0) & mask:016x}-{(r['x2'] or 0) & mask:016x}"


def suffix_array_build_or_load(
    spark,
    documents: DataFrame,
    store_dir: str | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_levels: int = 32,
    fingerprint: str | None = None,
) -> DataFrame:
    """Return this corpus's depths table — loaded from the store when
    the (fingerprint, params) key matches, built and committed
    otherwise. A meta twin table cross-checks the stored key against
    the requested one (defense against a hand-mangled store; the
    ann_store convention). Save races are benign: versioned commits are
    atomic and the build is deterministic, so the loser just reads the
    winner's identical table."""
    import hashlib
    import json
    import os

    from fhir_etl_spark.sinks.versioned import (
        ConcurrentWriteError,
        read_snapshot,
        warehouse_dir,
        write_snapshot,
    )

    root = store_dir or warehouse_dir("sa_store")
    fp = fingerprint or corpus_text_fingerprint(documents, id_col, text_col)
    params = {"max_levels": max_levels, "tokenizer": "ws-v1"}
    key_src = json.dumps({"fp": fp, "params": params}, sort_keys=True)
    key = hashlib.sha256(key_src.encode()).hexdigest()[:16]
    table = os.path.join(root, f"sa-{key}")
    meta_table = os.path.join(root, f"sa-{key}-meta")
    try:
        meta_rows = read_snapshot(spark, meta_table).collect()
        if len(meta_rows) == 1 and meta_rows[0]["key_src"] == key_src:
            return read_snapshot(spark, table)
        # key collision or mangled store: fall through to rebuild
    except FileNotFoundError:
        pass
    _, depths = suffix_duplication_depths(
        documents, id_col=id_col, text_col=text_col, max_levels=max_levels
    )
    try:
        write_snapshot(depths, table, mode="overwrite", max_retries=2)
        meta = spark.createDataFrame([(key_src,)], "key_src string").coalesce(1)
        write_snapshot(meta, meta_table, mode="overwrite", max_retries=2)
    except ConcurrentWriteError:
        pass  # a racer committed the same deterministic build
    return read_snapshot(spark, table)


def suffix_array_dedup_from_store(
    spark,
    documents: DataFrame,
    depths: DataFrame,
    min_len: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_span_tokens: int | None = None,
) -> DataFrame:
    """ExactSubstr at ``min_len`` from a PERSISTED depths table — the
    query-only path: one filter over the store + the interval-merge /
    reassembly tail. No token ranking, no prefix doubling, no LCP walk
    (plan-pinned: zero rangepartitioning exchanges). Same output
    contract as :func:`suffix_array_dedup`, provably identical rows
    (the depths ARE that build's intermediate)."""
    if min_span_tokens is None:
        min_span_tokens = min_len
    if min_span_tokens < min_len:
        raise ValueError(
            f"min_span_tokens ({min_span_tokens}) below min_len ({min_len})"
        )
    toked = documents.select(
        F.col(id_col).alias("_id"), tokens(F.col(text_col)).alias("_t")
    ).localCheckpoint(eager=False)
    intervals = depths.filter(F.col("_d") >= min_len).select(
        "_id",
        F.col("_p").alias("_s"),
        (F.col("_p") + F.col("_d") - 1).alias("_e"),
    )
    return _remove_spans_rebuild(toked, intervals, min_span_tokens, id_col)


def doc_lines(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """One row per newline-split line of ``text_col`` →
    ``(id_col, pos, line)``, position-preserving (0-based).

    ``split`` with limit -1 keeps trailing empty strings (Java semantics),
    matching DuckDB's ``string_split`` — so a text ending in a newline
    yields the same trailing-empty line on both engines.
    """
    return df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n", -1)).alias("pos", "line"),
    )


def duplicated_line_digests(
    lines: DataFrame, id_col: str = "doc_id", min_doc_freq: int = 2
) -> DataFrame:
    """Digests of lines appearing in ≥ ``min_doc_freq`` DISTINCT documents
    → one-column ``(_line_d)``. Two-phase count-distinct on the digest —
    the shuffle carries (digest, doc_id) pairs, never line text; the
    result is the (small) boilerplate set, not the corpus."""
    return (
        lines.groupBy("_line_d")
        .agg(F.countDistinct(id_col).alias("_doc_freq"))
        .filter(F.col("_doc_freq") >= min_doc_freq)
        .select("_line_d")
    )


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_doc_freq: int = 2,
) -> DataFrame:
    """Cross-document line-level deduplication (the RefinedWeb/MassiveText
    line-dedup stage, Penedo 2023 §3.2; CCNet's paragraph-hash dedup,
    Wenzek 2020 §2): drop EVERY occurrence of any line whose normalized
    content (lowercase, whitespace-collapsed — :func:`content_digest`)
    appears in ≥ ``min_doc_freq`` distinct documents, then reassemble each
    document from its surviving lines in original order.

    Returns ``(id_col, clean_text, n_lines, n_kept)`` — one row per input
    document (a document whose every line was boilerplate survives with
    ``clean_text = ''``, ``n_kept = 0``), so the operator composes with
    downstream gates that count removals.

    Scale shape (100 TB): three exchanges, none carrying raw text twice —
    (1) the line stream aggregates (digest → distinct-doc count) with
    map-side partial aggregation; (2) the filtered boilerplate-digest set
    anti-joins back onto the line stream keyed on the digest (the dup set
    is ≪ corpus — it is exactly the boilerplate; AQE broadcasts it when it
    fits); (3) surviving lines group back to documents on ``id_col``.
    Within-document repeats (doc_freq = 1) are KEPT — the stage removes
    cross-document boilerplate, not intra-document repetition (that is
    t17/t7's job). Replaces nothing in the reference (no line ops there);
    closest kin is exact_dedup (document-level, same digest policy).
    """
    if min_doc_freq < 2:
        raise ValueError(f"min_doc_freq must be ≥ 2, got {min_doc_freq}")
    lines = doc_lines(df, id_col=id_col, text_col=text_col).withColumn(
        "_line_d", content_digest(F.col("line"))
    )
    dup = duplicated_line_digests(lines, id_col=id_col, min_doc_freq=min_doc_freq)
    return line_dedup_against(df, dup, text_col=text_col, id_col=id_col)


def line_dedup_against(
    df: DataFrame,
    dup_digests: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The reassembly half of :func:`line_dedup` against a GIVEN
    boilerplate-digest set (one column ``_line_d``): drop every line
    whose digest is in the set, rebuild documents in original order →
    ``(id_col, clean_text, n_lines, n_kept)``. Split out (round 11) so
    an increment can be cleaned against a WHOLE-HISTORY dup set with the
    identical plan the batch operator uses — the dup set is data, not a
    different code path.

    r12 optimization (guide §8 — decide with small rows, move big rows
    once): only the DROPPED line POSITIONS travel. The line stream
    semi-joins the dup-digest set on the digest (AQE broadcasts the dup
    set — it is exactly the boilerplate, ≪ corpus), the surviving
    metadata is ``(id, pos)`` integers folded to one position-array row
    per affected doc, and each document is rebuilt MAP-SIDE by
    filtering its own split-line array against that (broadcast) drop
    list. The previous tail shuffled the surviving line TEXT twice —
    once to regroup documents, once through the totals left join — and
    is exactly the heavy-payload-shuffled-twice shape §8 warns about.
    Outputs are byte-identical (reassembly was already
    ``concat_ws('\\n', lines)``, and split/join with limit −1 are
    inverses)."""
    lines_meta = doc_lines(df, id_col=id_col, text_col=text_col).select(
        F.col(id_col),
        "pos",
        content_digest(F.col("line")).alias("_line_d"),
    )
    drops = (
        lines_meta.join(dup_digests.select("_line_d"), "_line_d", "semi")
        .groupBy(id_col)
        .agg(F.collect_list("pos").alias("_dps"))
    )
    # materialize the line array and drop list as columns BEFORE the
    # lambda reads them (no CSE inside higher-order lambdas — the
    # shingles_from_tokens rule)
    base = df.join(drops, id_col, "left").select(
        F.col(id_col),
        F.split(F.col(text_col), "\n", -1).alias("_la"),
        F.coalesce(F.col("_dps"), F.array().cast("array<int>")).alias("_dl"),
    )
    return base.select(
        F.col(id_col),
        F.concat_ws(
            "\n",
            F.filter("_la", lambda line, i: ~F.array_contains(F.col("_dl"), i)),
        ).alias("clean_text"),
        F.size("_la").cast("long").alias("n_lines"),
        (F.size("_la") - F.size("_dl")).cast("long").alias("n_kept"),
    )
