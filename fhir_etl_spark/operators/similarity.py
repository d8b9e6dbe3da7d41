"""Similarity search over embedding columns (north-star per BASELINE.json).

Two tiers, as a real 100 TB pipeline needs both:

- :func:`cosine_topk` — exact brute-force top-k for a (small, broadcast)
  query set. Cost O(|corpus| × |queries|), embarrassingly parallel: the
  corpus never shuffles, each partition scores its rows against the
  broadcast queries and TakeOrderedAndProject keeps k per query.
- :func:`lsh_topk` — the scale path: random-hyperplane LSH buckets the
  corpus by sign-pattern; queries probe only their own bucket (plus
  optional multi-probe neighbors). Recall < 1 by design; the bucket join is
  an equi-join on the signature, so cost tracks bucket occupancy, not n².

The dot product is `F.aggregate(F.zip_with(...))` — built-in higher-order
functions, JVM-side, no UDF. Hyperplanes are seeded deterministically so
results are reproducible run to run.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity between two array<numeric> columns."""
    return _dot(a, b) / (_norm(a) * _norm(b))


def unrolled_pair_dot(a: Column | str, b: Column | str, dim: int) -> Column:
    """Dot product as a compile-once UNROLLED codegen chain for a known
    vector width — bit-identical to :func:`_dot`'s fold (same
    left-to-right association, :func:`_sum_chain`), but without the
    interpreted per-element lambda dispatch that costs ~µs/element in
    ``F.aggregate``/``zip_with`` hot loops (int8_topk's dim note: the
    1M-row smoke dropped 3× from this swap). cosine_topk uses this
    double form; int8_topk keeps its own integer-pure chain.

    Pass column NAMES (strings) to build the chain as ONE parsed SQL
    expression — the pq_train_encode lesson: Column-by-Column
    construction costs ~3 py4j round-trips per dimension (~0.5 s of
    driver latency per plan at dim=64 under host load), while the SQL
    string is a single call parsing to the IDENTICAL tree (``0.0D +
    t1 + t2…`` is the same left-assoc chain as the lit-0.0-seeded
    fold, so not a double moves). The Column form stays for computed
    operands."""
    if isinstance(a, str) and isinstance(b, str):
        terms = " + ".join(
            f"CAST(element_at(`{a}`, {i}) AS DOUBLE) * "
            f"CAST(element_at(`{b}`, {i}) AS DOUBLE)"
            for i in range(1, dim + 1)
        )
        return F.expr(f"0.0D + {terms}")
    return _sum_chain(
        [
            F.element_at(a, i).cast("double") * F.element_at(b, i).cast("double")
            for i in range(1, dim + 1)
        ]
    )


def _sum_chain(terms: list[Column]) -> Column:
    """Left-to-right sum of term columns — the same association order as
    ``F.aggregate``'s fold, so swapping a fold for an unrolled chain can
    never move a double by even 1 ulp.

    ``F.lit(0.0) + t0 + t1 + …`` mirrors the fold's zero-initialised
    accumulator exactly (x + 0.0 == x for every finite/NaN double, but
    keeping the literal zero keeps the expression shape reviewably
    identical to the fold it replaces)."""
    acc: Column = F.lit(0.0)
    for t in terms:
        acc = acc + t
    return acc


def int8_quantize(
    df: DataFrame,
    vec_col: str = "embedding",
    out_col: str = "q8",
    scale: Column | float | None = None,
    dim: int | None = None,
) -> DataFrame:
    """Scalar int8 quantization of an embedding column (the FAISS-SQ8 /
    bitsandbytes absmax scheme): a single GLOBAL scale ``127 / max|x|``
    maps every component to ``[-127, 127]`` via explicit half-up
    rounding ``floor(x·scale + 0.5)``.

    Why global (not per-vector) scale: integer dot products under ONE
    shared scale rank identically to ``int_dot / scale²`` — so top-k
    search needs no float arithmetic at all, stays exactly
    cross-engine-replayable, and at 100 TB the quantized corpus moves
    4× fewer bytes through scan and shuffle than float32 (the actual
    bottleneck of brute-force ANN is memory bandwidth, not FLOPs).
    Per-vector scales buy a little accuracy but force a float rescale
    into every comparison; FAISS's SQ8 defaults to trained global
    bounds for the same reason.

    ``floor(x + 0.5)`` (not round()): both engines define floor
    identically, while round() is half-even in DuckDB and half-up in
    Spark — a 1-ulp landmine on exact .5 products.

    Plan shape: the max|x| reduction is one tiny aggregate broadcast
    back (same pattern as zorder's min/max stats); quantization itself
    is a map-only codegen ``transform``. Pass ``scale`` to reuse a
    scale computed elsewhere (queries MUST be quantized with the
    corpus's scale, not their own)."""
    if scale is None:
        stats = df.agg(
            F.max(
                F.array_max(F.transform(F.col(vec_col), lambda x: F.abs(x.cast("double"))))
            ).alias("_gmax")
        )
        df = df.crossJoin(F.broadcast(stats))
        # Same loud-error guard as int8_topk: an all-zero / all-NULL
        # corpus must fail, not silently emit Infinity/NULL arrays.
        guarded_gmax = F.when(
            F.col("_gmax").isNotNull() & (F.col("_gmax") > 0), F.col("_gmax")
        ).otherwise(
            F.raise_error(
                F.lit(
                    "int8_quantize: corpus has no nonzero vector component"
                    " to scale by"
                )
            )
        )
        scale_expr: Column | None = F.lit(127.0) / guarded_gmax
    elif isinstance(scale, float):
        scale_expr = None  # literal-scale fast path below
    else:
        scale_expr = scale

    if dim is not None and scale_expr is None:
        # LITERAL scale + known width → ONE parsed SQL expression (the
        # pq_train_encode py4j lesson: Column-by-Column construction of
        # the 64-element quantize array costs ~400 JVM round-trips per
        # side; the string parses to the identical tree — same FLOOR/
        # cast ops, scale via shortest-round-trip repr)
        s = _dlit(scale)
        terms = ", ".join(
            f"CAST(FLOOR(CAST(element_at(`{vec_col}`, {i}) AS DOUBLE) * {s} "
            "+ 0.5D) AS BIGINT)"
            for i in range(1, dim + 1)
        )
        return df.selectExpr("*", f"array({terms}) AS {out_col}")

    if scale_expr is None:
        scale_expr = F.lit(float(scale))

    def q(x: Column) -> Column:
        return F.floor(x.cast("double") * scale_expr + F.lit(0.5)).cast("long")

    if dim is not None:
        # unrolled codegen form — see int8_topk's dim note (interpreted
        # HOF lambdas cost ~µs/element; the unrolled chain compiles once)
        quantized = F.array(
            *[q(F.element_at(F.col(vec_col), i)) for i in range(1, dim + 1)]
        )
    else:
        quantized = F.transform(F.col(vec_col), q)
    out = df.withColumn(out_col, quantized)
    return out.drop("_gmax") if scale is None else out


def int8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    dim: int | None = None,
) -> DataFrame:
    """Top-k by INTEGER dot product over int8-quantized vectors →
    (query_id, vec_id, int_dot, rank). Both sides are quantized with the
    CORPUS's global scale (one shared absmax — see
    :func:`int8_quantize`), so the int64 dot (≤ dim·127², exact far
    below 2⁵³) ranks exactly like the dequantized float dot and the
    whole search value-oracles with no rounding step at all.

    Same brute-force shape as :func:`cosine_topk` — corpus never
    shuffles, queries broadcast, rank-k trims map-side
    (WindowGroupLimit) — but every scored byte is int8 instead of
    float32: the 4× scan/shuffle saving IS the operator's reason to
    exist at 100 TB.

    The absmax is collected driver-side as ONE bounded 1-row action and
    inlined as a literal (the centroid-collect pattern,
    :func:`kmeans_assign`): leaving it as a broadcast subtree would
    re-execute the full-corpus aggregate once per quantized side — two
    extra 100 TB scans for one scalar.

    Pass ``dim`` to UNROLL the dot product into a compile-once codegen
    expression (the layout.py hilbert lesson): Spark's higher-order
    ``zip_with``/``aggregate`` evaluate their lambda INTERPRETED per
    element (~µs each), which turned the 1M×64 smoke into 60 s of
    lambda dispatch; the unrolled element_at chain runs from the
    whole-stage-codegen cache instead (same smoke: 20.8 s, 2.9×). The
    HOF fallback stays for unknown-width columns; identical integers
    either way."""
    gmax = corpus.agg(
        F.max(
            F.array_max(F.transform(F.col(vec_col), lambda x: F.abs(x.cast("double"))))
        )
    ).first()[0]
    if gmax is None or gmax <= 0:
        raise ValueError(
            "int8_topk: corpus has no nonzero vector component to scale by"
        )
    # Python-computed literal scale: 127.0/gmax is one correctly-rounded
    # IEEE division — bit-identical to the previous JVM-side constant fold
    scale = 127.0 / float(gmax)
    qc = int8_quantize(corpus, vec_col, out_col="_q8", scale=scale, dim=dim).select(
        id_col, "_q8"
    )
    qq = int8_quantize(queries, vec_col, out_col="_qq8", scale=scale, dim=dim).select(
        query_id_col, "_qq8"
    )
    if dim is not None:
        chain = " + ".join(
            f"element_at(_q8, {i}) * element_at(_qq8, {i})"
            for i in range(1, dim + 1)
        )
        int_dot = F.expr(chain)
    else:
        int_dot = F.aggregate(
            F.zip_with(F.col("_q8"), F.col("_qq8"), lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
    scored = qc.join(F.broadcast(qq)).select(
        query_id_col, id_col, int_dot.alias("int_dot")
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("int_dot"), F.col(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k neighbors per query vector (brute force, broadcast).

    Returns (query_id, vec_id, sim, rank). Similarity is rounded to 6
    decimals BEFORE ranking, with id as tie-break, so the ranking is
    deterministic across engines and runs.

    Pass ``dim`` to unroll the per-pair dot product into a compile-once
    codegen chain (int8_topk's lesson; ~3× on the 1M-row smoke) —
    bit-identical doubles, since the chain sums in the fold's exact
    left-to-right order (:func:`_sum_chain`).
    """
    # Materialize norms as columns BEFORE the cross join: the corpus norm
    # is per-row (computed once, not once per query) and the query norm is
    # per-query (computed |queries| times, not |corpus|×|queries|).
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("_qvec"),
        _norm(F.col(vec_col)).alias("_qnorm"),
    )
    if dim is None:
        pair_dot = _dot(F.col(vec_col), F.col("_qvec"))
    else:
        pair_dot = unrolled_pair_dot(vec_col, "_qvec", dim)
    scored = (
        corpus.withColumn("_cnorm", _norm(F.col(vec_col)))
        .crossJoin(F.broadcast(q))
        .select(
            F.col(query_id_col),
            F.col(id_col),
            F.round(
                pair_dot / (F.col("_cnorm") * F.col("_qnorm")),
                6,
            ).alias("sim"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("sim"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic unit-Gaussian hyperplanes (driver-side constants —
    they are O(dim × n_planes) floats, broadcast into the plan as literals)."""
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def lsh_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-pattern signature: bit i = (vec · plane_i) >= 0, packed into a
    BIGINT. Pure expressions — the planes are literal arrays."""
    sig = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        lit_plane = F.array(*[F.lit(float(x)) for x in plane])
        bit = F.when(_dot(vec, lit_plane) >= 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sig = sig.bitwiseOR(F.shiftleft(bit, i))
    return sig


def embedding_neardup_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a < b, sim ≥ threshold).

    Brute-force O(n²) — correct and fine for a bucket; at corpus scale run
    it INSIDE LSH buckets (lsh_signature equi-join prunes candidates first,
    exactly like MinHash bands prune text pairs)."""
    a = corpus.select(
        F.col(id_col).alias("a"),
        F.col(vec_col).alias("_va"),
        _norm(F.col(vec_col)).alias("_na"),
    )
    b = corpus.select(
        F.col(id_col).alias("b"),
        F.col(vec_col).alias("_vb"),
        _norm(F.col(vec_col)).alias("_nb"),
    )
    return (
        a.join(b, F.col("a") < F.col("b"))
        .select(
            "a",
            "b",
            F.round(_dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")), 6).alias(
                "sim"
            ),
        )
        .filter(F.col("sim") >= threshold)
    )


def lsh_bucketed_neardup(
    corpus: DataFrame,
    threshold: float = 0.9,
    n_planes: int = 8,
    n_bands: int = 4,
    seed: int = 42,
    max_bucket_size: int | None = 1000,
    *,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-dup pairs at corpus scale: the composed
    LSH-bucketed form of :func:`embedding_neardup_pairs`.

    Per band b, the corpus is signed with an independent hyperplane set
    (seed + b); candidate pairs only ever form INSIDE a (band, signature)-
    equal bucket — the join is an equi-join on (band, sig), so the O(n²)
    comparison never materializes. Multi-band boosts recall exactly like
    MinHash banding: a pair at cosine s collides per band with
    p = (1 − θ(s)/π)^n_planes and overall with 1 − (1 − p)^n_bands.
    Recall < 1 by design; the result is deterministic (seeded planes).

    Scale shape: one narrow projection computes all band signatures, one
    explode to (id, band, sig) — |corpus| × n_bands rows of (long, int,
    long) plus the vector — then ONE shuffle on (band, sig) for the
    self-join. Same-pair collisions across bands collapse via the final
    distinct on (a, b, sim) — sim is rounded before the distinct, so the
    rows are bit-identical. Compare `embedding_neardup_pairs`, whose
    nested-loop theta join is the in-bucket verifier this operator calls
    implicitly through the sim filter.

    Scale guard: a (band, sig) bucket of d vectors yields d·(d−1)/2
    comparisons inside the equi-join — a degenerate bucket (a huge cluster
    of near-identical embeddings, or many all-negative-signature vectors)
    re-materializes exactly the quadratic blowup this operator exists to
    avoid. ``max_bucket_size`` drops buckets whose occupancy exceeds the
    cap BEFORE the self-join, mirroring ``dedup.lsh_candidate_pairs``: one
    extra aggregation pass (map-side partial combine; shuffle output is one
    row per distinct bucket) finds the oversized buckets, and a broadcast
    anti-join prunes them map-side — the over-cap bucket list is bounded by
    |corpus| / max_bucket_size rows, always broadcastable. Any cap above
    the corpus's true max bucket occupancy is answer-identical; run exact
    dedup first if identical vectors are expected. ``None`` disables the
    guard (NOT recommended at scale).
    """
    band_sigs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                lsh_signature(
                    F.col(vec_col), random_hyperplanes(dim, n_planes, seed + b)
                ).alias("sig"),
            )
            for b in range(n_bands)
        ]
    )
    # explode_outer: an inner explode's inferred size()>0 filter would
    # re-evaluate every band signature a second time (see
    # operators/dedup.doc_shingles for the Catalyst mechanics).
    signed = (
        corpus.select(
            F.col(id_col),
            F.col(vec_col),
            _norm(F.col(vec_col)).alias("_nrm"),
            F.explode_outer(band_sigs).alias("_bs"),
        )
        .select(id_col, vec_col, "_nrm", "_bs.band", "_bs.sig")
        .where(F.col("sig").isNotNull())
    )
    if max_bucket_size is not None:
        oversized = (
            signed.groupBy("band", "sig")
            .agg(F.count(F.lit(1)).alias("_occ"))
            .where(F.col("_occ") > max_bucket_size)
            .select("band", "sig")
        )
        signed = signed.join(F.broadcast(oversized), ["band", "sig"], "left_anti")
    a = signed.select(
        F.col("band"),
        F.col("sig"),
        F.col(id_col).alias("a"),
        F.col(vec_col).alias("_va"),
        F.col("_nrm").alias("_na"),
    )
    b = signed.select(
        F.col("band"),
        F.col("sig"),
        F.col(id_col).alias("b"),
        F.col(vec_col).alias("_vb"),
        F.col("_nrm").alias("_nb"),
    )
    return (
        a.join(b, ["band", "sig"])
        .where(F.col("a") < F.col("b"))
        .select(
            "a",
            "b",
            F.round(
                _dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")), 6
            ).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
        .distinct()
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF-style approximate top-k: coarse-quantize the corpus to its
    nearest centroid (inverted lists), probe only the query's `n_probe`
    closest lists.

    Centroids are picked deterministically (the first `n_centroids` corpus
    rows by id) — a real deployment plugs a k-means fit here; the OPERATOR
    (assign → invert → probe → rank) is identical either way. Corpus cost:
    one centroid-assignment projection + an equi-join on the list id; each
    query touches |corpus| × n_probe / n_centroids rows in expectation.

    The pick plans as TakeOrderedAndProject (each partition keeps its local
    top-n_centroids, merged on the driver) — never a global single-partition
    sort. Collecting n_centroids rows to the driver is O(n_centroids × dim).
    """
    centroid_rows = (
        corpus.select(id_col, vec_col).orderBy(id_col).limit(n_centroids).collect()
    )
    # pre-normalize centroids driver-side: ranking by dot(vec, ĉ) equals
    # ranking by cosine (the query-vector norm is constant across centroids),
    # so no per-row norm recompute inside the scoring lambda
    normalized_centroids = []
    for row in centroid_rows:
        vec = [float(x) for x in row[1]]
        norm = sum(x * x for x in vec) ** 0.5 or 1.0
        normalized_centroids.append([x / norm for x in vec])

    def nearest_lists(vec: Column, n: int) -> Column:
        """Array of the n closest centroid indices (by normalized dot)."""
        scored = F.array(
            *[
                F.struct(
                    F.round(
                        _dot(vec, F.array(*[F.lit(x) for x in cvec])), 6
                    ).alias("sim"),
                    F.lit(i).alias("list_id"),
                )
                for i, cvec in enumerate(normalized_centroids)
            ]
        )
        top = F.slice(F.reverse(F.array_sort(scored)), 1, n)
        return F.transform(top, lambda s: s.getField("list_id"))

    inverted = corpus.withColumn(
        "_list", F.element_at(nearest_lists(F.col(vec_col), 1), 1)
    )
    # materialize + explode_outer: an inner explode's inferred size()>0
    # filter would re-run the centroid-distance transform a second time
    # (see operators/dedup.doc_shingles).
    probed = (
        queries.select(
            F.col(query_id_col),
            F.col(vec_col).alias("_qvec"),
            nearest_lists(F.col(vec_col), n_probe).alias("_lists"),
        )
        .select(
            F.col(query_id_col),
            "_qvec",
            F.explode_outer("_lists").alias("_list"),
        )
        .where(F.col("_list").isNotNull())
    )
    scored = inverted.join(F.broadcast(probed), "_list").select(
        F.col(query_id_col),
        F.col(id_col),
        F.round(cosine(F.col(vec_col), F.col("_qvec")), 6).alias("sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("sim"), F.col(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    seed: int = 42,
    *,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k: bucket by hyperplane signature, rank in-bucket.

    The corpus is signed once (a narrow projection), then the search is an
    equi-join on the signature — at 100 TB this is the difference between a
    full-corpus scan per query and touching ~1/2^n_planes of it.

    `dim` is required: ArrayType carries no length, and sniffing it with a
    `.first()` action would launch a job just to plan the query.
    """
    planes = random_hyperplanes(dim, n_planes, seed)
    sig_corpus = corpus.withColumn("_sig", lsh_signature(F.col(vec_col), planes))
    sig_queries = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("_qvec"),
        lsh_signature(F.col(vec_col), planes).alias("_sig"),
    )
    scored = sig_corpus.join(F.broadcast(sig_queries), "_sig").select(
        F.col(query_id_col),
        F.col(id_col),
        F.round(cosine(F.col(vec_col), F.col("_qvec")), 6).alias("sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("sim"), F.col(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _ensure_scoring_width(df: DataFrame) -> DataFrame:
    """Round-robin the frame up to the session's default parallelism if
    it arrives narrower. Row-wise independent consumers only (scoring,
    per-row argmin): repartition changes row placement, never values.
    The partition probe is plan-time (no job)."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def kmeans_assign(
    embeddings: DataFrame,
    k: int = 8,
    n_iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_centroid: int = 4,
    round_dist: int = 6,
    init: str = "first_k",
    init_seed: int = 42,
    train_rows: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """Lloyd's k-means over an embedding column → (id, cluster_id, dist_r).

    The clustering pass behind SemDeDup-style curation (cluster, then
    dedup/diversify within clusters). Fully deterministic and therefore
    cross-engine replayable:

    - init: ``'first_k'`` (default, the oracle-replayable path) takes the
      first ``k`` corpus rows by id (TakeOrderedAndProject — no global
      sort). ``'hash_sample'`` takes the ``k`` rows minimizing
      ``xxhash64(init_seed, id)`` — a deterministic uniform pseudo-random
      sample, so init quality no longer depends on how ids were assigned
      (consecutive ids from one source would otherwise seed all centroids
      inside one region). Same TakeOrderedAndProject shape, still exactly
      replayable given the seed, but the DuckDB twin would need the
      xxhash64 function, so the registered oracle query keeps 'first_k';
    - assign: squared euclidean distance ROUNDED to ``round_dist``
      decimals before the argmin (ties → lower cluster id), so float
      summation order can never flip an assignment between engines;
    - update: per-dimension mean ROUNDED to ``round_centroid`` decimals
      (avg-order noise ~1e-15 is far below the rounding quantum).

    Scale shape per iteration: corpus ⋈ broadcast(k centroids) — map-only
    scoring, the corpus never shuffles for it — then one groupBy(id)
    argmin and one groupBy(cluster, dim) mean over a posexplode (rows =
    corpus × dim, but only (cluster, dim, value) triples — the vectors
    themselves stay put). Centroids are k×dim rows: always broadcastable.
    Fixed iteration count; convergence-based stopping would add one
    driver probe per round (see graph.pagerank for the bounded pattern).
    """
    if init not in ("first_k", "hash_sample"):
        raise ValueError(f"init must be first_k|hash_sample, got {init!r}")
    corpus = embeddings.select(
        F.col(id_col).alias("_id"), F.col(vec_col).cast("array<double>").alias("_v")
    )
    # The scoring join below is MAP-SIDE (broadcast k centroids, no
    # exchange), so its parallelism equals the input's partition count —
    # and a compact corpus file arrives as 1–2 partitions
    # (maxPartitionBytes), serializing the n·k hot loop on one core.
    # Measured at sf10-shape (round 10): 200k×k=1000 scoring on one task
    # was the entire 298 s wall; one LINEAR shuffle of the corpus (n
    # rows of (id, vec) — trivial next to the n·k scoring work) buys
    # full cluster width. Wide deployments are unaffected (no-op when
    # already at parallelism).
    corpus = _ensure_scoring_width(corpus)
    # k seed rows, numbered 0..k-1 — TakeOrdered then a tiny sort; the
    # hash_sample order key makes the pick a seeded uniform sample while
    # keeping the exact same plan shape (no global sort either way)
    seed_key = (
        F.col("_id") if init == "first_k" else F.xxhash64(F.lit(init_seed), F.col("_id"))
    )
    cent = (
        corpus.withColumn("_ord", seed_key)
        .orderBy("_ord", "_id")
        .limit(k)
        .select(
            (F.row_number().over(Window.orderBy("_ord", "_id")) - 1).alias("_c"),
            F.col("_v").alias("_cv"),
        )
    )

    def _dist2(v: Column, cv: Column) -> Column:
        # dim given → unroll the squared-distance sum into a plain
        # arithmetic chain: higher-order lambdas evaluate OUTSIDE
        # whole-stage codegen, and the assignment join scores n·k rows —
        # at 200k vectors × k=1000 the interpreted fold was the
        # difference between ~10 min and seconds (the v9/PQ lesson).
        # _sum_chain keeps the fold's exact association order, so the
        # rounded distance — and therefore every oracle — is
        # bit-identical on both paths.
        if dim is not None:
            terms = [
                (F.element_at(v, i) - F.element_at(cv, i))
                * (F.element_at(v, i) - F.element_at(cv, i))
                for i in range(1, dim + 1)
            ]
            return F.round(_sum_chain(terms), round_dist)
        return F.round(
            F.aggregate(
                F.zip_with(v, cv, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, d: acc + d,
            ),
            round_dist,
        )

    # Argmin encoding (round-10 scale fix, measured at sf10-shape):
    # min(struct(_d, _c)) is NOT hash-aggregable (struct buffers are
    # immutable), so Spark planned a SortAggregate — a full sort of the
    # n·k scored stream (200k×k=1000 → 200M rows) that was 124 s/task
    # of the 216 s kmeans wall. Encoding the (distance, cluster) pair
    # into ONE BIGINT makes the argmin a primitive min → HashAggregate
    # with map-side partial combine, and the scoring join + partial agg
    # fuse into one codegen stage (measured: 216 s → ~12 s).
    #
    # Exactness: _d is already rounded to round_dist dp, so
    # m = round(_d · 10^round_dist) is EXACT (the scaled value sits
    # within ~1e-7 of the integer m — never at a .5 boundary), and the
    # decode m / 10^round_dist is the correctly-rounded double of
    # m·10^-round_dist — the SAME double round(x, round_dist) produced
    # (both are nearest-double of one rational), so outputs are
    # bit-identical to the struct formulation and every replaying
    # oracle stays green. Ties: equal m ⇒ min picks the smaller
    # encoded value ⇒ the lower cluster id — the contract unchanged.
    # Envelope: m·k + c needs m ≤ 2^63/k and exact decode needs
    # m < 2^53 — distances up to 10^(15−round_dist) (~1e9 at 6 dp),
    # far beyond any embedding norm.
    enc_scale = 10 ** round_dist

    def _assign(df: DataFrame) -> DataFrame:
        # score and argmin WITHOUT carrying the vector: the join emits
        # n·k rows, and projecting _v through them moves n·k·dim
        # doubles through the pipeline (~100 GB at 200k×k=1000×64 —
        # the round-9 sf10 profile's missing minutes). With only
        # (_id, _enc) projected, the join → partial-agg argmin fuses
        # into one codegen stage that streams pairs and emits one row
        # per id per partition.
        scored = df.join(F.broadcast(cent)).select(
            "_id",
            (
                F.round(_dist2(F.col("_v"), F.col("_cv")) * enc_scale).cast("long")
                * k
                + F.col("_c")
            ).alias("_enc"),
        )
        # decode: integral div FIRST (m·k can exceed 2^53 — a double
        # promotion before the division would corrupt low bits), then
        # one exact long→double conversion and one correctly-rounded
        # IEEE division
        return (
            scored.groupBy("_id")
            .agg(F.min("_enc").alias("_e"))
            .select(
                "_id",
                (F.col("_e") % k).cast("int").alias("_c"),
                F.expr(
                    f"CAST(_e div {k} AS DOUBLE) / {float(enc_scale)!r}"
                ).alias("_d"),
            )
        )

    def _update(assigned: DataFrame) -> DataFrame:
        return (
            assigned.select("_c", F.posexplode("_v").alias("_i", "_x"))
            .groupBy("_c", "_i")
            .agg(F.round(F.avg("_x"), round_centroid).alias("_m"))
            .groupBy("_c")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_i", "_m"))),
                    lambda s: s["_m"],
                ).alias("_cv")
            )
        )

    # Training input: the full corpus, or (train_rows set) its first
    # train_rows rows under the same seed ordering — the FAISS
    # convention for corpus-scale k-means: each training round's
    # assignment pass costs O(k·d) PER TRAINING ROW, so at 100 TB you
    # train on a bounded sample and pay the full-corpus cost exactly
    # once, in the final assignment below. Seeds are the sample's (and
    # therefore the corpus's) first k rows, so train_rows >= k keeps
    # the seed contract identical.
    if train_rows is None:
        train = corpus
    else:
        if train_rows < k:
            raise ValueError(
                f"kmeans_assign: train_rows ({train_rows}) below k ({k})"
            )
        # TakeOrderedAndProject lands on ONE partition — the train-round
        # scoring (train_rows·k) would serialize exactly like the corpus
        # case above; spread the bounded sample back out
        train = _ensure_scoring_width(
            corpus.withColumn("_ord", seed_key)
            .orderBy("_ord", "_id")
            .limit(train_rows)
            .select("_id", "_v")
        )
    # (n_iterations − 1) train rounds move the centroids; the final
    # full-corpus assignment scores against the LAST trained centroids
    # — for train_rows=None this is step-for-step the previous
    # iterate-then-return-last-assignment behavior (the registered v7/v8
    # oracles replay it unchanged); the sampled path differs only in
    # which rows the update rounds average over.
    for _ in range(n_iterations - 1):
        # vectors re-join by id for the mean update — the training set
        # is bounded (train_rows) or corpus-sized exactly as before;
        # numerics unchanged (same rows averaged)
        cent = _update(_assign(train).join(train, "_id"))
    return _assign(corpus).select(
        F.col("_id").alias(id_col),
        F.col("_c").alias("cluster_id"),
        F.col("_d").alias("dist_r"),
    )


def _grouped_kmeans_sub(
    members: DataFrame,
    sub_k: int,
    n_iterations: int,
    round_centroid: int = 4,
    round_dist: int = 6,
    init: str = "first_k",
    init_seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Lloyd's k-means run INDEPENDENTLY per group, in one plan: input
    ``(_gid, _id, _v)`` → output ``(_gid, _id, _sub)`` with ``_sub`` in
    ``0..sub_k-1`` per group. The per-group generalization of
    :func:`kmeans_assign` used by semdedup_keep's oversized-cluster
    re-split — every step is the global algorithm with ``_gid`` added to
    the key, so determinism (rounded distances, ties to the lower
    sub-id, first-k-by-id seeds) carries over unchanged.

    Scale shape: seeds come from a per-group row_number (rank-style
    trim, map-side partial); scoring joins members to the
    groups×sub_k centroid table on ``_gid`` (AQE broadcasts it when
    small — it usually is, since only DEGENERATE clusters reach this
    path); the argmin and centroid-update aggregates shuffle only the
    oversized mass, never the full corpus.

    ``init`` mirrors :func:`kmeans_assign` (round-8 review finding: the
    re-split must honor the CALLER's seeding mode — a first-level
    ``hash_sample`` clustering exists precisely because consecutive ids
    cluster by source, and an oversized cluster's lowest ids have the
    same pathology, which would seed every sub-centroid in one region
    and degenerate the re-split into the rank-chunk backstop)."""
    if n_iterations < 1:
        raise ValueError("_grouped_kmeans_sub: n_iterations must be >= 1")
    if init not in ("first_k", "hash_sample"):
        raise ValueError(f"init must be first_k|hash_sample, got {init!r}")
    seed_key = (
        F.col("_id")
        if init == "first_k"
        else F.xxhash64(F.lit(init_seed), F.col("_id"))
    )
    w = Window.partitionBy("_gid").orderBy(seed_key, "_id")
    cent = (
        members.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= sub_k)
        .select("_gid", (F.col("_rn") - 1).alias("_sub"), F.col("_v").alias("_cv"))
    )

    def _dist2(v: Column, cv: Column) -> Column:
        # dim given → unroll the squared-distance sum into a plain
        # arithmetic chain: higher-order lambdas evaluate OUTSIDE
        # whole-stage codegen, and the assignment join scores n·k rows —
        # at 200k vectors × k=1000 the interpreted fold was the
        # difference between ~10 min and seconds (the v9/PQ lesson).
        # _sum_chain keeps the fold's exact association order, so the
        # rounded distance — and therefore every oracle — is
        # bit-identical on both paths.
        if dim is not None:
            terms = [
                (F.element_at(v, i) - F.element_at(cv, i))
                * (F.element_at(v, i) - F.element_at(cv, i))
                for i in range(1, dim + 1)
            ]
            return F.round(_sum_chain(terms), round_dist)
        return F.round(
            F.aggregate(
                F.zip_with(v, cv, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, d: acc + d,
            ),
            round_dist,
        )

    # encoded argmin, same as kmeans_assign (round-10): min(struct) +
    # first(_v) planned a SortAggregate over the mass×sub_k scored
    # stream — exactly the degenerate-duplicate masses this path exists
    # for are the big ones. A primitive min(BIGINT) hash-aggregates;
    # _v rejoins by key afterwards (the mass is the bounded side).
    enc_scale = 10 ** round_dist
    vecs = members.select("_gid", "_id", "_v")
    assigned = None
    for _ in range(n_iterations):
        scored = members.join(cent, "_gid").select(
            "_gid",
            "_id",
            (
                F.round(_dist2(F.col("_v"), F.col("_cv")) * enc_scale).cast("long")
                * sub_k
                + F.col("_sub")
            ).alias("_enc"),
        )
        assigned = (
            scored.groupBy("_gid", "_id")
            .agg(F.min("_enc").alias("_e"))
            .select(
                "_gid", "_id", (F.col("_e") % sub_k).cast("int").alias("_sub")
            )
            .join(vecs, ["_gid", "_id"])
        )
        cent = (
            assigned.select("_gid", "_sub", F.posexplode("_v").alias("_i", "_x"))
            .groupBy("_gid", "_sub", "_i")
            .agg(F.round(F.avg("_x"), round_centroid).alias("_m"))
            .groupBy("_gid", "_sub")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_i", "_m"))),
                    lambda s: s["_m"],
                ).alias("_cv")
            )
        )
    return assigned.select("_gid", "_id", "_sub")


def semdedup_scaled_params(
    n: int, target_cluster_size: int = 200, train_factor: int = 40
) -> tuple[int, int]:
    """The DEPLOYMENT k-means sizing policy for SemDeDup → ``(k,
    train_rows)``. Round-9's sf10 measurement showed why a pinned k is
    a scale bug: k=8 at 100× pushed the entire corpus into the over-cap
    re-split recursion (546 s, BENCH_sf10_r09.json). The fix, as FAISS
    sizes IVF lists:

    - ``k = max(8, n // target_cluster_size)`` — cluster count grows
      with the corpus so expected cluster size stays ~target and the
      within-cluster pair scan stays Σc² ≈ target·n (LINEAR in n);
    - ``train_rows = min(n, train_factor · k)`` — Lloyd's update rounds
      average over a bounded first-by-id sample (FAISS trains on
      ~39–256 points per centroid), so training costs O(k·d) per
      SAMPLE row and the full corpus is scored exactly once, in the
      final assignment. ``train_rows ≥ k`` always holds (factor ≥ 1),
      keeping kmeans_assign's seed contract.

    Kept as a named, unit-tested function so the policy is one fact:
    the v8b query, the sf10 bench tier, and the oracle's LIMIT
    subqueries all encode these same two formulas."""
    if n < 0:
        raise ValueError(f"semdedup_scaled_params: negative n ({n})")
    if target_cluster_size < 1 or train_factor < 1:
        raise ValueError("semdedup_scaled_params: sizes must be >= 1")
    k = max(8, n // target_cluster_size)
    return k, min(n, train_factor * k)


def semdedup_keep(
    embeddings: DataFrame,
    k: int = 8,
    n_iterations: int = 2,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster_size: int | None = 10_000,
    init: str = "first_k",
    resplit_k: int = 8,
    train_rows: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by clustering embeddings, then pruning within-cluster
    near-duplicates → (id, cluster_id, dist_r, kept).

    The public method, re-expressed Spark-first on top of
    :func:`kmeans_assign` (the clustering stays deterministic, so the
    whole operator is cross-engine replayable):

    1. cluster every embedding (k-means, broadcast-centroid scoring —
       the corpus never shuffles for assignment);
    2. rank each cluster's members by keep priority: FARTHEST from the
       centroid first (``dist_r`` DESC, id ASC) — SemDeDup's
       diversity-maximizing order (the most typical member of a
       duplicate set is the most redundant one);
    3. a member is DROPPED iff some higher-priority member of its
       cluster has cosine similarity ≥ ``threshold`` with it (rounded to
       6 dp before the compare, so float summation order can never flip
       a verdict between engines). One pass, no iteration: this is the
       ordered-scan rule the reference SemDeDup implementation uses in
       place of true connected components.

    Scale shape: the pair search is an equi-join on the prune key with
    a rank inequality — cost is Σ c_i²/2 over cluster sizes, NOT n².
    In production k grows with the corpus (√n clusters keeps cluster
    sizes ~√n); ``max_cluster_size`` is the loud backstop for clusters
    that outgrow that. Round-8 change (VERDICT r07 #6): over-cap
    clusters are RE-SPLIT instead of truncated — the old policy kept
    rank>cap members un-deduped, silently losing recall exactly where
    dedup matters most (a degenerate duplicate mass IS an oversized
    cluster). The re-split is two-tier:

    1. a second k-means (``resplit_k`` sub-centroids, one grouped
       Lloyd's plan over only the oversized mass —
       :func:`_grouped_kmeans_sub`) splits semantically diverse
       oversized clusters so near-dups stay co-located;
    2. any (cluster, sub) group STILL over the cap — possible only for
       a degenerate mass of (near-)identical vectors, where k-means
       cannot separate anything — is chunked by keep-priority rank into
       cap-sized blocks. Every member then participates in the pair
       search (nobody is skipped); the bounded recall cost is ≤ one
       extra keeper per cap-block, only within such masses, and logged.

    The prune key is therefore (cluster, sub, block) for re-split
    members and the plain cluster for everyone else; the OUTPUT
    ``cluster_id`` stays the first-level k-means id either way. The
    rank window and the pair join hash-partition on the same key, so
    AQE reuses one exchange.

    **Sizing policy (VERDICT r10 #5): do not call this with a pinned
    ``k`` on a real corpus.** The documented entry path is
    :func:`semdedup_scaled_params` — derive ``(k, train_rows)`` from
    the corpus count so cluster sizes stay ~200 and the pair scan
    stays linear (the v8b registry query is the worked example; the
    pinned-k default here exists only so the v8 priced-reference query
    and the unit tests can exercise a fixed shape: round 9 measured
    pinned k=8 at 546 s where the scaled policy runs 21.7 s at
    sf10-shape).
    """
    import logging

    assign = kmeans_assign(
        embeddings, k=k, n_iterations=n_iterations,
        id_col=id_col, vec_col=vec_col, init=init, train_rows=train_rows,
        dim=dim,
    )
    vecs = embeddings.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
    )
    pri = (
        assign.join(vecs, id_col)
        .withColumn("_n", _norm(F.col("_v")))
        .withColumn(
            "_rk",
            F.row_number().over(
                Window.partitionBy("cluster_id").orderBy(
                    F.desc("dist_r"), F.asc(id_col)
                )
            ),
        )
        # prune-key parts: first-level cluster + (sub, block) from the
        # oversized-cluster re-split below; integer columns so the pair
        # join's hash stays codegen-cheap (a concatenated string key
        # would hash byte-by-byte at 100 TB for no benefit)
        .withColumn("_ps", F.lit(0))
        .withColumn("_pb", F.lit(0))
    )
    in_scope = pri
    if max_cluster_size is not None:
        # the pri subtree (Lloyd's + join + window) fans out several ways
        # below (cap count, re-split, pair join x2 sides, final flag
        # join) — checkpoint it once instead of re-executing per consumer
        # (the m10/d4 pattern); the over-cap probe then reads the
        # checkpoint
        pri = pri.localCheckpoint()
        over_clusters = (
            pri.groupBy("cluster_id")
            .agg(F.max("_rk").alias("_csize"))
            .filter(F.col("_csize") > max_cluster_size)
            .select("cluster_id")
        )
        over_rows = over_clusters.count()  # ≤ k rows — bounded driver probe
        if over_rows:
            logging.getLogger(__name__).warning(
                "semdedup_keep: %d cluster(s) over the %d-member cap — "
                "re-splitting with a %d-way sub-k-means (degenerate "
                "residue chunked by rank; see docstring for the bounded "
                "recall cost)",
                over_rows, max_cluster_size, resplit_k,
            )
            over = pri.join(F.broadcast(over_clusters), "cluster_id")
            ok = pri.join(F.broadcast(over_clusters), "cluster_id", "left_anti")
            sub = _grouped_kmeans_sub(
                over.select(
                    F.col("cluster_id").alias("_gid"),
                    F.col(id_col).alias("_id"),
                    "_v",
                ),
                sub_k=resplit_k,
                n_iterations=n_iterations,
                init=init,
                dim=dim,
            ).select(
                F.col("_gid").alias("cluster_id"),
                F.col("_id").alias(id_col),
                "_sub",
            )
            # rank within (cluster, sub) by the same keep priority, then
            # chunk any still-over-cap group into cap-sized blocks; the
            # block-local rank is pure arithmetic off the sub-rank (no
            # third window)
            w_sub = Window.partitionBy("cluster_id", "_sub").orderBy(
                F.desc("dist_r"), F.asc(id_col)
            )
            resplit = (
                over.join(sub, ["cluster_id", id_col])
                .withColumn("_srk", F.row_number().over(w_sub))
                .select(
                    id_col, "cluster_id", "dist_r", "_v", "_n",
                    F.col("_sub").alias("_ps"),
                    ((F.col("_srk") - 1) / F.lit(max_cluster_size))
                    .cast("int")
                    .alias("_pb"),
                    (((F.col("_srk") - 1) % max_cluster_size) + 1).alias("_rk"),
                )
            )
            in_scope = ok.select(
                id_col, "cluster_id", "dist_r", "_v", "_n", "_ps", "_pb", "_rk"
            ).unionByName(resplit)
        else:
            in_scope = pri

    x = in_scope.alias("x")
    y = in_scope.alias("y")
    # dim given → the pair dot unrolls into codegen (bit-identical fold
    # order, see unrolled_pair_dot); the pair join scores Σc² rows, the
    # same n·k-shaped hot loop the assignment fix above addresses
    pair_dot = (
        unrolled_pair_dot(F.col("x._v"), F.col("y._v"), dim)
        if dim is not None
        else _dot(F.col("x._v"), F.col("y._v"))
    )
    sim = F.round(pair_dot / (F.col("x._n") * F.col("y._n")), 6)
    # The threshold compare must stay OUT of the join condition: a
    # `.where(sim >= τ)` here gets pushed INTO the SMJ condition, and
    # join-condition evaluation runs the 64-term dot outside
    # whole-stage codegen — measured at sf10-shape (round 10) as 140 s
    # of the 203 s wall (~220 µs/pair, interpreter speed). Keeping the
    # join condition to the cheap key+rank compares and computing sim
    # in the PROJECTION puts the dot back into codegen; the
    # "dropped ⇔ ∃ higher-priority mate with sim ≥ τ" rule is exactly
    # "max(sim) ≥ τ" — a primitive-max HashAggregate (map-side
    # partials) instead of a distinct. Same Σc² pair count, same
    # verdicts, rounded sims compared identically.
    dropped = (
        x.join(
            y,
            (F.col("x.cluster_id") == F.col("y.cluster_id"))
            & (F.col("x._ps") == F.col("y._ps"))
            & (F.col("x._pb") == F.col("y._pb"))
            & (F.col("y._rk") < F.col("x._rk")),
        )
        .select(F.col(f"x.{id_col}").alias(id_col), sim.alias("_sim"))
        .groupBy(id_col)
        .agg(F.max("_sim").alias("_msim"))
        .where(F.col("_msim") >= threshold)
        .select(id_col)
        .withColumn("_dropped", F.lit(True))
    )
    return (
        pri.join(dropped, id_col, "left")
        .select(
            id_col,
            "cluster_id",
            "dist_r",
            F.coalesce(~F.col("_dropped"), F.lit(True)).alias("kept"),
        )
    )


def mmr_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_candidates: int = 20,
    lam: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    dim: int | None = None,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998):
    per query, greedily pick k results maximizing
    ``lam*sim(q,d) - (1-lam)*max_{s in S} sim(d,s)`` — relevance minus
    redundancy against what's already selected. The retrieval-side
    diversity twin of SemDeDup's corpus-side prune (v8).

    Returns (query_id, vec_id, sim, mmr_rank), mmr_rank 1..k in selection
    order; the first pick is the pure-relevance argmax (empty S ⇒ zero
    penalty). Ties break on vec_id, so the greedy trajectory is total-
    ordered and reproducible.

    Exactness: candidate and pair similarities use the SAME rounded-6dp
    cosine construction as cosine_topk (unrolled dot when ``dim`` is
    given), so both engines hold identical doubles; ``lam`` must be
    dyadic (0.5, 0.25, …) so ``lam*sim - (1-lam)*pen`` is two exact
    scalings and one IEEE subtract — engine-stable scores, no further
    rounding.

    Scale shape: the only corpus-scale work is cosine_topk (one broadcast
    cross join). Everything after operates on ≤ n_candidates rows per
    query — the k-1 greedy rounds are joins/aggs/windows keyed on
    query_id over bounded-size tables (the per-query window sorts
    ≤ n_candidates rows), checkpointed per round to keep the iterative
    lineage flat. Cost scales with |queries|, not |corpus|.
    """
    if not 0.0 < lam <= 1.0:
        raise ValueError(f"mmr_rerank: lam must be in (0, 1], got {lam}")
    if k > n_candidates:
        raise ValueError(
            f"mmr_rerank: k={k} exceeds the candidate pool n_candidates={n_candidates}"
        )
    cands = cosine_topk(
        corpus,
        queries,
        k=n_candidates,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
        dim=dim,
    )
    # re-attach vectors (cosine_topk projects them away); pin the mined
    # candidate table once — it feeds every greedy round. coalesce(1):
    # the pool is ≤ |queries|·n_candidates rows BY CONTRACT, and the
    # greedy rounds are many tiny jobs over it — one partition turns
    # each round into single-task jobs instead of 32-task shuffles of
    # a few dozen rows (measured 6.4 s → the job-overhead floor at
    # sf0.1). A huge query set should shard the queries upstream, not
    # widen this table.
    cands = (
        cands.join(
            corpus.select(F.col(id_col), F.col(vec_col).alias("_emb")), id_col
        )
        .select(query_id_col, id_col, "sim", "_emb")
        .coalesce(1)
        .localCheckpoint()
    )
    w1 = Window.partitionBy(query_id_col).orderBy(F.desc("sim"), F.col(id_col))
    selected = (
        cands.withColumn("_rn", F.row_number().over(w1))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .withColumn("mmr_rank", F.lit(1))
        .localCheckpoint()
    )
    for step in range(2, k + 1):
        # remaining re-derives from the two PINNED tables (one anti join)
        # instead of chaining its own checkpoint lineage — one checkpoint
        # per round, not two
        remaining = cands.join(
            selected.select(query_id_col, id_col),
            [query_id_col, id_col],
            "left_anti",
        )
        if dim is None:
            pd_ = _dot(F.col("_emb"), F.col("_semb"))
        else:
            pd_ = unrolled_pair_dot("_emb", "_semb", dim)
        pair_sim = F.round(pd_ / (_norm(F.col("_emb")) * _norm(F.col("_semb"))), 6)
        pen = (
            remaining.select(query_id_col, id_col, "_emb")
            .join(
                selected.select(query_id_col, F.col("_emb").alias("_semb")),
                query_id_col,
            )
            .select(query_id_col, id_col, pair_sim.alias("_ps"))
            .groupBy(query_id_col, id_col)
            .agg(F.max("_ps").alias("_pen"))
        )
        scored = remaining.join(pen, [query_id_col, id_col]).withColumn(
            "_score",
            F.lit(lam) * F.col("sim") - F.lit(1.0 - lam) * F.col("_pen"),
        )
        ws = Window.partitionBy(query_id_col).orderBy(
            F.desc("_score"), F.col(id_col)
        )
        pick = (
            scored.withColumn("_rn", F.row_number().over(ws))
            .filter(F.col("_rn") == 1)
            .select(query_id_col, id_col, "sim", "_emb")
            .withColumn("mmr_rank", F.lit(step))
        )
        selected = selected.unionByName(pick).localCheckpoint()
    return selected.select(query_id_col, id_col, "sim", "mmr_rank")


def _dlit(x: float) -> str:
    """SQL DOUBLE literal with exact binary round-trip: Python repr
    emits the shortest decimal that parses back to the identical IEEE
    double (both Python and Java use shortest-round-trip semantics), so
    the SQL-parsed literal is bit-equal to the collected centroid."""
    return f"{float(x)!r}D"


def _pq_sub_sq_norm_sql(v: str, offset: int, sub_len: int) -> str:
    """SQL for the unrolled ``Σ v[offset+i]²`` over one subspace slice —
    computed ONCE per (row, subspace) and shared across that subspace's
    sub_k distance expressions (see :func:`_pq_micro_dist_sql`).
    Left-associated ``+`` chain — the association the oracle's list_sum
    replays."""
    terms = [
        f"element_at({v}, {offset + i + 1}) * element_at({v}, {offset + i + 1})"
        for i in range(sub_len)
    ]
    return " + ".join(terms)


def _pq_micro_dist_sql(
    v: str,
    offset: int,
    codeword: list[float],
    sub_len: int,
    sq_norm: str,
) -> str:
    """SQL for the integer micro-L2² between ``sub_len`` components of
    an array column starting at ``offset`` (0-based) and a LITERAL
    codeword, in the EXPANDED form
    ``round((‖a‖² − 2·a·w + ‖w‖²) × 1e6) :: bigint`` with ``sq_norm``
    naming the shared per-subspace ``‖a‖²`` column and ``‖w‖²`` folded
    to a Python-summed literal.

    Why expanded (not ``Σ (a_i−w_i)²``): the direct form needs
    sub_len×3 ops per (row, codeword) — m·sub_k·sub_len ≈ 3000 ops per
    row at the v11 defaults, which overflows Janino's 64 KB generated-
    method limit and silently drops the whole projection (and anything
    fused with it) to interpreted eval. The expansion shares ‖a‖² per
    subspace and precomputes ‖w‖², cutting the per-codeword expression
    to one unrolled dot — the same assign at 1M×64 compiles clean and
    runs 0.8 s vs 18 s interpreted. The registered v11 oracle computes
    the IDENTICAL expansion (same left-to-right association for every
    sum: ``a + b + c`` parses left-assoc in both engines), so
    cross-engine noise stays ~1e-13 against the 1e-6 rounding quantum —
    the v7 exactness convention.

    Why SQL strings (not Column arithmetic): building these trees
    Column-by-Column costs ~4 py4j round-trips per term — ~4000 JVM
    calls per assign stage, ~13 s of pure driver latency per v11 run
    at the defaults. One selectExpr ships the whole stage in a single
    call; the parsed tree is identical (parser precedence: ``*`` over
    left-assoc ``+``/``-``)."""
    dot = " + ".join(
        f"element_at({v}, {offset + i + 1}) * {_dlit(codeword[i])}"
        for i in range(sub_len)
    )
    wsq = 0.0
    for x in codeword:
        wsq += float(x) * float(x)
    return (
        f"CAST(ROUND(({sq_norm} - 2.0D * ({dot}) + {_dlit(wsq)}) * 1.0E6D, 0) "
        "AS BIGINT)"
    )


def pq_train_encode(
    embeddings: DataFrame,
    dim: int,
    m: int = 4,
    sub_k: int = 16,
    n_iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_centroid: int = 4,
) -> tuple[DataFrame, dict[tuple[int, int], list[float]]]:
    """Product-quantization training + encoding (Jégou, Douze, Schmid,
    "Product Quantization for Nearest Neighbor Search", TPAMI 2011 —
    the FAISS ``PQ`` index family): split each vector into ``m``
    subvectors of ``dim/m`` dims, run an independent ``sub_k``-codeword
    Lloyd's k-means per subspace, and encode every corpus vector as its
    ``m`` nearest-codeword ids. The int8 tier (:func:`int8_topk`)
    compresses 4×; PQ at these defaults stores 64 float32 dims in
    m=4 BYTES of code — 64× — which is why it is THE layout for
    billion-vector / 100 TB ANN.

    Determinism (the v7 ``kmeans_assign`` recipe, per subspace): seeds
    are slices of the FIRST ``sub_k`` corpus rows by id; assignment
    argmins an INTEGER micro-distance ``round(L2² × 1e6) :: bigint``
    (ties → lower code id); centroid means round to ``round_centroid``
    dp. Every stage replays in DuckDB SQL — the registered v11 oracle
    retrains the codebooks from scratch.

    Scale shape — centroids live DRIVER-SIDE as literals (the
    ivf/int8 collect pattern; m·sub_k·(dim/m) = dim·sub_k doubles,
    ~8 KB at the defaults, bounded by construction, never by SF):

    - assignment is ONE map-only projection per iteration — the n·k·d
      distance arithmetic runs inside whole-stage codegen with zero
      joins, zero explodes, zero shuffles (the first PQ cut joined
      exploded subvectors against a broadcast centroid table and paid
      two corpus-scale array shuffles per iteration: 226 s for 1M×64;
      this form trains the same codebooks in a fraction of that);
    - each update round shuffles only (s, c, i, x) SCALARS (one
      groupBy mean over n·dim rows), then collects the m·sub_k new
      centroid rows as the next round's literals — one bounded driver
      action per non-final iteration;
    - the returned ``codes`` DataFrame is a lazy map-only projection
      (id, array<int> codes) with NO training lineage behind it, so
      consumers never re-execute a training pass.

    Returns ``(codes, codebook)`` where codebook maps (s, c) → centroid
    (the codebook the final assignment actually scored against).
    """
    sub_len, rem = divmod(dim, m)
    if rem or m < 1:
        raise ValueError(f"pq_train_encode: m={m} must divide dim={dim}")
    if n_iterations < 1:
        raise ValueError("pq_train_encode: n_iterations must be >= 1")
    corpus = embeddings.select(
        F.col(id_col).alias("_id"), F.col(vec_col).cast("array<double>").alias("_v")
    )
    # Seeds: first sub_k full rows by id (TakeOrderedAndProject — one
    # bounded action), sliced into every subspace driver-side.
    seed_rows = corpus.orderBy("_id").limit(sub_k).collect()
    if not seed_rows:
        raise ValueError("pq_train_encode: empty corpus")
    codebook: dict[tuple[int, int], list[float]] = {}
    for c, row in enumerate(seed_rows):
        v = row["_v"]
        for s in range(m):
            codebook[(s, c)] = [float(x) for x in v[s * sub_len : (s + 1) * sub_len]]

    for _ in range(n_iterations - 1):
        assigned = _pq_assign_codes(corpus, codebook, m, sub_len, "_v", ("_id",))
        upd = assigned.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(s).alias("_s"),
                            F.element_at("codes", s + 1).alias("_c"),
                            F.slice("_v", s * sub_len + 1, sub_len).alias("_sv"),
                        )
                        for s in range(m)
                    ]
                )
            ).alias("_e")
        ).select("_e._s", "_e._c", F.posexplode("_e._sv").alias("_i", "_x"))
        new_rows = (
            upd.groupBy("_s", "_c", "_i")
            .agg(F.round(F.avg("_x"), round_centroid).alias("_mu"))
            .groupBy("_s", "_c")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_i", "_mu"))),
                    lambda st: st["_mu"],
                ).alias("_cv")
            )
            .collect()  # m·sub_k rows — the bounded centroid action
        )
        codebook = {
            (r["_s"], r["_c"]): [float(x) for x in r["_cv"]] for r in new_rows
        }

    codes = _pq_assign_codes(corpus, codebook, m, sub_len, "_v", ("_id",)).select(
        F.col("_id").alias(id_col), "codes"
    )
    return codes, codebook


def _pq_assign_codes(
    df: DataFrame,
    codebook: dict[tuple[int, int], list[float]],
    m: int,
    sub_len: int,
    vec: str,
    carry: tuple[str, ...],
) -> DataFrame:
    """(carry…, vec) → (carry…, vec, codes): the shared PQ nearest-
    codeword assignment. Staged selectExpr projections (one py4j call
    each — see :func:`_pq_micro_dist_sql` for both the expansion and
    the SQL-string rationale): the shared per-subspace ‖a‖² columns
    first, then every (s, c) expanded micro-distance as its own named
    column, then the argmins. Argmin is array_min over (d, c) structs —
    lexicographic struct order gives min distance with ties to the
    LOWER c (the oracle's ORDER BY dm, c) and references each distance
    column once. Map-only: the codebook rides as codegen literals."""
    by_s = [
        {c: w for (cs, c), w in codebook.items() if cs == s} for s in range(m)
    ]
    with_norms = df.selectExpr(
        *carry,
        vec,
        *[
            f"{_pq_sub_sq_norm_sql(vec, s * sub_len, sub_len)} AS _asq_{s}"
            for s in range(m)
        ],
    )
    dist_proj = [*carry, vec]
    for s in range(m):
        for c in sorted(by_s[s]):
            d_sql = _pq_micro_dist_sql(
                vec, s * sub_len, by_s[s][c], sub_len, f"_asq_{s}"
            )
            dist_proj.append(f"{d_sql} AS _d_{s}_{c}")
    tmp = with_norms.selectExpr(*dist_proj)
    code_exprs = []
    for s in range(m):
        cs = sorted(by_s[s])
        structs = ", ".join(f"named_struct('d', _d_{s}_{c}, 'c', {c})" for c in cs)
        code_exprs.append(f"array_min(array({structs})).c")
    return tmp.selectExpr(
        *carry, vec, f"array({', '.join(code_exprs)}) AS codes"
    )


def pq_encode(
    embeddings: DataFrame,
    codebook: dict[tuple[int, int], list[float]],
    dim: int,
    m: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode-only PQ path against a FROZEN codebook (the deployment
    shape: train once with :func:`pq_train_encode`, persist via
    operators/ann_store, then encode/serve with zero training actions).
    One map-only staged projection — bit-identical codes to the ones
    pq_train_encode returns for the same codebook."""
    sub_len, rem = divmod(dim, m)
    if rem or m < 1:
        raise ValueError(f"pq_encode: m={m} must divide dim={dim}")
    if not codebook:
        raise ValueError("pq_encode: empty codebook")
    cw = len(next(iter(codebook.values())))
    if cw != sub_len:
        raise ValueError(
            f"pq_encode: codebook codeword length {cw} != dim/m = {sub_len}"
        )
    corpus = embeddings.select(
        F.col(id_col).alias("_id"), F.col(vec_col).cast("array<double>").alias("_v")
    )
    return _pq_assign_codes(corpus, codebook, m, sub_len, "_v", ("_id",)).select(
        F.col("_id").alias(id_col), "codes"
    )


def pq_adc_topk(
    codes: DataFrame,
    codebook: dict[tuple[int, int], list[float]],
    queries: DataFrame,
    k: int = 5,
    m: int = 4,
    sub_len: int = 16,
    sub_k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: per query, build a
    lookup table LUT[s][c] = micro-L2²(query subvector, codeword) — m ×
    sub_k bigints, computed in ONE projection over the (small) query set
    against the LITERAL codebook — then score each corpus row as
    ``Σ_s LUT[s][codes[s]]``, an integer sum of m table reads. This is
    the FAISS ADC scan: the corpus contribution per row is m bytes of
    code + m additions, no floats, no vectors, no training lineage.

    Scoring is map-only (codes ⋈ broadcast(per-query LUT arrays), an
    unrolled element_at chain in codegen); the only shuffle is the
    rank-k window, which WindowGroupLimit trims map-side. Integer
    micro-distances make the ranking bit-exact cross-engine: ties →
    (adc_micro, id). Codes for clusters a training round emptied never
    occur in ``codes``, so their LUT slots are zero-filled padding.

    Returns (query_id, vec_id, adc_micro, rank), rank 1..k ascending
    distance. Recall < 1 by construction (quantization error); the
    planted-structure test pins recall against exact search.
    """
    # Same shape guard ivf_pq_search performs: a mismatched sub_len
    # would make element_at read past the query array and silently rank
    # on NULL micro-distances. The codebook's codeword length is the
    # ground truth for sub_len; its subspace indices bound m.
    if codebook:
        cw_len = len(next(iter(codebook.values())))
        if cw_len != sub_len:
            raise ValueError(
                f"pq_adc_topk: sub_len={sub_len} does not match the "
                f"codebook's codeword length {cw_len}"
            )
        max_s = max(s for s, _ in codebook)
        if max_s >= m:
            raise ValueError(
                f"pq_adc_topk: codebook has subspace index {max_s} but "
                f"m={m}; m × sub_len must equal the encoded dim"
            )
    q = queries.select(
        F.col(query_id_col).alias("_qid"),
        F.col(vec_col).cast("array<double>").alias("_qv"),
    )
    # Staged like assign_df (shared ‖q_s‖² + expanded per-codeword
    # dots, selectExpr stages), then the nested LUT array assembles from
    # named columns — see _pq_micro_dist_sql for both rationales.
    q = q.selectExpr(
        "_qid",
        "_qv",
        *[
            f"{_pq_sub_sq_norm_sql('_qv', s * sub_len, sub_len)} AS _qsq_{s}"
            for s in range(m)
        ],
    )
    lut_proj = ["_qid"]
    for s in range(m):
        for c in range(sub_k):
            entry = (
                _pq_micro_dist_sql(
                    "_qv", s * sub_len, codebook[(s, c)], sub_len, f"_qsq_{s}"
                )
                if (s, c) in codebook
                else "CAST(0 AS BIGINT)"
            )
            lut_proj.append(f"{entry} AS _ld_{s}_{c}")
    rows_sql = ", ".join(
        "array({})".format(
            ", ".join(f"_ld_{s}_{c}" for c in range(sub_k))
        )
        for s in range(m)
    )
    lut = q.selectExpr(*lut_proj).selectExpr(
        "_qid", f"array({rows_sql}) AS _lut"
    )
    score = F.element_at(F.element_at("_lut", 1), F.element_at("codes", 1) + F.lit(1))
    for s in range(1, m):
        score = score + F.element_at(
            F.element_at("_lut", s + 1), F.element_at("codes", s + 1) + F.lit(1)
        )
    scored = codes.join(F.broadcast(lut)).select(
        F.col("_qid").alias(query_id_col),
        id_col,
        score.alias("adc_micro"),
    )
    w = Window.partitionBy(query_id_col).orderBy("adc_micro", F.col(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ivf_pq_build(
    embeddings: DataFrame,
    dim: int,
    n_list: int = 8,
    m: int = 4,
    sub_k: int = 16,
    n_iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_centroid: int = 4,
) -> tuple[DataFrame, list[list[float]], dict[tuple[int, int], list[float]]]:
    """IVF-PQ index build (Jégou et al. 2011 §IV / the FAISS ``IVFPQ``
    index): coarse-quantize each vector to its nearest of ``n_list``
    coarse centroids (the inverted-list id), then product-quantize the
    RESIDUAL ``v − c_list`` with per-subspace Lloyd codebooks. Search
    probes only a few lists (:func:`ivf_pq_search`), so cost scales with
    ``n_probe / n_list`` of the corpus — the ANN layout for the
    billion-vector tier, composing the two structures this module
    already has (IVF pruning, PQ compression) the way FAISS does.

    Determinism: coarse centroids are the first ``n_list`` corpus rows
    by id (the ivf_topk convention — a production system plugs a
    trained coarse quantizer here; every downstream stage is identical
    either way); list assignment argmins the integer micro-L2 in the
    expanded form (ties → lower list id); PQ training on residuals
    follows the exact :func:`pq_train_encode` recipe (first-sub_k-by-id
    residual seeds, micro-distance argmins, 4 dp means). The v12 oracle
    replays ALL of it — coarse assign, residuals, codebook retraining,
    encoding — in one CTE chain.

    Scale shape: everything corpus-sized is a map-only selectExpr
    projection (coarse centroids, PQ codebooks, and every micro-
    distance are literals — the :func:`pq_train_encode` lesson); each
    training round shuffles only (s, c, i, x) scalars. Returns
    ``(codes, coarse, codebook)`` where codes = (id_col, _list,
    codes array<int>) with no training lineage, coarse = n_list
    centroid vectors (index = list id), codebook = (s, c) → codeword
    over residual space.
    """
    sub_len, rem = divmod(dim, m)
    if rem or m < 1:
        raise ValueError(f"ivf_pq_build: m={m} must divide dim={dim}")
    if n_iterations < 1:
        raise ValueError("ivf_pq_build: n_iterations must be >= 1")
    corpus = embeddings.select(
        F.col(id_col).alias("_id"), F.col(vec_col).cast("array<double>").alias("_v")
    )
    coarse_rows = corpus.orderBy("_id").limit(n_list).collect()
    if not coarse_rows:
        raise ValueError("ivf_pq_build: empty corpus")
    coarse = [[float(x) for x in r["_v"]] for r in coarse_rows]
    # a corpus smaller than n_list just gets fewer lists (k-means with
    # n < k); every later range(n_list) must see the ACTUAL count
    n_list = len(coarse)

    # Lazy checkpoint: (a) the coarse-assign + residual chain executes
    # ONCE instead of once per training action (each update round, the
    # final encode, and every search consumer would otherwise re-run the
    # full-dim coarse scoring over the corpus), and (b) it is a codegen
    # boundary — fused, the coarse dists + residual CASEs + PQ distance
    # stages produce a ~16k-line generated class whose Janino compile
    # OOMs a default-1g driver (the vanilla driver gate). The
    # materialized working set is (id, list, residual) — the same
    # corpus-sized training copy a FAISS IVFPQ build holds.
    resid = _ivf_listed(corpus, coarse, dim).localCheckpoint(eager=False)

    # PQ training on residuals — the pq_train_encode loop verbatim, but
    # keyed on the residual column and carrying _list through.
    seed_rows = resid.orderBy("_id").limit(sub_k).collect()
    codebook: dict[tuple[int, int], list[float]] = {}
    for c, row in enumerate(seed_rows):
        rvv = row["_rv"]
        for s in range(m):
            codebook[(s, c)] = [float(x) for x in rvv[s * sub_len : (s + 1) * sub_len]]

    for _ in range(n_iterations - 1):
        assigned = _pq_assign_codes(resid, codebook, m, sub_len, "_rv", ("_id", "_list"))
        upd = assigned.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(s).alias("_s"),
                            F.element_at("codes", s + 1).alias("_c"),
                            F.slice("_rv", s * sub_len + 1, sub_len).alias("_sv"),
                        )
                        for s in range(m)
                    ]
                )
            ).alias("_e")
        ).select("_e._s", "_e._c", F.posexplode("_e._sv").alias("_i", "_x"))
        new_rows = (
            upd.groupBy("_s", "_c", "_i")
            .agg(F.round(F.avg("_x"), round_centroid).alias("_mu"))
            .groupBy("_s", "_c")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_i", "_mu"))),
                    lambda st: st["_mu"],
                ).alias("_cv")
            )
            .collect()
        )
        codebook = {
            (r["_s"], r["_c"]): [float(x) for x in r["_cv"]] for r in new_rows
        }

    codes = _pq_assign_codes(
        resid, codebook, m, sub_len, "_rv", ("_id", "_list")
    ).select(
        F.col("_id").alias(id_col), "_list", "codes"
    )
    return codes, coarse, codebook


def _ivf_listed(
    df: DataFrame, coarse: list[list[float]], dim: int, v: str = "_v"
) -> DataFrame:
    """Adds ``_list`` (coarse argmin) and ``_rv`` (residual) to a
    (_id, _v) frame — two staged selectExpr projections, all literals,
    map-only. Residual per component via a scalar CASE over the list
    id — NOT element_at on a nested array-of-arrays literal: projection
    collapse inlines whatever _cv binds to into all ``dim`` residual
    expressions, and a 512-double nested literal duplicated 64×
    (~32k literal nodes) OOMs Janino compilation on a default-1g
    driver (the vanilla driver gate). The CASE form is n_list scalar
    literals per component, n_list·dim total."""
    n_list = len(coarse)
    asq = _pq_sub_sq_norm_sql(v, 0, dim)
    with_norm = df.selectExpr("*", f"{asq} AS _fsq")
    dists = with_norm.selectExpr(
        "*",
        *[
            f"{_pq_micro_dist_sql(v, 0, coarse[c], dim, '_fsq')} AS _cd_{c}"
            for c in range(n_list)
        ],
    )
    structs = ", ".join(
        f"named_struct('d', _cd_{c}, 'c', {c})" for c in range(n_list)
    )
    with_list = dists.selectExpr(
        "_id", v, f"array_min(array({structs})).c AS _list"
    )
    rv = ", ".join(
        "element_at({v}, {i}) - (CASE _list {arms} END)".format(
            v=v,
            i=i + 1,
            arms=" ".join(
                f"WHEN {c} THEN {_dlit(coarse[c][i])}" for c in range(n_list)
            ),
        )
        for i in range(dim)
    )
    return with_list.selectExpr("_id", "_list", f"array({rv}) AS _rv")


def ivf_pq_encode(
    embeddings: DataFrame,
    coarse: list[list[float]],
    codebook: dict[tuple[int, int], list[float]],
    dim: int,
    m: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode-only IVF-PQ path against a FROZEN model (coarse centroids
    + residual codebook — the deployment shape: train once with
    :func:`ivf_pq_build`, persist via operators/ann_store, then encode
    with zero training actions). Coarse-assign + residual + PQ codes,
    all map-only literal projections; the localCheckpoint stays as the
    codegen boundary (fused, the coarse dists + residual CASEs + PQ
    stages overflow Janino on a default-1g driver — the ivf_pq_build
    note). Bit-identical codes to ivf_pq_build's for the same model."""
    sub_len, rem = divmod(dim, m)
    if rem or m < 1:
        raise ValueError(f"ivf_pq_encode: m={m} must divide dim={dim}")
    if not coarse:
        raise ValueError("ivf_pq_encode: empty coarse centroid list")
    if not codebook:
        raise ValueError("ivf_pq_encode: empty codebook")
    cw = len(next(iter(codebook.values())))
    if cw != sub_len:
        raise ValueError(
            f"ivf_pq_encode: codebook codeword length {cw} != dim/m = {sub_len}"
        )
    corpus = embeddings.select(
        F.col(id_col).alias("_id"), F.col(vec_col).cast("array<double>").alias("_v")
    )
    resid = _ivf_listed(corpus, coarse, dim).localCheckpoint(eager=False)
    return _pq_assign_codes(
        resid, codebook, m, sub_len, "_rv", ("_id", "_list")
    ).select(F.col("_id").alias(id_col), "_list", "codes")


def ivf_pq_search(
    codes: DataFrame,
    coarse: list[list[float]],
    codebook: dict[tuple[int, int], list[float]],
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    m: int = 4,
    sub_len: int = 16,
    sub_k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF-PQ probe + ADC scan: per query, pick the ``n_probe`` nearest
    coarse lists (expanded micro-L2 over the literal coarse centroids,
    ties → lower list id), build one residual LUT PER PROBED LIST
    (``LUT[s][c] = micro-L2²((q − c_list)_s, codeword)``), and score
    only that list's members — the equi-join on ``_list`` against the
    broadcast (query × probe) LUTs IS the inverted-index prune: each
    corpus row is touched by exactly the queries probing its list.

    Integer micro-distances end to end (rank ties → id), so the v12
    oracle replays probing, residuals, LUTs, and the scan bit-exactly.
    Recall < 1 two ways (list pruning + quantization); the planted test
    pins both. Returns (query_id, vec_id, adc_micro, rank).
    """
    dim = len(coarse[0])
    n_list = len(coarse)
    if m * sub_len != dim:
        raise ValueError(
            f"ivf_pq_search: m={m} × sub_len={sub_len} must equal the coarse "
            f"centroid width dim={dim} — a mismatch would silently slice the "
            "wrong residual components"
        )
    q = queries.select(
        F.col(query_id_col).alias("_qid"),
        F.col(vec_col).cast("array<double>").alias("_qv"),
    )
    # probe selection: n_probe smallest (micro dist, list id)
    fsq = _pq_sub_sq_norm_sql("_qv", 0, dim)
    with_norm = q.selectExpr("_qid", "_qv", f"{fsq} AS _fsq")
    dists = with_norm.selectExpr(
        "_qid",
        "_qv",
        *[
            f"{_pq_micro_dist_sql('_qv', 0, coarse[c], dim, '_fsq')} AS _cd_{c}"
            for c in range(n_list)
        ],
    )
    structs = ", ".join(f"named_struct('d', _cd_{c}, 'c', {c})" for c in range(n_list))
    probed = dists.selectExpr(
        "_qid",
        "_qv",
        f"slice(array_sort(array({structs})), 1, {n_probe}) AS _probes",
    ).select(
        "_qid", "_qv", F.explode("_probes").alias("_p")
    ).select("_qid", "_qv", F.col("_p.c").alias("_list"))
    # residual per (query, probed list) — scalar CASE per component, the
    # ivf_pq_build rationale (a nested-array literal would be inlined
    # `dim` times by projection collapse and blow up codegen)
    qr = ", ".join(
        "element_at(_qv, {i}) - (CASE _list {arms} END)".format(
            i=i + 1,
            arms=" ".join(
                f"WHEN {c} THEN {_dlit(coarse[c][i])}" for c in range(n_list)
            ),
        )
        for i in range(dim)
    )
    resq = probed.selectExpr("_qid", "_list", f"array({qr}) AS _qr")
    resq = resq.selectExpr(
        "_qid",
        "_list",
        "_qr",
        *[
            f"{_pq_sub_sq_norm_sql('_qr', s * sub_len, sub_len)} AS _qsq_{s}"
            for s in range(m)
        ],
    )
    lut_proj = ["_qid", "_list"]
    for s in range(m):
        for c in range(sub_k):
            entry = (
                _pq_micro_dist_sql(
                    "_qr", s * sub_len, codebook[(s, c)], sub_len, f"_qsq_{s}"
                )
                if (s, c) in codebook
                else "CAST(0 AS BIGINT)"
            )
            lut_proj.append(f"{entry} AS _ld_{s}_{c}")
    rows_sql = ", ".join(
        "array({})".format(", ".join(f"_ld_{s}_{c}" for c in range(sub_k)))
        for s in range(m)
    )
    lut = resq.selectExpr(*lut_proj).selectExpr(
        "_qid", "_list", f"array({rows_sql}) AS _lut"
    )
    score = F.element_at(F.element_at("_lut", 1), F.element_at("codes", 1) + F.lit(1))
    for s in range(1, m):
        score = score + F.element_at(
            F.element_at("_lut", s + 1), F.element_at("codes", s + 1) + F.lit(1)
        )
    scored = codes.join(F.broadcast(lut), "_list").select(
        F.col("_qid").alias(query_id_col),
        id_col,
        score.alias("adc_micro"),
    )
    w = Window.partitionBy(query_id_col).orderBy("adc_micro", F.col(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def binary_sign_sketch_sql(vec: str, dim: int) -> list[str]:
    """SQL expressions packing a ``dim``-wide vector's SIGN BITS into
    32-bit words held in BIGINTs (bit j of word w = component
    32w+j+1 > 0) — the 1-bit quantization behind binary ANN indexes
    (FAISS ``IndexBinaryFlat`` / sign-random-projection LSH): 32×
    smaller than float32, and Hamming distance over the words is a
    monotone proxy for angular distance.

    Why 32-bit words (not one 64-bit word): ``1 << 63`` overflows a
    signed BIGINT, which Spark WRAPS and DuckDB RAISES on — the
    layout.py zorder lesson — so the packing stays strictly inside
    non-negative territory on both engines. Pure integer CASE/shift
    arithmetic; one selectExpr column per word."""
    if dim < 1:
        raise ValueError(f"binary_sign_sketch_sql: dim must be >= 1, got {dim}")
    words = []
    for w in range((dim + 31) // 32):
        terms = []
        for j in range(min(32, dim - 32 * w)):
            i = 32 * w + j + 1
            terms.append(
                f"(CASE WHEN element_at(`{vec}`, {i}) > 0 "
                f"THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END << {j})"
            )
        words.append(" + ".join(terms))
    return words


def binary_hamming_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Top-k by Hamming distance over 1-bit sign sketches — the coarsest
    rung of the quantization ladder (float32 → int8 v9 → PQ v11 →
    IVF-PQ v12 → 1 bit here): 32× smaller than float32, distance is
    ``Σ_w bit_count(xor(word))`` — pure codegen integers, so the whole
    search value-oracles with no rounding anywhere. Same brute-force
    shape as cosine_topk (corpus never shuffles, queries broadcast,
    rank-k trims map-side); ties → (hamming, id). Recall < exact by
    construction; the planted test pins sign-structure separation."""
    n_words = (dim + 31) // 32
    c_words = binary_sign_sketch_sql(vec_col, dim)
    corpus_b = corpus.selectExpr(
        f"`{id_col}`", *[f"{w} AS _cw_{i}" for i, w in enumerate(c_words)]
    )
    q_words = binary_sign_sketch_sql(vec_col, dim)
    queries_b = queries.selectExpr(
        f"`{query_id_col}`", *[f"{w} AS _qw_{i}" for i, w in enumerate(q_words)]
    )
    ham = " + ".join(
        f"bit_count(_cw_{i} ^ _qw_{i})" for i in range(n_words)
    )
    scored = corpus_b.join(F.broadcast(queries_b)).selectExpr(
        f"`{query_id_col}`", f"`{id_col}`", f"CAST({ham} AS BIGINT) AS hamming"
    )
    w = Window.partitionBy(query_id_col).orderBy("hamming", F.col(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def cascade_hamming_cosine(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    candidates: int = 32,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Two-stage retrieval cascade — the standard deployment recipe for
    brute-force-quality results at compressed-scan cost: stage 1 scans
    the 1-bit sign sketches (:func:`binary_hamming_topk`, 32× smaller
    than float32) for the Hamming top-``candidates`` per query; stage 2
    re-ranks ONLY those candidates with the exact rounded cosine
    (cosine_topk's discipline: round 6 dp before ranking, id
    tie-break). Recall loss is confined to true neighbors the binary
    stage misses; the planted-structure test and the v17 value oracle
    pin both stages end to end.

    Scale shape: the float corpus is never cross-joined — stage 1 is
    the compact-sketch scan (corpus stays put, queries broadcast,
    rank-k trims map-side), and stage 2 touches |queries|·candidates
    rows, fetched by BROADCASTING the candidate id list into a
    map-side semi-join against the corpus (no corpus shuffle at any
    point). At 100 TB the sketch table is the only full scan; the
    rerank reads ~thousands of rows."""
    cands = binary_hamming_topk(
        corpus, queries, k=candidates, dim=dim,
        id_col=id_col, vec_col=vec_col, query_id_col=query_id_col,
    ).select(query_id_col, id_col)
    c = corpus.select(
        F.col(id_col),
        F.col(vec_col).alias("_cvec"),
        _norm(F.col(vec_col)).alias("_cnorm"),
    )
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("_qvec"),
        _norm(F.col(vec_col)).alias("_qnorm"),
    )
    pair_dot = (
        unrolled_pair_dot("_cvec", "_qvec", dim)
        if dim is not None
        else _dot(F.col("_cvec"), F.col("_qvec"))
    )
    scored = (
        c.join(F.broadcast(cands), id_col)
        .join(F.broadcast(q), query_id_col)
        .select(
            F.col(query_id_col),
            F.col(id_col),
            F.round(pair_dot / (F.col("_cnorm") * F.col("_qnorm")), 6).alias("sim"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("sim"), F.col(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def hashed_embedding(
    df: DataFrame,
    dim: int = 64,
    salt: str = "he1",
    text_col: str = "text",
    id_col: str = "doc_id",
    max_n: int = 2,
) -> DataFrame:
    """Feature-hashing document embeddings (Weinberger 2009, *Feature
    Hashing for Large Scale Multitask Learning*; the fastText
    sentence-vector construction without pretrained vectors): each word
    1..max_n-gram hashes to a bucket in [0, dim) and an independent ±1
    sign; the embedding is the per-bucket signed count. The signed hash
    makes bucket collisions cancel in expectation (the paper's unbiased-
    inner-product property), so cosine over these vectors approximates
    n-gram Jaccard affinity — the zero-model embedding a pipeline uses
    BEFORE a trained encoder exists (bootstrap dedup/retrieval, v1–v13
    all compose with it).

    Output: (id_col, n_grams, emb array<long>) — integer-exact, so every
    downstream dot/norm is BIGINT and cross-engine replayable.

    Scale shape: explode → (doc, bucket) HASH-AGGREGATION, all codegen.
    Each gram is hashed exactly once (ONE md5; bucket = digest hex 1–8
    mod dim, sign = hex 9–16 mod 2 — disjoint digest halves) and
    lands in a codegen hash-agg cell — O(1) work per gram. Map-side
    partial aggregation reduces the gram stream to ≤ docs·dim rows
    BEFORE the exchange, so shuffle volume is bounded by the embedding
    table itself (~0.5% of corpus bytes), never the token stream. The
    round-11 shape (dim per-bucket interpreted HOF folds over a
    materialized (bucket, sign) array) was zero-shuffle but O(dim) work
    per gram in the interpreted expression evaluator — measured 3.9×
    slower at sf10-shape (50.5 s → 12.8 s); the hash-agg is the same
    trade the t22 heads rejected only because their dim·vocab fold
    stays O(1) per token. Bit-identical output: per-bucket signed
    counts are order-free integer sums."""
    from fhir_etl_spark.operators.classifier import hashed_grams
    from fhir_etl_spark.operators.datasets import hash_bucket
    from fhir_etl_spark.operators.text import tokens

    if dim < 1:
        raise ValueError(f"dim must be >= 1, got {dim}")
    loud_toks = F.when(
        F.col(text_col).isNull(),
        F.raise_error(
            F.lit("hashed_embedding: NULL text — filter unembeddable rows first")
        ),
    ).otherwise(tokens(text_col))
    # explode_outer keeps zero-gram documents (one null-gram row) so
    # they surface with n_grams=0 and an all-zero embedding, exactly
    # like the fold shape did
    exploded = (
        df.withColumn("_toks", loud_toks)
        .withColumn("_grams", hashed_grams("_toks", max_n=max_n))
        .select(
            id_col,
            F.size("_grams").cast("long").alias("n_grams"),
            F.explode_outer("_grams").alias("_g"),
        )
    )
    # ONE md5 per gram, bucket/sign from disjoint digest halves (the
    # Weinberger construction with a shared hash), then ONE codegen
    # hash-aggregation with dim conditional sums — the dense array
    # comes straight out of the aggregation buffer. Two shapes were
    # built and rejected on measurement at sf10 (500k docs, 53.6M
    # grams): the r11 per-bucket interpreted HOF folds (50.5 s — the
    # interpreted evaluator), and a (doc, bucket) agg + map_from_
    # entries + per-slot try_element_at reshape (47 s — element_at on
    # MapData is a LINEAR key scan, and the transform lambda is
    # interpreted: dim lookups × ~45-entry maps per doc dominated
    # everything). The conditional-sum form keeps the whole build in
    # whole-stage codegen: dim branch-free compare-adds per gram row,
    # map-side partial combine, one exchange of docs rows × dim longs
    # — the embedding table itself. Committed artifact: 9.0 s at
    # sf10-shape, 5.6× the r11 fold (BENCH_sf10_r12.json).
    bucketed = exploded.withColumn(
        "_h", F.md5(F.concat(F.lit(salt), F.col("_g")).cast("binary"))
    ).select(
        id_col,
        "n_grams",
        (F.conv(F.substring("_h", 1, 8), 16, 10).cast("long") % dim)
        .cast("int")
        .alias("_b"),
        (F.conv(F.substring("_h", 9, 8), 16, 10).cast("long") % 2 * 2 - 1)
        .cast("long")
        .alias("_s"),
    )
    folded = bucketed.groupBy(id_col, "n_grams").agg(
        *[
            F.sum(F.when(F.col("_b") == i, F.col("_s"))).alias(f"_e{i}")
            for i in range(dim)
        ]
    )
    # a doc with zero grams (or an empty bucket) has NULL sums → 0
    emb = F.array(
        *[F.coalesce(F.col(f"_e{i}"), F.lit(0).cast("long")) for i in range(dim)]
    )
    # lineage barrier (the shingles-materialization lesson): downstream
    # consumers reference `emb` many times (element_at per query bucket,
    # the l2sq fold), so the table must materialize once. persist(), NOT
    # localCheckpoint: checkpoint's toRdd conversion under AQE executes
    # the two shuffle stages EAGERLY at plan-build time and then the
    # uncached RDD re-executes them at the first action — measured
    # 34 s + 43 s for a pipeline that computes in 4 s at sf10-shape;
    # the InMemoryRelation barrier gives the same fan-out protection at
    # (id, n_grams, dim longs) ≈ 0.5% of corpus bytes — exactly what a
    # deployment persists as its embedding table.
    return folded.select(
        id_col,
        "n_grams",
        emb.alias("emb"),
    ).persist()


def hashed_embedding_topk(
    emb_df: DataFrame,
    query_vec: list[int],
    k: int = 10,
    id_col: str = "doc_id",
    emb_col: str = "emb",
) -> DataFrame:
    """Cosine top-k of a literal hashed-embedding query vector against a
    :func:`hashed_embedding` corpus → (id, dot, l2sq, cos), cos DESC
    with id tie-break. Integer dot/norms (BIGINT end to end), then ONE
    float step — dot / sqrt(l2sq·|q|²) over exactly-representable
    integers (products ≪ 2⁵³), correctly-rounded IEEE on both engines,
    so the oracle is bit-exact (the t2 single-division argument).
    Zero-norm documents (every signed count cancelled) have no cosine
    and are excluded. Scale: map-only projection + TakeOrderedAndProject
    — the query rides as a codegen literal; the corpus never shuffles."""
    q2 = sum(v * v for v in query_vec)
    if q2 == 0:
        raise ValueError("hashed_embedding_topk: zero query vector")
    e = F.col(emb_col)
    dot = None
    for i, v in enumerate(query_vec):
        if v == 0:
            continue
        term = F.element_at(e, i + 1) * F.lit(int(v)).cast("long")
        dot = term if dot is None else dot + term
    l2sq = F.aggregate(e, F.lit(0).cast("long"), lambda acc, x: acc + x * x)
    scored = emb_df.select(
        id_col,
        dot.alias("dot"),
        l2sq.alias("l2sq"),
    ).where(F.col("l2sq") > 0)
    cos = F.col("dot") / F.sqrt((F.col("l2sq") * F.lit(int(q2)).cast("long")).cast("double"))
    return (
        scored.withColumn("cos", cos)
        .orderBy(F.desc("cos"), F.asc(id_col))
        .limit(k)
    )
