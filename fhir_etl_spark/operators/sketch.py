"""Sketch operators (north-star 'novel sketch' row): mergeable summaries
for 100 TB cardinality/frequency questions.

Mergeability is the whole point at scale: each partition builds a small
sketch, sketches union pairwise — no raw-data shuffle. This module builds
bottom-k (KMV) samples and Count-Min counter tables from Spark aggregates,
plus an exact heavy-hitters counterpart for verification.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def heavy_hitters_exact(df: DataFrame, col: str, k: int = 10) -> DataFrame:
    """Exact top-k frequent values (two-phase hash agg + TakeOrdered) —
    the ground truth the CMS path is verified against."""
    return (
        df.groupBy(col)
        .agg(F.count("*").alias("freq"))
        .orderBy(F.desc("freq"), F.col(col))
        .limit(k)
    )


def kmv_sample_sketch(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    row_key_cols: list[str],
    k: int = 64,
    hash_fn: str = "md5",
) -> DataFrame:
    """Per-group MERGEABLE bottom-k uniform sample → (group_cols...,
    sample: array<struct<h: string, v: double>>), the KMV/bottom-k
    construction (Bar-Yossef et al. 2002): keep the k rows whose hashed
    row key is smallest. Because min-k(A ∪ B) = min-k(min-k(A) ∪
    min-k(B)), sketches from different partitions/days/tables merge
    EXACTLY (:func:`kmv_merge` reproduces what a from-scratch build over
    the union would emit — bit-for-bit, pinned in tests), which is what
    lets a 100 TB table keep per-partition quantile state and answer
    "p95 over any subset of partitions" without rescanning.

    The hash makes the sample deterministic (no RNG state), uniform
    (hash of a unique row key ~ uniform), and CROSS-ENGINE REPLAYABLE:
    ``md5`` has a DuckDB twin, so the whole sketch — and every quantile
    read off it — value-oracles (same reason d4 keeps an md5 twin of the
    xxhash64 MinHash path).

    Plan shape — TWO-PHASE, exactly because the sketch is mergeable:

    1. a ``dense_rank ≤ k`` filter per (group, INPUT PARTITION) over the
       hash order. Because the rank filter is rank-like, Spark inserts a
       PARTIAL ``WindowGroupLimit`` BEFORE the exchange (each map task
       holds exactly one partition id, so the trim completes map-side) —
       what crosses the wire is the k smallest hashed identities per
       (group, partition), not the partition's rows. dense_rank (not
       row_number) so duplicate copies of one identity can't consume
       the k slots — the set semantics the estimator needs.
    2. a per-(group, partition) collect_set/slice builds the ≤ k-entry
       partial samples (the groupBy reuses the window's partitioning —
       no extra exchange), and :func:`kmv_merge` folds them.

    No task ever sorts more than one input partition. (Two earlier cuts
    are the traps this shape avoids, both caught in round-7 review: a
    single whole-group window rank funnels the ENTIRE table into one
    sort task per group — 3 reducers for a 3-group 100 TB table — and a
    bare groupBy(…, partition_id) + post-agg slice ships each
    partition's FULL distinct set through the exchange because the
    slice evaluates after the final aggregate.)

    NULL semantics (round-8 advice fix): rows whose ``value_col`` is
    NULL are EXCLUDED before hashing — the same convention as Spark's
    own sketch aggregates (approx_count_distinct / hll_sketch_agg skip
    nulls). Without the filter two silent wrong answers leak out: a
    null ``_v`` sorts LAST in the sample's (h, v) struct order but the
    quantile reader sorts by value where nulls land at the top ranks,
    so q95-style reads return null; and with ``row_key_cols ==
    [value_col]`` (the distinct-estimate construction) a NULL hashes as
    ``md5('')`` — concat_ws drops nulls — colliding with the empty
    string and counting NULL as one extra distinct value.
    """
    if hash_fn != "md5":
        raise ValueError("kmv_sample_sketch: md5 is the replayable hash")
    h = F.md5(F.concat_ws("|", *[F.col(c).cast("string") for c in row_key_cols]))
    from pyspark.sql import Window

    # NULL inputs are skipped (the documented sketch-agg convention); a
    # NON-null value that fails the double cast raises LOUDLY with a
    # domain message — silently filtering it would empty the whole
    # sketch for a string value_col (e.g. the row_key_cols ==
    # [value_col] distinct-estimate construction pointed at an id
    # column), the same silent-vanish failure mode kmv_merge's
    # empty-sample guard exists to prevent. try_cast (not cast): under
    # Spark's ANSI default a plain cast throws its own generic
    # CAST_INVALID_INPUT before this guard could phrase the problem,
    # and under non-ANSI it nulls silently — try_cast gives the same
    # null on both, which the guard then turns into the loud error.
    # Column.try_cast (not an F.expr string) so dotted struct-field
    # value columns resolve exactly like every other F.col reference
    # here (round-8 review finding: a backtick-quoted SQL string treats
    # 's.price' as one identifier).
    cast_v = F.col(value_col).try_cast("double")
    guarded_v = F.when(
        F.col(value_col).isNotNull() & cast_v.isNull(),
        F.raise_error(
            F.concat(
                F.lit(
                    f"kmv_sample_sketch: value_col {value_col!r} is not "
                    "numeric-castable (got "
                ),
                F.col(value_col).cast("string"),
                F.lit(
                    ") — the sketch stores double values; for pure "
                    "distinct counting pass a numeric surrogate"
                ),
            )
        ).cast("double"),
    ).otherwise(cast_v)
    base = (
        df.select(
            *group_cols,
            guarded_v.alias("_v"),
            h.alias("_h"),
            F.spark_partition_id().alias("_p"),
        )
        .filter(F.col("_v").isNotNull())
    )
    w = Window.partitionBy(*group_cols, "_p").orderBy("_h", "_v")
    trimmed = (
        base.withColumn("_dr", F.dense_rank().over(w))
        .filter(F.col("_dr") <= k)
        .drop("_dr")
    )
    partials = (
        trimmed.groupBy(*group_cols, "_p")
        .agg(
            # collect_SET dedups the ≤ k surviving identities' duplicate
            # copies; slice guards the exact-k bound. array_sort on
            # struct compares field-by-field (h, then v) — identical
            # ordering to the merge's rank.
            F.slice(
                F.array_sort(
                    F.collect_set(
                        F.struct(F.col("_h").alias("h"), F.col("_v").alias("v"))
                    )
                ),
                1,
                k,
            ).alias("sample")
        )
        .drop("_p")
        .withColumn("k", F.lit(k))
    )
    return kmv_merge(partials, group_cols, k)


def kmv_merge(
    sketches: DataFrame, group_cols: list[str], k: int | None = None
) -> DataFrame:
    """Union bottom-k sketch rows per group back into one sketch row:
    explode, re-rank by hash, keep k — min-k of the union. Output is
    IDENTICAL to building the sketch from the concatenated raw data
    (exact mergeability, not approximate), at O(rows × k) cost that
    never touches the base table. This is also the canonical bottom-k
    fold: kmv_sample_sketch delegates its final phase here, so the
    tie-break order (h, then v) lives in exactly one place.

    Entries dedup on (group, h, v) — the hashed ROW IDENTITY — before
    ranking. This is what makes min-k idempotent under re-union
    (min-k(S ∪ S) = min-k(S)) and therefore what makes overlapping-shard
    merges and replayed folds safe: folding the same sketch in
    twice is a no-op instead of double-counting its rows (a multiset
    rank would keep both copies — round-7 review finding). The dedup is
    over ≤ k·n_sketch_rows entries, never base data.

    ``k`` travels WITH the sketch (a ``k`` column) so readers cannot
    misinterpret a table built at a different k (round-7 review: an
    estimate read at k=64 from a k=32 sketch would report a saturated
    group as "exactly 32 distinct"). ``k=None`` (the default) takes k
    from the column; passing both validates them against each other at
    execution time. Merging sketches built with DIFFERENT ks is invalid
    (min-k of min-k' is not min-k) and raises when detected per group.

    Round-8 advice fixes, both loud-error paths: (a) an empty/NULL
    ``sample`` array raises instead of silently vanishing —
    ``explode`` drops such rows, so a group whose every sketch row was
    empty would disappear from the merged output (kmv_sample_sketch
    never EMITS an empty sample — a groupBy has no empty groups — so
    one can only mean a corrupted/hand-built sketch table); (b) mixed-k
    detection moved BEFORE the (group, h, v) dedup — the dedup key
    excludes k, so when two sketches built at different k shared an
    entry, the surviving row's k was arbitrary and the later
    _kmin/_kmax check could be masked."""
    from pyspark.sql import Window

    has_k = "k" in sketches.columns
    if k is None and not has_k:
        raise ValueError(
            "kmv_merge: sketches carry no 'k' column — pass k explicitly"
        )
    k_cols = ["k"] if has_k else []
    guarded = sketches.withColumn(
        "sample",
        F.when(
            F.col("sample").isNull() | (F.size("sample") == 0),
            F.raise_error(
                F.lit("kmv_merge: empty/null sample array — corrupted sketch row")
            ),
        ).otherwise(F.col("sample")),
    )
    exploded = guarded.select(
        *group_cols, *k_cols, F.explode("sample").alias("e")
    ).select(
        *group_cols, *k_cols, F.col("e.h").alias("_h"), F.col("e.v").alias("_v")
    )
    if has_k:
        # per-group k-consistency check on the PRE-dedup entries: an
        # unbounded window over the same hash partitioning the rank
        # window below uses (the exchange is shared), over ≤ k·rows
        # entries — never base data
        wg = Window.partitionBy(*group_cols)
        exploded = exploded.withColumn(
            "k",
            F.when(
                F.min("k").over(wg) != F.max("k").over(wg),
                F.raise_error(F.lit("kmv_merge: mixed k values in one group")),
            ).otherwise(F.col("k")),
        )
    if has_k and k is not None:
        exploded = exploded.withColumn(
            "k",
            F.when(
                F.col("k") != k,
                F.raise_error(
                    F.concat(
                        F.lit("kmv_merge: sketch built with k="),
                        F.col("k").cast("string"),
                        F.lit(f" but k={k} requested"),
                    )
                ),
            ).otherwise(F.col("k")),
        )
    k_expr = F.lit(k) if k is not None else F.col("k")
    ranked = exploded.dropDuplicates([*group_cols, "_h", "_v"]).withColumn(
        "_rk",
        F.row_number().over(
            Window.partitionBy(*group_cols).orderBy("_h", "_v")
        ),
    )
    out = (
        ranked.filter(F.col("_rk") <= k_expr)
        .groupBy(*group_cols)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("_h").alias("h"), F.col("_v").alias("v")))
            ).alias("sample"),
            *(
                [F.min("k").alias("_kmin"), F.max("k").alias("_kmax")]
                if has_k
                else []
            ),
        )
    )
    if has_k:
        return out.select(
            *group_cols,
            "sample",
            F.when(
                F.col("_kmin") != F.col("_kmax"),
                F.raise_error(F.lit("kmv_merge: mixed k values in one group")),
            )
            .otherwise(F.col("_kmin"))
            .alias("k"),
        )
    return out.withColumn("k", F.lit(k))


def kmv_quantiles(
    sketches: DataFrame, group_cols: list[str], probs: list[float]
) -> DataFrame:
    """Read approximate quantiles off a bottom-k sketch: sort the
    sample's VALUES, take the floor(p·(n−1))-th — the classic
    nearest-rank-on-a-uniform-sample estimator. Emits one column per
    requested prob (``q25``-style names). Error ~ O(1/sqrt(k)) in rank
    space; k=64 → ~±6% rank error, enough for partition pruning and
    skew triage (the use cases that cannot afford an exact global
    sort). Pure array expressions — no explode, no shuffle."""
    names = [f"q{int(round(p * 100)):02d}" for p in probs]
    if len(set(names)) != len(names):
        raise ValueError(
            f"probs {probs} collide after percent rounding ({names}); "
            "quantile columns are named to whole percents"
        )
    vals = F.array_sort(F.transform("sample", lambda s: s["v"]))
    n = F.size(vals)
    out = sketches.select(*group_cols, vals.alias("_vals"), n.alias("_n"))
    for p, name in zip(probs, names):
        idx = F.floor(F.lit(p) * (F.col("_n") - 1)).cast("int")
        out = out.withColumn(name, F.col("_vals")[idx])
    return out.drop("_vals", "_n")


def kmv_distinct_estimate(
    sketches: DataFrame, group_cols: list[str], k: int | None = None
) -> DataFrame:
    """Distinct-VALUE estimate off a bottom-k sketch built over the value
    itself (``row_key_cols=[value_col]`` — then the hashed row identity
    IS the value, and :func:`kmv_merge`'s dedup makes the sample a SET
    of distinct values): the classic KMV estimator (k−1)/U_(k), where
    U_(k) is the k-th smallest hash mapped into (0, 1) (Bar-Yossef et
    al. 2002; Beyer et al. 2007 — the construction theta sketches
    generalize). Groups holding fewer than k sample entries are EXACT
    (the sample is the whole value set).

    Cross-engine determinism: the hash fraction uses the first 13 hex
    chars of the md5 (52 bits — both engines parse it to an exact
    integer and divide by 2^52, so the double arithmetic is bit-exact
    and the estimate value-oracles; 16 chars would round differently
    past the 53-bit mantissa). Relative error ~ 1/sqrt(k−2): k=64 →
    ~13%. Pure column expressions over the k-row sketch table — reading
    an estimate never touches base data, and sketches for any partition
    subset union first (kmv_merge) then estimate.

    ``k`` defaults to the sketch table's own ``k`` column (the safe
    path); an explicit mismatching k is validated at execution rather
    than silently reclassifying a saturated group as exact (round-7
    review)."""
    has_k = "k" in sketches.columns
    if k is None and not has_k:
        raise ValueError(
            "kmv_distinct_estimate: sketches carry no 'k' column — pass k"
        )
    if has_k and k is not None:
        sketches = sketches.withColumn(
            "k",
            F.when(
                F.col("k") != k,
                F.raise_error(
                    F.concat(
                        F.lit("kmv_distinct_estimate: sketch built with k="),
                        F.col("k").cast("string"),
                        F.lit(f" but k={k} requested"),
                    )
                ),
            ).otherwise(F.col("k")),
        )
    k_expr = F.col("k") if has_k else F.lit(k)
    u = (
        F.conv(F.substring(F.element_at("sample", -1)["h"], 1, 13), 16, 10)
        .cast("double")
        / F.lit(float(1 << 52))
    )
    n = F.size("sample")
    est = F.when(n < k_expr, n.cast("double")).otherwise(
        (k_expr - 1).cast("double") / u
    )
    return sketches.select(*group_cols, est.alias("distinct_est"))


def kmv_set_relations(
    sketches: DataFrame, group_col: str, k: int | None = None
) -> DataFrame:
    """Pairwise set-relation estimates between groups' bottom-k sketches
    → (group_a, group_b, union_est, inter_est, jaccard_est) for every
    group pair (a < b) — the theta-sketch set-operation idea (Dasgupta
    et al. 2016) on the engine's deterministic KMV construction.

    The estimators, all deterministic given the md5 order so the whole
    read value-oracles:

    - min-k(A ∪ B) = min-k(min-k(A) ∪ min-k(B)) EXACTLY (the
      mergeability law kmv_merge pins), so the union sketch comes from
      the two sample arrays alone;
    - ``union_est`` = the x15 estimator (k−1)/U_(k) on the union
      sketch — exact count when the union sketch holds < k entries
      (both inputs were complete);
    - ``jaccard_est`` = ρ/k_u where ρ counts union-sketch entries
      present in BOTH samples — within min-k of the union, membership
      in each side's sample is decidable exactly, so ρ/k_u is the
      standard KMV Jaccard estimator;
    - ``inter_est`` = jaccard_est · union_est (inclusion through the
      union estimate, the theta-sketch composition).

    Why this is a 100 TB operator: comparing two crawls for overlap
    costs two O(k)-row sketch reads and O(k) array math per pair —
    never a join of the corpora. Sketches build once per
    snapshot/partition (kmv_sample_sketch's two-phase shape), merge
    exactly, and answer every pairwise overlap question afterwards.
    The pair enumeration is over GROUPS (sources, snapshots) — a
    bounded dimension table, not data."""
    has_k = "k" in sketches.columns
    if k is None and not has_k:
        raise ValueError("kmv_set_relations: sketches carry no 'k' column — pass k")
    if has_k and k is not None:
        sketches = sketches.withColumn(
            "k",
            F.when(
                F.col("k") != k,
                F.raise_error(
                    F.concat(
                        F.lit("kmv_set_relations: sketch built with k="),
                        F.col("k").cast("string"),
                        F.lit(f" but k={k} requested"),
                    )
                ),
            ).otherwise(F.col("k")),
        )
    k_expr = F.col("_k") if has_k else F.lit(k)
    base_cols = [
        F.col(group_col),
        F.transform("sample", lambda s: s["h"]).alias("_hs"),
    ] + ([F.col("k").alias("_k")] if has_k else [])
    base = sketches.select(*base_cols)
    a = base.select(
        F.col(group_col).alias("group_a"),
        F.col("_hs").alias("_ha"),
        *([F.col("_k")] if has_k else []),
    )
    b = base.select(
        F.col(group_col).alias("group_b"), F.col("_hs").alias("_hb")
    )
    pairs = a.join(b, F.col("group_a") < F.col("group_b"))
    hu = F.slice(
        F.array_sort(F.array_union("_ha", "_hb")), 1, k_expr
    )
    paired = pairs.select(
        "group_a",
        "group_b",
        F.col("_ha"),
        F.col("_hb"),
        hu.alias("_hu"),
        *([F.col("_k")] if has_k else []),
    )
    k_u = F.size("_hu")
    rho = F.size(
        F.filter(
            "_hu",
            lambda h: F.array_contains(F.col("_ha"), h)
            & F.array_contains(F.col("_hb"), h),
        )
    )
    # the x15 hash-fraction discipline: first 13 hex chars (52 bits) so
    # the double arithmetic is bit-exact across engines
    u_frac = (
        F.conv(F.substring(F.element_at("_hu", -1), 1, 13), 16, 10).cast("double")
        / F.lit(float(1 << 52))
    )
    union_est = F.when(k_u < k_expr, k_u.cast("double")).otherwise(
        (k_expr - 1).cast("double") / u_frac
    )
    jaccard_est = rho.cast("double") / k_u.cast("double")
    return paired.select(
        "group_a",
        "group_b",
        union_est.alias("union_est"),
        (jaccard_est * union_est).alias("inter_est"),
        jaccard_est.alias("jaccard_est"),
    )


def cms_counters(
    df: DataFrame,
    value_col: str,
    depth: int = 4,
    width: int = 1024,
    salt: str = "cms",
) -> DataFrame:
    """Count-Min sketch counter table (Cormode & Muthukrishnan 2005) over
    a value stream → ``(row, col, cnt)``, depth·width counters. Each
    occurrence increments one counter per row via an independent md5
    bucket (``md5(salt#<row> || value)`` — the deterministic hash the
    KMV/HLL/classifier tiers already replay in SQL, so the whole sketch
    value-oracles; a production deployment would swap xxhash64 in, the
    d4/d4x twin pattern).

    Scale shape — the reason CMS exists at 100 TB: the value stream
    never groups per-key. Each occurrence expands to ``depth`` (row,
    col) pairs and aggregates into ``depth·width`` groups (4096 at the
    defaults) with map-side partial combine, so the ONLY exchange
    carries ≤ depth·width rows per partition regardless of key
    cardinality — heavy-hitter estimation over a trillion-key stream
    shuffles kilobytes."""
    from fhir_etl_spark.operators.datasets import hash_bucket

    pairs = []
    for r in range(depth):
        bucket = hash_bucket(F.col("_v"), salt=f"{salt}#{r}", n_buckets=width)
        pairs.append(F.struct(F.lit(r).alias("row"), bucket.alias("col")))
    return (
        df.select(F.col(value_col).cast("string").alias("_v"))
        .select(F.explode(F.array(*pairs)).alias("_p"))
        .groupBy(
            F.col("_p.row").alias("row"), F.col("_p.col").alias("col")
        )
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def cms_point_query(
    counters: DataFrame,
    probes: DataFrame,
    probe_col: str = "term",
    depth: int = 4,
    width: int = 1024,
    salt: str = "cms",
) -> DataFrame:
    """Point-query the CMS counter table for each probe value →
    ``(probe_col, cms_estimate)`` where the estimate is the MIN over the
    ``depth`` addressed counters (the CMS guarantee: estimate ≥ true,
    overcount bounded by collisions). The counter table is ≤ depth·width
    rows — it broadcasts; probes never shuffle."""
    from fhir_etl_spark.operators.datasets import hash_bucket

    rows = []
    for r in range(depth):
        bucket = hash_bucket(
            F.col(probe_col), salt=f"{salt}#{r}", n_buckets=width
        )
        rows.append(F.struct(F.lit(r).alias("row"), bucket.alias("col")))
    addressed = probes.select(
        probe_col, F.explode(F.array(*rows)).alias("_a")
    ).select(probe_col, F.col("_a.row").alias("row"), F.col("_a.col").alias("col"))
    return (
        addressed.join(F.broadcast(counters), ["row", "col"], "left")
        .groupBy(probe_col)
        .agg(F.min(F.coalesce("cnt", F.lit(0).cast("long"))).alias("cms_estimate"))
    )
