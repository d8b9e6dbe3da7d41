"""Declarative data-quality constraint checking (the deequ/expectations
concept, Catalyst-native): a suite of table-level constraints evaluated in
ONE aggregation pass over the data, returning a tidy result table
(check_name, observed, lo, hi, status).

Why one pass matters at 100 TB: each constraint is an aggregate
expression (a completeness ratio, a distinct ratio, a min/max, a
conformance fraction), and Spark evaluates any number of them in a single
whole-stage-codegen scan with map-side partial aggregation — checking 50
constraints costs the same scan as checking one. The alternative most
validation frameworks default to (one query per check) re-reads the table
per constraint.

The result explode is plan-side too: the 1-row aggregate becomes N
constraint rows via an inline array — no driver collect, so the checker
composes into larger plans (e.g. gate a write on `status = 'fail'` rows).

Builders cover the standard constraint vocabulary:
- completeness(col)            — fraction non-null
- uniqueness(col)              — distinct / total (1.0 ⇔ key candidate)
- col_min(col)                 — numeric lower bound
- in_set_fraction(col, vals)   — domain conformance
- matches_fraction(col, re)    — pattern conformance (RE must be a
  Java/RE2-agreeing subset if an external oracle replays it)
- row_count()                  — table size bounds

Reference parity: the reference validates row dicts in Python per-record
(validate.py tier); this is the distributed, single-scan generalization.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

Check = tuple[str, Column, float | None, float | None]


def completeness(col: str) -> Column:
    return F.avg(F.col(col).isNotNull().cast("double"))


def uniqueness(col: str) -> Column:
    return F.count_distinct(F.col(col)).cast("double") / F.count(F.lit(1))


def col_min(col: str) -> Column:
    return F.min(F.col(col)).cast("double")


def in_set_fraction(col: str, values: Sequence[str]) -> Column:
    # NULL counts as NON-conforming (coalesce to false) — without it,
    # `isin` returns NULL for NULL input, F.avg skips the row, and a
    # 99%-NULL column would score 1.0 domain conformance
    return F.avg(
        F.coalesce(F.col(col).isin(list(values)), F.lit(False)).cast("double")
    )


def matches_fraction(col: str, pattern: str) -> Column:
    # NULL counts as NON-conforming, as in in_set_fraction
    return F.avg(
        F.coalesce(F.col(col).rlike(pattern), F.lit(False)).cast("double")
    )


def row_count() -> Column:
    return F.count(F.lit(1)).cast("double")


def check_constraints(df: DataFrame, checks: Sequence[Check]) -> DataFrame:
    """Evaluate ``checks`` = [(name, aggregate Column, lo, hi)] in one
    aggregation pass → (check_name, observed, lo, hi, status) with
    status = 'pass' iff lo ≤ observed ≤ hi (None bound = unbounded;
    a NULL observation — e.g. min of an all-null column — fails).

    The pass/fail comparison uses the RAW (unrounded) observation — a
    single duplicated key in 10M rows makes uniqueness 0.9999999, which
    must fail a strict ==1.0 constraint even though it ROUNDS to 1.0.
    The reported ``observed`` column is rounded to 6 decimals only for
    display/replay stability.
    """
    if not checks:
        raise ValueError("check_constraints needs at least one check")
    names = [c[0] for c in checks]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate check names: {names}")
    row = df.agg(
        *[obs.cast("double").alias(name) for name, obs, _, _ in checks]
    )
    entries = F.array(
        *[
            F.struct(
                F.lit(name).alias("check_name"),
                F.col(name).alias("raw"),
                F.lit(lo).cast("double").alias("lo"),
                F.lit(hi).cast("double").alias("hi"),
            )
            for name, _, lo, hi in checks
        ]
    )
    ok = F.col("c.raw").isNotNull()
    ok = ok & ((F.col("c.lo").isNull()) | (F.col("c.raw") >= F.col("c.lo")))
    ok = ok & ((F.col("c.hi").isNull()) | (F.col("c.raw") <= F.col("c.hi")))
    return (
        row.select(F.explode(entries).alias("c"))
        .select(
            "c.check_name",
            F.round(F.col("c.raw"), 6).alias("observed"),
            "c.lo",
            "c.hi",
            F.when(ok, F.lit("pass")).otherwise(F.lit("fail")).alias("status"),
        )
    )


def drift_psi(
    baseline: DataFrame,
    current: DataFrame,
    col: str,
    lo: float,
    hi: float,
    n_buckets: int = 10,
    epsilon: float = 1e-6,
) -> DataFrame:
    """Population Stability Index between two samples of a numeric
    column — THE production dataset-shift monitor (credit-scoring
    heritage, now standard ML-ops): equi-width-bucket both samples over
    a FIXED [lo, hi) range (fixed, so two runs are comparable and the
    plan needs no quantile pass), laplace-smooth the shares with
    ``epsilon``, and report per-bucket contributions plus the total.

    Output: one row per bucket (bucket, p_base, p_cur, psi_term; -1 =
    underflow, n_buckets = overflow) plus a TOTAL row (bucket = NULL)
    with the summed PSI. Rule of thumb: < 0.1
    stable, 0.1–0.25 moderate shift, > 0.25 investigate.

    Scale shape: one codegen scan + one tiny groupBy per side (bucket
    keys ≤ n_buckets + 2 for the under/overflow buckets), a broadcast-
    sized join of the two histograms, arithmetic. Values are rounded to
    6 decimals so the report is partitioning-stable and replayable.
    """
    if hi <= lo:
        raise ValueError(f"need lo < hi, got [{lo}, {hi})")
    width = (hi - lo) / n_buckets

    def bucketed(df: DataFrame, share_name: str) -> DataFrame:
        b = F.floor((F.col(col) - lo) / width).cast("int")
        b = (
            F.when(F.col(col) < lo, F.lit(-1))
            .when(F.col(col) >= hi, F.lit(n_buckets))
            .otherwise(b)
        )
        counts = df.where(F.col(col).isNotNull()).groupBy(b.alias("bucket")).agg(
            F.count("*").alias("_n")
        )
        stats = counts.agg(F.sum("_n").alias("_total"))  # 1-row scalar
        return counts.join(F.broadcast(stats)).select(
            "bucket", (F.col("_n") / F.col("_total")).alias(share_name)
        )

    p = bucketed(baseline, "_p")
    q = bucketed(current, "_q")
    joined = p.join(q, "bucket", "full_outer").select(
        "bucket",
        (F.coalesce("_p", F.lit(0.0)) + epsilon).alias("_p"),
        (F.coalesce("_q", F.lit(0.0)) + epsilon).alias("_q"),
    )
    terms = joined.select(
        "bucket",
        F.round("_p", 6).alias("p_base"),
        F.round("_q", 6).alias("p_cur"),
        F.round(
            (F.col("_q") - F.col("_p")) * F.log(F.col("_q") / F.col("_p")), 6
        ).alias("psi_term"),
    )
    total_row = terms.agg(
        F.lit(None).cast("int").alias("bucket"),
        F.lit(None).cast("double").alias("p_base"),
        F.lit(None).cast("double").alias("p_cur"),
        F.round(F.sum("psi_term"), 6).alias("psi_term"),
    )
    return terms.unionByName(total_row)


def referential_integrity(
    edges: Sequence[tuple[str, DataFrame, str, DataFrame, str]],
) -> DataFrame:
    """Cross-table foreign-key audit: for each edge ``(name, child,
    fk_col, parent, pk_col)`` report how many child rows point at a
    parent key that does not exist — the constraint a warehouse cannot
    declare-and-enforce at 100 TB and therefore has to AUDIT (the dq1
    single-table checks' cross-table sibling).

    Per edge: total child rows, rows with a NULL FK (counted separately
    — a NULL is "no reference", not a dangling one), orphan rows
    (non-null FK with no matching parent), and distinct orphan keys.
    Orphans come from one left-anti join per edge on the key — Catalyst
    broadcasts small parents and sort-merges large ones, and AQE
    re-plans at runtime; the per-edge outputs are 1-row aggregates
    unioned together, so the result is |edges| rows regardless of scale.
    """
    if not edges:
        raise ValueError("referential_integrity: need at least one edge")
    out: DataFrame | None = None
    for name, child, fk_col, parent, pk_col in edges:
        base = child.select(F.col(fk_col).alias("_fk"))
        keys = parent.select(F.col(pk_col).alias("_pk")).distinct()
        # ONE pass per edge: a left join against the de-duplicated key
        # set classifies every child row (matched / orphan / null-FK) in
        # the same scan that counts them — the first cut ran a totals
        # aggregate AND a separate anti-join aggregate, scanning each
        # child table twice
        orphan_fk = F.when(
            F.col("_fk").isNotNull() & F.col("_pk").isNull(), F.col("_fk")
        )
        stats = (
            base.join(keys, F.col("_fk") == F.col("_pk"), "left")
            .agg(
                F.count(F.lit(1)).alias("child_rows"),
                F.count(F.when(F.col("_fk").isNull(), 1)).alias("null_fk_rows"),
                F.count(orphan_fk).alias("orphan_rows"),
                F.countDistinct(orphan_fk).alias("orphan_keys"),
            )
            .select(
                F.lit(name).alias("edge"),
                "child_rows",
                "null_fk_rows",
                "orphan_rows",
                "orphan_keys",
            )
        )
        out = stats if out is None else out.unionByName(stats)
    return out
