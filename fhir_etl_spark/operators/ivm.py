"""Incremental view maintenance (IVM) for additive aggregates: keep a
grouped count/sum view current by folding in a CDC changeset instead of
recomputing over the base table.

The classic warehouse pattern (and what Materialize/Flink SQL do
continuously): for SELF-MAINTAINABLE aggregates — count, sum, and
anything derivable from them (avg = sum/count) — a changeset row
contributes signed deltas: insert → (+1, +value) to its group, delete →
(−1, −value) to its group, update → a value delta, or, when the UPDATE
MOVES THE ROW BETWEEN GROUPS (the group-key column changed), a
(−1, −old_value) to the old group plus (+1, +new_value) to the new one.
Folding the per-group delta into the old state is one aggregation over
the (tiny) changeset plus one key-partitioned full-outer merge with the
old view; the 100 TB base table is never re-read. min/max are NOT
self-maintainable under deletes (a delete of the current max needs the
base table) and are deliberately out of scope.

Composes with the engine's CDC extractor: ``merge.snapshot_diff`` with
the group-key column included in ``compare_cols`` produces exactly the
(op, old_*, new_*) changeset shape consumed here — snapshot in,
incremental view update out, no full recompute anywhere. Exactness: do
the value arithmetic in DECIMAL (cast before building the view) when
the incremental path must be bit-identical to a recompute — float
addition order differs between the two.

Reference parity: the reference recomputes everything per run; this is a
north-star extension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def build_agg_view(base: DataFrame, keys: list[str], value_col: str) -> DataFrame:
    """The full-recompute twin: (keys..., n_rows, n_vals, sum_value) —
    used to initialize the view and as the equivalence oracle for the
    incremental path. ``n_vals`` (non-NULL value count) is maintained
    state, not just a convenience: it is what lets the fold reproduce
    SQL's NULL-sum semantics — a group whose values are all NULL has
    sum_value NULL, and only n_vals can tell that apart from a
    sums-to-zero group."""
    return base.groupBy(*keys).agg(
        F.count("*").alias("n_rows"),
        F.count(value_col).alias("n_vals"),
        F.sum(value_col).alias("sum_value"),
    )


def incremental_agg_update(
    view: DataFrame,
    changeset: DataFrame,
    keys: list[str],
    value_col: str,
) -> DataFrame:
    """Updated (keys..., n_rows, n_vals, sum_value) view from the old
    view and a snapshot_diff-shaped changeset carrying ``op`` plus
    ``old_<c>`` / ``new_<c>`` for every group key and for ``value_col``.
    Groups whose row count reaches zero disappear — exactly what a
    recompute over the new snapshot would produce.

    NULL semantics match SQL aggregation exactly (pinned by the unit
    test's recompute comparison): NULL values contribute 0 to the folded
    sum but are tracked via ``n_vals``, so a group whose remaining
    values are all NULL reports ``sum_value`` NULL, not 0; NULL GROUP
    KEYS form a real group — the view/delta merge is a null-safe
    (eqNullSafe) full-outer join, a plain column-equality join would
    duplicate the NULL-key group instead of folding it.

    Each changeset row explodes into at most two signed (group, d_rows,
    d_vals, d_sum) contributions (two only when an update moved the row
    between groups); one aggregation over the exploded deltas + one
    null-safe full-outer merge on the group keys. AQE broadcasts the
    folded delta when small (the usual case — a day's changes touch few
    groups).
    """
    old_v, new_v = f"old_{value_col}", f"new_{value_col}"
    need = ["op", old_v, new_v] + [f"{p}_{k}" for k in keys for p in ("old", "new")]
    missing = [c for c in need if c not in changeset.columns]
    if missing:
        raise ValueError(f"changeset is missing columns {missing}")
    sum_type = dict(view.dtypes)["sum_value"]
    zero = F.lit(0).cast(sum_type)

    def contrib(prefix: str, d_rows: int, sign: int):
        v = F.col(f"{prefix}_{value_col}")
        return F.struct(
            *[F.col(f"{prefix}_{k}").alias(k) for k in keys],
            F.lit(d_rows).alias("d_rows"),
            (F.lit(sign) * v.isNotNull().cast("int")).alias("d_vals"),
            (F.lit(sign) * F.coalesce(v, zero)).alias("d_sum"),
        )

    key_moved = F.lit(False)
    for k in keys:
        key_moved = key_moved | ~F.col(f"old_{k}").eqNullSafe(F.col(f"new_{k}"))
    # A malformed op in a hand-built changeset must fail loudly, not fall
    # through to the update branch and silently corrupt the view (ADVICE
    # r06). raise_error fires at execution time inside the scan — no extra
    # validation action/shuffle; NullType coerces into the branch type.
    bad_op = F.col("op").isNull() | ~F.col("op").isin("insert", "delete", "update")
    contribs = (
        F.when(
            bad_op,
            F.raise_error(
                F.concat(
                    F.lit("incremental_agg_update: unknown op '"),
                    F.coalesce(F.col("op"), F.lit("NULL")),
                    F.lit("' (expected insert/delete/update)"),
                )
            ),
        )
        .when(F.col("op") == "insert", F.array(contrib("new", 1, 1)))
        .when(F.col("op") == "delete", F.array(contrib("old", -1, -1)))
        .when(key_moved, F.array(contrib("old", -1, -1), contrib("new", 1, 1)))
        .otherwise(
            F.array(
                F.struct(
                    *[F.col(f"new_{k}").alias(k) for k in keys],
                    F.lit(0).alias("d_rows"),
                    (
                        F.col(new_v).isNotNull().cast("int")
                        - F.col(old_v).isNotNull().cast("int")
                    ).alias("d_vals"),
                    (F.coalesce(F.col(new_v), zero) - F.coalesce(F.col(old_v), zero))
                    .alias("d_sum"),
                )
            )
        )
    )
    delta = (
        changeset.select(F.explode(contribs).alias("c"))
        .select("c.*")
        .groupBy(*keys)
        .agg(
            F.sum("d_rows").alias("_d_rows"),
            F.sum("d_vals").alias("_d_vals"),
            F.sum("d_sum").alias("_d_sum"),
        )
    )
    v_side = view.alias("_v")
    d_side = delta.alias("_d")
    cond = None
    for k in keys:
        eq = F.col(f"_v.{k}").eqNullSafe(F.col(f"_d.{k}"))
        cond = eq if cond is None else (cond & eq)
    n_rows = F.coalesce("_v.n_rows", F.lit(0)) + F.coalesce("_d._d_rows", F.lit(0))
    n_vals = F.coalesce("_v.n_vals", F.lit(0)) + F.coalesce("_d._d_vals", F.lit(0))
    folded = F.coalesce("_v.sum_value", zero) + F.coalesce("_d._d_sum", zero)
    merged = v_side.join(d_side, cond, "full_outer").select(
        *[
            F.coalesce(F.col(f"_v.{k}"), F.col(f"_d.{k}")).alias(k)
            for k in keys
        ],
        n_rows.alias("n_rows"),
        n_vals.alias("n_vals"),
        # an all-NULL-valued group has sum NULL under SQL semantics
        F.when(n_vals > 0, folded).otherwise(F.lit(None).cast(sum_type)).alias(
            "sum_value"
        ),
    )
    return merged.where(F.col("n_rows") > 0)
