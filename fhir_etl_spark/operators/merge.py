"""Generic MERGE INTO as a pure DataFrame operator.

The reference's only merge is file-level insert-or-update by id
(`create_or_extend`, utils.py:101-135); SCD2 history merge lives in
operators/scd.py; Delta `MERGE INTO` needs jars the engine does not
ship. This operator is the engine-native three-way merge the others
specialize:

    WHEN MATCHED [AND cond] THEN UPDATE | DELETE
    WHEN NOT MATCHED THEN INSERT

as one full-outer join + per-row CASE — a single shuffle on the key
(or zero with both sides bucketed on the key, sinks/bucketed.py), fully
deterministic, and ANSI-expressible so the driver can value-check it.

Scale shape: the join is key-partitioned (AQE may broadcast a small
source); no window, no collect. Rewriting only touched partitions is a
table-format concern (Delta/Iceberg) — this operator computes the merged
RESULT, the sink decides placement.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def merge_into(
    target: DataFrame,
    source: DataFrame,
    on: str,
    update_when_matched: bool = True,
    delete_condition: Column | None = None,
    insert_when_not_matched: bool = True,
    validate_unique_source_keys: bool = False,
) -> DataFrame:
    """Merge ``source`` into ``target`` by key ``on``; both sides must
    share the schema. Row fate:

    - key in both: when ``delete_condition`` (a Column over SOURCE
      columns, evaluated per source row) holds, the row is dropped; else
      the source row replaces the target's when ``update_when_matched``,
      else the target row stays.
    - source-only: inserted when ``insert_when_not_matched`` (a
      source-only row whose delete_condition holds is never inserted).
    - target-only: kept unchanged.

    PRECONDITION: ``on`` must be unique within ``source`` (and within
    ``target``, as for any keyed table). A duplicated source key would
    multiply matched target rows through the full-outer join — the
    situation SQL MERGE and Delta abort on. ``validate_unique_source_keys``
    enforces it in-plan: a per-key window count + ``assert_true`` fails
    the job on the first duplicate (one extra shuffle on the merge key,
    co-partitioned with the join's own — opt-in for when the source
    isn't trusted).
    """
    cols = target.columns
    if set(cols) != set(source.columns):
        raise ValueError(f"schema mismatch: {cols} vs {source.columns}")

    if validate_unique_source_keys:
        from pyspark.sql import Window

        # assert_true returns NULL when the predicate holds, so the filter
        # keeps every row — but Catalyst cannot prune it, and any
        # duplicate key raises at execution time (Delta's
        # "multiple source rows matched" error, reproduced engine-side).
        n_per_key = F.count(F.lit(1)).over(Window.partitionBy(on))
        source = (
            source.withColumn("_n_per_key", n_per_key)
            .filter(
                F.assert_true(
                    F.col("_n_per_key") == 1,
                    F.lit(f"merge_into: duplicate source rows for key '{on}'"),
                ).isNull()
            )
            .drop("_n_per_key")
        )

    delete_flag = (
        delete_condition if delete_condition is not None else F.lit(False)
    )
    t = target.select(F.col(on).alias("_tk"), F.struct(*cols).alias("_t"))
    s = source.select(
        F.col(on).alias("_sk"),
        F.struct(*cols).alias("_s"),
        F.coalesce(delete_flag, F.lit(False)).alias("_del"),
    )
    joined = t.join(s, t["_tk"] == s["_sk"], "full_outer")

    matched = F.col("_tk").isNotNull() & F.col("_sk").isNotNull()
    source_only = F.col("_sk").isNotNull() & F.col("_tk").isNull()

    drop_matched = matched & F.col("_del")
    insert_row = source_only & F.lit(insert_when_not_matched) & ~F.col("_del")
    keep = (F.col("_tk").isNotNull() & ~drop_matched) | insert_row

    take_source = F.col("_sk").isNotNull() & (
        source_only | F.lit(update_when_matched)
    )
    return (
        joined.filter(keep)
        .select(
            F.when(take_source, F.col("_s")).otherwise(F.col("_t")).alias("_r")
        )
        .select("_r.*")
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    on: str | list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """CDC changeset between two snapshots of the same keyed table →
    key column(s) + ``op`` ('insert' | 'update' | 'delete') + the old/new
    value of every compared column (``old_<c>`` / ``new_<c>``).
    Unchanged rows are dropped — the changeset is the (usually tiny)
    delta, not the table.

    The inverse of merge_into: merge applies a changeset, snapshot_diff
    recovers one — feed its output to a downstream MERGE / SCD2 build to
    replicate a table you can only observe by full snapshot (the classic
    ELT situation: a vendor dump lands daily, you want an incremental
    feed). One full-outer join on the key, null-safe (<=>) per-column
    comparison, no window, no collect; AQE broadcasts a small side.
    """
    keys = [on] if isinstance(on, str) else list(on)
    if compare_cols is None:
        compare_cols = [c for c in old.columns if c not in keys]
    missing = [c for c in compare_cols + keys if c not in new.columns]
    if missing:
        raise ValueError(f"columns absent from new snapshot: {missing}")
    # Symmetric guard (ADVICE r06): explicit compare_cols/keys absent from
    # OLD would otherwise surface as an opaque unresolved-column
    # AnalysisException deep in the plan instead of this clear error.
    missing_old = [c for c in compare_cols + keys if c not in old.columns]
    if missing_old:
        raise ValueError(f"columns absent from old snapshot: {missing_old}")

    o = old.select(
        *[F.col(k).alias(f"_ok_{k}") for k in keys],
        *[F.col(c).alias(f"old_{c}") for c in compare_cols],
        F.lit(True).alias("_in_old"),
    )
    n = new.select(
        *[F.col(k).alias(f"_nk_{k}") for k in keys],
        *[F.col(c).alias(f"new_{c}") for c in compare_cols],
        F.lit(True).alias("_in_new"),
    )
    cond = None
    for k in keys:
        eq = F.col(f"_ok_{k}").eqNullSafe(F.col(f"_nk_{k}"))
        cond = eq if cond is None else (cond & eq)
    joined = o.join(n, cond, "full_outer")

    changed = F.lit(False)
    for c in compare_cols:
        changed = changed | ~F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}"))
    op = (
        F.when(F.col("_in_old").isNull(), F.lit("insert"))
        .when(F.col("_in_new").isNull(), F.lit("delete"))
        .when(changed, F.lit("update"))
    )
    return (
        joined.withColumn("op", op)
        .where(F.col("op").isNotNull())
        .select(
            *[
                F.coalesce(F.col(f"_ok_{k}"), F.col(f"_nk_{k}")).alias(k)
                for k in keys
            ],
            "op",
            *[F.col(f"old_{c}") for c in compare_cols],
            *[F.col(f"new_{c}") for c in compare_cols],
        )
    )
