"""Order-dependent time-series recurrences (EWMA) as pure DataFrame plans.

An exponentially-weighted moving average is the canonical op that Spark's
built-in window frames CANNOT express: ``s_i = a*x_i + (1-a)*s_{i-1}`` is a
linear recurrence over the event order, and every built-in frame aggregate
(avg/sum/min over ROWS BETWEEN) is order-insensitive within its frame. The
reference family covers it with imperative per-row loops; the Spark-first
form used here is the sorted-array left fold:

    groupBy(key) -> array_sort(collect_list(struct(order..., value, ...)))
                 -> F.aggregate left fold emitting the running state array
                 -> posexplode back to rows

which is ONE shuffle (the groupBy) and zero Python — the fold compiles to
Catalyst expressions. The same shape backs the ds5 sequence-packing state
machine (operators/packing.py).

Exactness contract (what lets the driver value-oracle w9): the fold is a
FIXED left-to-right association — identical to a recursive-CTE replay row
by row — and each step is exactly two IEEE-754 multiplies and one add,
``a*x + (1-a)*s``, with no reassociation for either engine to disagree on.
With ``alpha`` chosen exactly representable in binary (0.25 here; any
k/2^n works), Spark and DuckDB produce bit-identical doubles at every
step, so NO rounding is needed before hashing. Contrast w8's rolling
z-score, which rounds to 4 dp because avg/stddev sum in engine-chosen
order.

Scale shape (100 TB): the one shuffle moves each key's rows to one task;
per-key state arrays live in executor memory, so the operator assumes
BOUNDED series per key (sessions, device streams). Unbounded keys want
a date-bucketed key. The fold's array-concat accumulator is O(n^2)
copies per key in the worst case — fine at session scale (<= ~10^4
rows/key), and still JVM-side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def ewma(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    value_col: str,
    alpha: float,
    out_col: str = "ewma",
) -> DataFrame:
    """Per-key EWMA of ``value_col`` over ``order_cols`` order.

    ``s_0 = x_0``; ``s_i = alpha*x_i + (1-alpha)*s_{i-1}``. Rows where the
    value is NULL are rejected loudly (a NULL would poison every later
    state in its key; callers choose to filter or impute first — silently
    doing either here would be a wrong answer someone has to debug).

    Output: the input's key/order/value columns plus ``out_col``. Order
    within a key is ``order_cols`` ascending with the value as the final
    struct tie-break; callers should pass a unique order key (e.g.
    ``[ts, event_id]``) so the fold order — and therefore every EWMA
    value — is total and reproducible.
    """
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"ewma: alpha must be in (0, 1], got {alpha}")
    beta = 1.0 - alpha  # exact when alpha is a small dyadic (0.25 -> 0.75)

    guarded_v = F.when(
        F.col(value_col).isNull(),
        F.raise_error(
            F.lit(
                f"ewma: NULL in value column {value_col!r} — a NULL would "
                "poison every subsequent state in its key; filter or impute "
                "upstream"
            )
        ),
    ).otherwise(F.col(value_col).cast("double"))

    row = F.struct(
        *[F.col(c).alias(c) for c in order_cols],
        guarded_v.alias("__v"),
    )

    def step(acc: Column, x: Column) -> Column:
        nxt = F.when(F.size(acc) == 0, x["__v"]).otherwise(
            F.lit(alpha) * x["__v"] + F.lit(beta) * F.element_at(acc, -1)
        )
        return F.concat(acc, F.array(nxt))

    grouped = (
        df.groupBy(*key_cols)
        .agg(F.array_sort(F.collect_list(row)).alias("__rows"))
        .withColumn(
            "__states",
            F.aggregate(
                "__rows", F.expr("CAST(array() AS array<double>)"), step
            ),
        )
    )
    z = F.posexplode(F.arrays_zip("__rows", "__states")).alias("__i", "__z")
    return grouped.select(*key_cols, z).select(
        *key_cols,
        *[F.col(f"__z.__rows.{c}").alias(c) for c in order_cols],
        F.col("__z.__rows.__v").alias(value_col),
        F.col("__z.__states").alias(out_col),
    )


def holt_smoothing(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    value_col: str,
    alpha: float,
    beta: float,
) -> DataFrame:
    """Per-key Holt double-exponential smoothing (level + trend — Holt
    1957, the standard trend-aware upgrade of :func:`ewma`):

    - ``l_0 = x_0``, ``b_0 = 0``
    - ``l_i = alpha*x_i + (1-alpha)*(l_{i-1} + b_{i-1})``
    - ``b_i = beta*(l_i - l_{i-1}) + (1-beta)*b_{i-1}``

    Output adds ``level``, ``trend``, and ``forecast`` (= level + trend,
    the one-step-ahead prediction) to the key/order/value columns.

    Exactness contract (same as ewma's, extended to a 2-double state):
    with ``alpha`` and ``beta`` dyadic, every step is a fixed sequence
    of IEEE multiplies/adds with no reassociation freedom — `a*x +
    c*(l+b)` parses as add(mul, mul) in both Spark and DuckDB — so the
    recursive-CTE oracle replays each (level, trend) pair bit-exactly,
    no rounding before hashing.

    Scale shape: identical to ewma — one groupBy shuffle, per-key
    sorted-array fold in executor memory (bounded series per key), zero
    Python. NULL values are rejected loudly for the same
    state-poisoning reason.
    """
    for name, p in (("alpha", alpha), ("beta", beta)):
        if not 0.0 < p <= 1.0:
            raise ValueError(f"holt_smoothing: {name} must be in (0, 1], got {p}")

    guarded_v = F.when(
        F.col(value_col).isNull(),
        F.raise_error(
            F.lit(
                f"holt_smoothing: NULL in value column {value_col!r} — a NULL "
                "would poison every subsequent state in its key; filter or "
                "impute upstream"
            )
        ),
    ).otherwise(F.col(value_col).cast("double"))

    row = F.struct(
        *[F.col(c).alias(c) for c in order_cols],
        guarded_v.alias("__v"),
    )

    def step(acc: Column, x: Column) -> Column:
        prev = F.element_at(acc, -1)
        lvl = F.when(F.size(acc) == 0, x["__v"]).otherwise(
            F.lit(alpha) * x["__v"]
            + F.lit(1.0 - alpha) * (prev["__l"] + prev["__b"])
        )
        trd = F.when(F.size(acc) == 0, F.lit(0.0)).otherwise(
            F.lit(beta) * (lvl - prev["__l"]) + F.lit(1.0 - beta) * prev["__b"]
        )
        return F.concat(
            acc, F.array(F.struct(lvl.alias("__l"), trd.alias("__b")))
        )

    grouped = (
        df.groupBy(*key_cols)
        .agg(F.array_sort(F.collect_list(row)).alias("__rows"))
        .withColumn(
            "__states",
            F.aggregate(
                "__rows",
                F.expr("CAST(array() AS array<struct<__l:double,__b:double>>)"),
                step,
            ),
        )
    )
    z = F.posexplode(F.arrays_zip("__rows", "__states")).alias("__i", "__z")
    return grouped.select(*key_cols, z).select(
        *key_cols,
        *[F.col(f"__z.__rows.{c}").alias(c) for c in order_cols],
        F.col("__z.__rows.__v").alias(value_col),
        F.col("__z.__states.__l").alias("level"),
        F.col("__z.__states.__b").alias("trend"),
        (F.col("__z.__states.__l") + F.col("__z.__states.__b")).alias("forecast"),
    )


def ols_trend(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    value_col: str,
    value_scale: int = 100,
) -> DataFrame:
    """Per-key ordinary-least-squares trend fit in EXACT integer micro
    units: x = the rank within the key (1..n over ``order_cols``), y =
    ``round(value × value_scale)`` (centi-units by default — exact for
    2-dp data), and the closed-form estimators

    - ``slope_micro   = (n·Σxy − Σx·Σy) · 10⁶ DIV (n·Σx² − (Σx)²)``
    - ``intercept_micro = (Σy·10⁶ − slope_micro·Σx) DIV n``

    computed entirely from BIGINT sums, so both numbers are bit-exact on
    any engine and any partitioning (integer DIV truncates toward zero
    identically in Spark and DuckDB — verified on negatives). The y
    scaling means slope_micro is "micro-y-units per step" where one
    y-unit = 1/value_scale of the raw value.

    Keys with fewer than 2 rows are dropped (the denominator
    ``n·Σx² − (Σx)²`` is 0 exactly then — x ranks are distinct, so it is
    strictly positive for every kept key; no divide-by-zero path
    exists). Plan: one rank window + one groupBy per key — two shuffles
    on the same key, no Python, no floats until the caller divides.

    Output: key_cols + (n, slope_micro, intercept_micro).
    """
    if value_scale <= 0:
        raise ValueError("ols_trend: value_scale must be positive")
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    ranked = df.select(
        *key_cols,
        F.row_number().over(w).cast("long").alias("_x"),
        F.round(F.col(value_col) * F.lit(value_scale), 0).cast("long").alias("_y"),
    )
    sums = ranked.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
    ).filter(F.col("n") >= 2)
    return sums.selectExpr(
        *key_cols,
        "n",
        "_sx",
        "_sy",
        "((n * _sxy - _sx * _sy) * CAST(1000000 AS BIGINT)) "
        "DIV (n * _sxx - _sx * _sx) AS slope_micro",
    ).selectExpr(
        *key_cols,
        "n",
        "slope_micro",
        "(_sy * CAST(1000000 AS BIGINT) - slope_micro * _sx) DIV n "
        "AS intercept_micro",
    )
