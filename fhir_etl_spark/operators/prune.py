"""Empty-pruning expression compiler (SURVEY.md §2.9 N1).

The reference's ``remove_empty_dicts`` (utils.py:138-161) recursively drops
empty dicts/lists/strings at any depth (keeping 0/False), and turns an
empty list into None. Dynamic recursion over dict shapes becomes, here, a
schema-driven expression generator: given a DataFrame column's StructType
we emit ONE nested expression that nulls out empties bottom-up. The JSON
sink then drops nulls (``ignoreNullFields``), completing the semantics.

Rules (matching the reference's truth table exactly):
- '' (empty string)      → NULL   (v or v == 0 is False for '')
- 0 / 0.0 / False        → kept   (the `or v == 0` arm; False == 0 in Python)
- [] after pruning       → NULL   (empty list → None, utils.py:158)
- struct with all fields NULL after pruning → NULL (empty dict dropped)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _is_empty(col: Column, dtype: T.DataType) -> Column:
    """True exactly where :func:`_prune` returns NULL; never NULL itself.
    Its size is linear in the subtree, and :func:`_prune` builds each child
    once besides it, so the pruned expression is O(fields × depth) rather
    than doubling at every nesting level."""
    if isinstance(dtype, T.StringType):
        return col.isNull() | (col == "")
    if isinstance(dtype, T.ArrayType):
        # forall over [] is true: a list of only empties prunes to None
        return col.isNull() | F.forall(col, lambda x: _is_empty(x, dtype.elementType))
    if isinstance(dtype, T.StructType):
        all_empty = None
        for f in dtype.fields:
            field_empty = _is_empty(col.getField(f.name), f.dataType)
            all_empty = field_empty if all_empty is None else (all_empty & field_empty)
        return col.isNull() | all_empty
    return col.isNull()


def _prune(col: Column, dtype: T.DataType) -> Column:
    if isinstance(dtype, T.StringType):
        return F.when(col != "", col)  # '' and NULL both → NULL
    if isinstance(dtype, T.ArrayType):
        pruned_elems = F.filter(
            F.transform(col, lambda x: _prune(x, dtype.elementType)),
            lambda x: x.isNotNull(),
        )
        return F.when(~_is_empty(col, dtype), pruned_elems)
    if isinstance(dtype, T.StructType):
        rebuilt = F.struct(
            *[
                _prune(col.getField(f.name), f.dataType).alias(f.name)
                for f in dtype.fields
            ]
        )
        return F.when(~_is_empty(col, dtype), rebuilt)
    # numeric / boolean / binary / timestamp: kept as-is (0 and False survive)
    return col


def prune_empty(df: DataFrame) -> DataFrame:
    """Apply the N1 pruning rules to the ``resource`` column."""
    return df.withColumn("resource", _prune(F.col("resource"), df.schema["resource"].dataType))
