"""Driver-side constants folded into a plan: one bit-exact SQL literal
encoder and one literal-or-broadcast gate.

A small model computed on the driver (a bloom bitmap, DSIR/NB
log-ratios, a PQ codebook or distance table, a query vector) rides the
plan as ONE constant. ``sql_literal`` renders it as SQL text that is
parsed in a single JVM call (composing it from ``F.lit``/``F.array``
Columns costs a py4j round trip per element) and that ConstantFolding
collapses into a single Literal, so every row indexes one static
value instead of a joined copy. Above ``_LITERAL_MAX_ELEMS`` leaf
values the SQL text itself becomes the cost (megabytes parsed and
analyzed per plan), so ``fold_or_broadcast`` ships the value as a
1-row broadcast instead: sent once per executor, still no shuffle of
the frame it is applied to. ``free_name`` names that broadcast's
staging column, and every other staging column the engine adds to a
caller's frame.
"""

from __future__ import annotations

import math
from typing import Any, Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Largest constant, counted in leaf values, that folds into the plan as
# a literal. 64k leaves keep the SQL text near 1 MB and its parse and
# analysis trivial, and cover every benched size: dedup-bloom-probe's
# bitmap is 256 words, the DSIR/NB ratios 4096 doubles, the sim-pq-*
# codebook 8 x 16 x (1 + 8) values.
_LITERAL_MAX_ELEMS = 1 << 16


def sql_literal(value: Any, dtype: T.DataType) -> str:
    """``value`` as Spark SQL text that evaluates to exactly ``value``
    typed ``dtype`` (double, bigint, int, or arrays and structs of
    them; a struct value is a sequence in field order).

    Doubles round-trip bit-exactly: ``repr`` is the shortest decimal
    that maps back to the same IEEE double (-0.0 and subnormals
    included) and Java's parseDouble is correctly rounded; NaN and
    +-inf have no decimal form and go through a string cast. The
    ``D``/``L`` suffixes pin the type (a bare decimal would parse as
    DECIMAL). An empty array is cast to its type, never left as
    ``array<void>``."""
    if isinstance(dtype, T.DoubleType):
        v = float(value)
        if math.isnan(v):
            return "CAST('NaN' AS DOUBLE)"
        if math.isinf(v):
            return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"
        return f"{v!r}D"
    if isinstance(dtype, T.LongType):
        return f"{int(value)}L"
    if isinstance(dtype, T.IntegerType):
        return str(int(value))
    if isinstance(dtype, T.ArrayType):
        if not len(value):
            return f"CAST(array() AS {dtype.simpleString()})"
        return "array({})".format(
            ", ".join(sql_literal(v, dtype.elementType) for v in value)
        )
    if isinstance(dtype, T.StructType):
        return "named_struct({})".format(
            ", ".join(
                f"'{f.name}', {sql_literal(v, f.dataType)}"
                for f, v in zip(dtype.fields, value, strict=True)
            )
        )
    raise TypeError(f"sql_literal: unsupported type {dtype.simpleString()}")


def free_name(columns: list[str], base: str) -> str:
    """``base``, suffixed with ``_`` until no name in ``columns`` equals
    it case-insensitively — the staging-column name that cannot
    shadow a caller's column, since Spark resolves names
    case-insensitively (``withColumn("__x", …)`` on a frame with
    ``__X`` replaces ``__X``)."""
    taken = {c.lower() for c in columns}
    name = base
    while name.lower() in taken:
        name += "_"
    return name


def _leaves(value: Any, dtype: T.DataType) -> int:
    if isinstance(dtype, T.ArrayType):
        return sum(_leaves(v, dtype.elementType) for v in value)
    if isinstance(dtype, T.StructType):
        return sum(_leaves(v, f.dataType) for f, v in zip(dtype.fields, value))
    return 1


def fold_or_broadcast(
    df: DataFrame,
    value: Any,
    dtype: T.DataType,
    use: Callable[[DataFrame, Column], DataFrame],
) -> DataFrame:
    """``use(df, col)``, where ``col`` evaluates to ``value`` (typed
    ``dtype``) on every row of ``df``.

    Up to ``_LITERAL_MAX_ELEMS`` leaf values ``col`` is the folded
    ``sql_literal``. Above it ``col`` is a ``free_name`` staging column
    attached by a crossJoin with a 1-row broadcast of the value, and it
    is dropped from ``use``'s result. Both forms evaluate to the same
    bits, so ``use`` sees one value either way."""
    if _leaves(value, dtype) <= _LITERAL_MAX_ELEMS:
        return use(df, F.expr(sql_literal(value, dtype)))
    name = free_name(df.columns, "__folded")
    row = df.sparkSession.createDataFrame(
        [(value,)], T.StructType([T.StructField(name, dtype)])
    )
    return use(df.crossJoin(F.broadcast(row)), F.col(name)).drop(name)
