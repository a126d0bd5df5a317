"""Z-order (Morton) curve utilities — multi-dimensional data
clustering for scan pruning (the technique behind Delta Lake's
OPTIMIZE ZORDER BY and Iceberg's sort-order z-curves, both public):
interleaving the bits of several normalized key columns gives a 1-D
sort key under which ranges are simultaneously TIGHT in every input
dimension, so per-file min/max skip indexes prune scans on ANY of the
z-ordered columns, not just the leading sort key.

Everything here is exact integer/IEEE math in Column expressions —
codegen-side, deterministic, replayable in any engine with the same
bit operators (the DuckDB oracle for ``layout-zorder`` replays it
term for term).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dug_data_ingest_spark.functions.constants import free_name


def normalize_to_bits(
    x: Column, x_min: Column, x_max: Column, bits: int
) -> Column:
    """Scale ``x`` from [x_min, x_max] onto the integer grid
    [0, 2**bits - 1]: floor((x - min) * (2**bits - 1) / (max - min)).
    Pure double math in a fixed operation order, so any IEEE engine
    replays it bit-for-bit. Degenerate ranges (max == min) map to 0
    rather than dividing by zero. Values outside [x_min, x_max]
    (possible when a caller supplies sampled or stale stats) are
    clamped to the grid ends rather than leaking sign bits into the
    Morton interleave. NULL propagates: a NULL coordinate (or NULL
    min/max stats) yields a NULL grid cell, NOT cell 0 — clamping with
    greatest/least would silently swallow the NULL (Spark's
    greatest/least skip NULL operands) and park null rows at the grid
    origin with a valid-looking Morton key."""
    grid = float((1 << bits) - 1)
    span = (x_max - x_min).cast("double")
    scaled = F.floor(
        ((x - x_min).cast("double") * grid) / span
    ).cast("bigint")
    clamped = F.least(
        F.greatest(scaled, F.lit(0).cast("bigint")),
        F.lit((1 << bits) - 1).cast("bigint"),
    )
    null_in = x.isNull() | x_min.isNull() | x_max.isNull()
    return F.when(null_in, F.lit(None).cast("bigint")).otherwise(
        F.when(span == 0.0, F.lit(0).cast("bigint")).otherwise(clamped)
    )


def z_value_2d(sx: Column, sy: Column, bits: int = 16) -> Column:
    """Morton-interleave two ``bits``-bit integers: bit i of ``sx``
    lands at position 2i, bit i of ``sy`` at 2i+1. Built as a static
    sum of 2*bits literal-shift terms (Spark's shiftleft/shiftright
    wrappers take only literal shifts — the bloom _bit_masks lesson),
    so the whole thing is one codegen expression, no UDF, no loop at
    runtime."""
    if not (1 <= bits <= 31):
        raise ValueError(f"z_value_2d: bits must be in [1, 31], got {bits}")
    z = F.lit(0).cast("bigint")
    for i in range(bits):
        z = z + F.shiftright(sx, i).bitwiseAND(F.lit(1)) * F.lit(
            1 << (2 * i)
        ).cast("bigint")
        z = z + F.shiftright(sy, i).bitwiseAND(F.lit(1)) * F.lit(
            1 << (2 * i + 1)
        ).cast("bigint")
    return z


def zorder_key_2d(
    df: DataFrame,
    x_col: str,
    y_col: str,
    bits: int = 16,
    out_col: str = "zval",
) -> DataFrame:
    """``df`` plus a Morton key column over (x_col, y_col), min/max
    normalized. The min/max statistics ride ONE map-side-combined
    aggregate collapsed to a single broadcast row (the 1-row scalar
    crossJoin idiom) — the corpus is scanned once and never shuffled;
    the z-value itself is a row-local projection.

    To actually LAY OUT data, follow with
    ``df.repartitionByRange(n, out_col).sortWithinPartitions(out_col)``
    and write — each output file then covers a z-range whose min/max
    envelope is tight in BOTH x and y (measured by the
    ``layout-zorder`` query's per-bucket span stats)."""
    # free staging names: an input df already carrying __xmin etc.
    # must not collide
    xmin, xmax, ymin, ymax = (
        free_name(df.columns, b) for b in ("__xmin", "__xmax", "__ymin", "__ymax")
    )
    stats = df.agg(
        F.min(x_col).alias(xmin),
        F.max(x_col).alias(xmax),
        F.min(y_col).alias(ymin),
        F.max(y_col).alias(ymax),
    )
    sx = normalize_to_bits(F.col(x_col), F.col(xmin), F.col(xmax), bits)
    sy = normalize_to_bits(F.col(y_col), F.col(ymin), F.col(ymax), bits)
    return (
        df.crossJoin(F.broadcast(stats))
        .withColumn(out_col, z_value_2d(sx, sy, bits))
        .drop(xmin, xmax, ymin, ymax)
    )
