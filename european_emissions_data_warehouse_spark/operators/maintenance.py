"""Lake maintenance: the z-order key and output sizing.

Tables compact and z-order through ``SnapshotTable.optimize``
(operators/snapshots.py), which commits the rewrite as a new version behind
the same log readers pin, so no reader ever sees a half-rewritten layout.
This module supplies what optimize uses: ``z_value``, the bit-interleaved
clustering key, and ``_target_file_count``, the one output-sizing rule.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def z_value(c1: Column, c2: Column, bits: int = 16) -> Column:
    """Bit-interleaved Z-order key for two non-negative integer columns
    (c1's bit i lands at 2i+1, c2's at 2i).  Sorting by this key clusters
    rows that are close in *both* dimensions, so parquet row-group min/max
    stats prune scans filtered on either column.  Pure shift/and/or
    expressions: whole-stage codegen, no UDF; 2*bits ≤ 62 keeps the key in
    a signed long under ANSI mode."""
    # at bits >= 32 the interleave shifts into the sign bit: those rows get
    # negative keys that range-sort first and pruning silently breaks
    if not 1 <= bits <= 31:
        raise ValueError(f"z_value: bits must be in [1, 31] (2*bits <= 62), got {bits}")
    bound = 1 << bits

    # domain guard: bits above `bits` would be silently discarded, so
    # far-apart values would collide on their low bits; negatives and NULLs
    # would yield garbage keys — fail loudly instead
    def checked(c: Column) -> Column:
        v = c.cast("long")
        return (
            F.when(
                v.isNull(),
                F.raise_error(
                    F.lit(
                        "z_value: NULL in a z-order column — fill or filter "
                        "nulls before clustering"
                    )
                ).cast("long"),
            )
            .when((v >= 0) & (v < bound), v)
            .otherwise(
                F.raise_error(
                    F.concat(
                        F.lit("z_value: column value "),
                        v.cast("string"),
                        F.lit(
                            f" outside [0, 2^{bits}) — raise `bits` (2*bits <= 62)"
                            " or pre-scale the column"
                        ),
                    )
                )
            )
        )

    v1, v2 = checked(c1), checked(c2)
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(v1, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(v2, i).bitwiseAND(F.lit(1)), 2 * i)
        )
    return z


def _target_file_count(fs, dirs, target_file_mb: int) -> int:
    """Output file count for a rewrite of ``dirs`` (Hadoop Paths on ``fs``):
    their ``.parquet`` bytes over ``target_file_mb``, rounded, at least one.
    Only data files count — ``.crc`` and ``_SUCCESS`` siblings do not."""
    parquet_bytes = sum(
        st.getLen()
        for d in dirs
        for st in fs.listStatus(d)
        if st.getPath().getName().endswith(".parquet")
    )
    return max(1, round(parquet_bytes / (target_file_mb * 1024 * 1024)))
