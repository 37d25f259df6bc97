"""Per-key max-LSN dedup — operator W1 (SURVEY.md §2.5).

The reference achieves last-write-wins implicitly via its sequential
loop (record_update.py:182-254). Distributed, this is the core CDC
dedup: per (conv_id, turn_idx) keep the change with the highest LSN.

Three physically distinct but semantically identical strategies:

- ``agg``     — groupBy(key).max(struct(lsn, payload...)). Partial
                (map-side) aggregation makes this naturally skew-robust
                and shuffle-light; the struct max is resolved inside
                whole-stage codegen. Default at scale.
- ``window``  — row_number() OVER (PARTITION BY key ORDER BY lsn DESC)
                = 1. The textbook form; whole partitions of a hot key
                land on one task (skew-sensitive).
- ``salted_window`` — two-phase: salt the key, windowed dedup per
                (key, salt) shard, then final windowed dedup per key.
                Breaks hot-conversation skew for the window form
                (north_star requirement); property-tested equal to the
                other two.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..schemas import KEY_COLS


def latest_per_key(
    df: DataFrame,
    key_cols: list[str] | None = None,
    order_col: str = "lsn",
    method: str = "agg",
    salt_buckets: int = 16,
) -> DataFrame:
    """Reduce a change feed to the max-``order_col`` row per key."""
    keys = key_cols or KEY_COLS
    others = [c for c in df.columns if c not in keys]
    if method == "agg":
        # struct comparison is lexicographic on fields → max(struct) picks
        # the row with max(order_col); unique LSNs make this deterministic.
        packed = F.max(F.struct(order_col, *[c for c in others if c != order_col])).alias("_top")
        out = df.groupBy(*keys).agg(packed)
        return out.select(*[c if c in keys else F.col(f"_top.{c}") for c in df.columns])
    if method == "window":
        w = Window.partitionBy(*keys).orderBy(F.col(order_col).desc())
        return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
    if method == "salted_window":
        # phase 1: shard each key by a salt derived from the order col so
        # a hot key's rows split across `salt_buckets` tasks
        salted = df.withColumn("_salt", F.pmod(F.xxhash64(F.col(order_col)), F.lit(salt_buckets)))
        w1 = Window.partitionBy(*keys, "_salt").orderBy(F.col(order_col).desc())
        partial = salted.withColumn("_rn", F.row_number().over(w1)).filter(F.col("_rn") == 1).drop("_rn")
        # phase 2: at most `salt_buckets` candidates per key remain
        w2 = Window.partitionBy(*keys).orderBy(F.col(order_col).desc())
        return (
            partial.withColumn("_rn", F.row_number().over(w2))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "_salt")
        )
    raise ValueError(f"unknown dedup method: {method}")
