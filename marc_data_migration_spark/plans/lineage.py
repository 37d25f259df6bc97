"""Lineage / metrics side table — operators S10/A2/A3 (SURVEY.md §2.1,
§2.4). The reference emits tab-delimited audit logs + console counters
(record_update.py:262-286, field_replacement_count.py); the engine
persists the equivalent as a per-batch, per-partition metrics table
(FIXTURES.md §4): applied LSN ranges, row counts by outcome, conflict
counts. ``batch_id`` is the exactly-once guard for the append-only
table — a replayed batch is detected and skipped (SURVEY.md §4 risk 3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def batch_lineage(
    routed: DataFrame,
    batch_id: int,
    n_partitions: int = 8,
    quarantined: int = 0,
) -> DataFrame:
    """Aggregate a batch's routed outcomes into lineage rows, one per
    key-hash partition (per-partition applied LSN ranges — north_rule),
    plus one summary row carrying ``quarantined``, the batch's count of
    quarantined changes, which the caller already holds. One plan:
    groupBy(partition_id) with conditional aggs, unioned with a literal
    row, so a single action over ``routed`` yields the whole ledger
    record."""
    counts = ("rows_applied", "rows_inserted", "rows_updated", "rows_deleted", "conflict_count")
    by_part = routed.withColumn(
        "partition_id", F.pmod(F.xxhash64("conv_id"), F.lit(n_partitions)).cast("int")
    )
    per_part = (
        by_part.groupBy("partition_id")
        .agg(
            F.min("lsn").alias("lsn_min"),
            F.max("lsn").alias("lsn_max"),
            F.sum(
                F.when(F.col("route").isin("updated", "fuzzy-updated", "non-updated", "deleted"), 1).otherwise(0)
            ).alias("rows_applied"),
            F.sum(F.when(F.col("route") == "non-updated", 1).otherwise(0)).alias("rows_inserted"),
            F.sum(F.when(F.col("route").isin("updated", "fuzzy-updated"), 1).otherwise(0)).alias("rows_updated"),
            F.sum(F.when(F.col("route") == "deleted", 1).otherwise(0)).alias("rows_deleted"),
            F.sum("conflict").alias("conflict_count"),
        )
        .select(
            F.lit(batch_id).cast("long").alias("batch_id"),
            "partition_id",
            "lsn_min",
            "lsn_max",
            *[F.col(c).cast("long") for c in counts],
            # per-partition rows carry 0; the batch total lives on the
            # partition_id=-1 summary row so sum() over rows is correct
            F.lit(0).cast("long").alias("rows_quarantined"),
            F.current_timestamp().alias("commit_ts"),
        )
    )
    # Batch-level summary row (partition_id = -1): carries the
    # quarantine count and guarantees a ledger entry even for a batch
    # whose every row was quarantined (routed empty -> no per-partition
    # rows -> without this the replay guard would re-append bad rows).
    # Literals over a one-partition range(1) stay in the JVM: never
    # createDataFrame over Python rows, whose pickled partitions cost
    # ~4.6 s per batch through the Python runner for one literal row
    # (decomposed A/B in BENCH/BASELINE.md r05).
    summary = routed.sparkSession.range(0, 1, 1, 1).select(
        F.lit(int(batch_id)).cast("long").alias("batch_id"),
        F.lit(-1).cast("int").alias("partition_id"),
        F.lit(None).cast("long").alias("lsn_min"),
        F.lit(None).cast("long").alias("lsn_max"),
        *[F.lit(0).cast("long").alias(c) for c in counts],
        F.lit(int(quarantined)).cast("long").alias("rows_quarantined"),
        F.current_timestamp().alias("commit_ts"),
    )
    return per_part.unionByName(summary)


def windowed_change_metrics(
    changes: DataFrame,
    window_duration: str = "1 minute",
    watermark_delay: str = "2 minutes",
) -> DataFrame:
    """Continuous run-summary counters (operator A2 as a stream): per
    event-time tumbling window, change counts by op. On a stream this
    is the standard watermark + windowed-agg pattern — the watermark
    bounds state (windows older than it finalize and evict) and late
    rows beyond the delay are dropped, exactly the §2.9 'watermark for
    state cleanup' role. Works identically on a batch DataFrame (the
    watermark is a no-op there), which is how the oracle checks it."""
    if changes.isStreaming:
        changes = changes.withWatermark("commit_ts", watermark_delay)
    return (
        changes.groupBy(F.window("commit_ts", window_duration).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_changes"),
            F.sum(F.when(F.col("op") == "I", 1).otherwise(0)).alias("n_inserts"),
            F.sum(F.when(F.col("op") == "U", 1).otherwise(0)).alias("n_updates"),
            F.sum(F.when(F.col("op") == "D", 1).otherwise(0)).alias("n_deletes"),
            F.min("lsn").alias("lsn_min"),
            F.max("lsn").alias("lsn_max"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "n_changes",
            "n_inserts",
            "n_updates",
            "n_deletes",
            "lsn_min",
            "lsn_max",
        )
    )
