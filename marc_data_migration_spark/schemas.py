"""Schemas for the transcript CDC engine (FIXTURES.md §1-4).

The reference's open-ended MARC tag space (any tag may appear on any
record — /root/reference/processors/oclc_update/record_update.py:198-202)
becomes a fixed transcript schema plus *additive* evolution: new
payload columns (e.g. ``tool_meta``) appear mid-stream and are merged
additively, never clobbering existing data (reference analogue:
replace-and-add strategy, record_update.py:870-876).
"""

from __future__ import annotations

from pyspark.sql import types as T

# Key columns — the analogue of the MARC OCLC key (001/003 + 035,
# /root/reference/processors/utils.py:31-115).
KEY_COLS = ["conv_id", "turn_idx"]

# Change metadata: the columns a change-feed row carries beside its
# key and payload. ``lsn`` is also kept on the target as the LSN guard;
# ``op`` and ``commit_ts`` never reach it.
CHANGE_META = ("op", "lsn", "commit_ts")

# transcripts — the lake/target table. `lsn` is engine metadata: the
# LSN of the change that produced the row (-1 for initial load); it is
# the idempotence guard for MERGE re-application.
TRANSCRIPTS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("lsn", T.LongType(), True),
    ]
)

# changes — the WAL/binlog tail (FIXTURES.md §2).
CHANGES_SCHEMA = T.StructType(
    [
        T.StructField("op", T.StringType(), False),
        T.StructField("lsn", T.LongType(), False),
        T.StructField("commit_ts", T.TimestampType(), True),
        T.StructField("conv_id", T.StringType(), True),
        T.StructField("turn_idx", T.IntegerType(), True),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

# changes with the evolved additive column (FIXTURES.md §2 "evolve").
CHANGES_SCHEMA_V2 = T.StructType(
    CHANGES_SCHEMA.fields + [T.StructField("tool_meta", T.StringType(), True)]
)

# lineage_metrics — per-batch/partition audit table (FIXTURES.md §4);
# the analogue of the reference's audit/counter side outputs
# (record_update.py:26-34, :262-286; field_replacement_count.py).
# Convention: one row per key-hash partition plus a batch-summary row
# with partition_id = -1 carrying the quarantine total the sink counted
# before the merge (per-partition rows hold rows_quarantined = 0 so
# SUM() over the table is correct) — see plans/lineage.py batch_lineage.
LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("batch_id", T.LongType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("lsn_min", T.LongType(), True),
        T.StructField("lsn_max", T.LongType(), True),
        T.StructField("rows_applied", T.LongType(), True),
        T.StructField("rows_inserted", T.LongType(), True),
        T.StructField("rows_updated", T.LongType(), True),
        T.StructField("rows_deleted", T.LongType(), True),
        T.StructField("conflict_count", T.LongType(), True),
        T.StructField("rows_quarantined", T.LongType(), True),
        T.StructField("commit_ts", T.TimestampType(), True),
    ]
)
