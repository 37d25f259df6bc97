"""Iceberg MERGE-sink integration check — the first real execution of
streaming/sink_iceberg.py's SQL against a live Iceberg runtime.

The sandbox has no iceberg-spark-runtime jar, so this script is the
documented recipe a cluster user runs BEFORE trusting the sink in
production (and tests/test_iceberg_integration.py runs it
automatically wherever the jar IS present):

    spark-submit \
      --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:1.10.0 \
      --py-files marc_data_migration_spark.zip \
      scripts/iceberg_integration.py --warehouse /tmp/iceberg_wh

(pick the runtime artifact matching your Spark minor version, e.g.
``iceberg-spark-runtime-3.5_2.12`` on Spark 3.5). Exit code 0 = every
assertion below held on the real runtime:

1. CREATE TABLE bucketed on conv_id; 2 micro-batches MERGE-applied
   (insert/update/delete + LSN guard); 3. replaying batch 0 is a
   no-op (exactly-once ledger); 4. additive schema evolution: a batch
   that brings a new column widens the table itself (ALTER ADD COLUMNS)
   before its MERGE writes the column; 5. final state equals the
   engine's batch oracle (operators/merge.apply_changes) row-for-row.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402


def build_session(warehouse: str) -> SparkSession:
    return (
        SparkSession.builder.appName("iceberg-integration")
        .master(os.environ.get("SPARK_MASTER", "local[4]"))
        .config(
            "spark.sql.extensions",
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
        )
        .config("spark.sql.catalog.local", "org.apache.iceberg.spark.SparkCatalog")
        .config("spark.sql.catalog.local.type", "hadoop")
        .config("spark.sql.catalog.local.warehouse", warehouse)
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )


def synth_batch(spark: SparkSession, batch: int):
    """Deterministic change feed: batch 0 seeds 40 turns; batch 1
    updates half, deletes a few, inserts new ones — all LSN-ordered."""
    base = batch * 1000
    rows = []
    for i in range(40):
        rows.append(
            (
                "U" if batch and i % 2 == 0 else "I",
                base + i,
                f"conv-{i % 8}",
                i % 5,
                "assistant" if i % 2 else "user",
                f"text b{batch} i{i}",
                "search" if i % 3 == 0 else None,
            )
        )
    if batch:
        rows += [("D", base + 100 + i, f"conv-{i}", 0, None, None, None) for i in range(3)]
    df = spark.createDataFrame(
        rows, "op string, lsn bigint, conv_id string, turn_idx int, role string, text string, tool string"
    )
    return df.withColumn("ts", F.timestamp_micros(F.col("lsn"))).withColumn(
        "commit_ts", F.timestamp_micros(F.col("lsn"))
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--table", default="local.db.transcripts")
    args = ap.parse_args()

    spark = build_session(args.warehouse)
    from marc_data_migration_spark.streaming.sink_iceberg import (
        IcebergMergeSink,
        is_available,
    )

    assert is_available(spark), "Iceberg catalog not active — check --packages"
    sink = IcebergMergeSink(spark, args.table, n_buckets=8)

    b0, b1 = synth_batch(spark, 0), synth_batch(spark, 1)
    sink.apply_merge(b0, 0)
    n_after_b0 = spark.table(args.table).count()
    assert n_after_b0 == 40, f"batch0 rows: {n_after_b0}"

    sink.apply_merge(b1, 1)
    state1 = spark.table(args.table)
    n_after_b1 = state1.count()

    # 3. exactly-once: replaying batch 0 must change nothing
    sink.apply_merge(b0, 0)
    assert spark.table(args.table).count() == n_after_b1, "replay changed rows"
    replay_text = {
        (r.conv_id, r.turn_idx): r.text for r in spark.table(args.table).collect()
    }

    # 5. final-state equality vs the engine's batch oracle on the same feed
    from marc_data_migration_spark.operators.merge import apply_changes

    oracle = apply_changes(
        b0.filter(F.col("op") != "D").drop("op", "commit_ts"), b1
    ).final
    want = {(r.conv_id, r.turn_idx): r.text for r in oracle.collect()}
    assert replay_text == want, "final state diverges from batch oracle"

    # 4. a batch that brings a new column widens the table and writes it
    assert "meta_tag" not in spark.table(args.table).columns
    b2 = synth_batch(spark, 2).withColumn("meta_tag", F.lit("v2"))
    sink.apply_merge(b2, 2)
    n_tagged = spark.table(args.table).filter(F.col("meta_tag") == "v2").count()
    assert n_tagged > 0, "evolved column not written"

    print(
        json.dumps(
            {
                "ok": True,
                "rows_after_b1": n_after_b1,
                "rows_tagged_after_evolve": n_tagged,
                "table": args.table,
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
