"""Structured Streaming shell — SURVEY.md §2.9. The reference's
sequential file tail (record_update.py:182-254) becomes:

    readStream (file source over staged WAL chunks; Kafka/CDC source
    in production — same downstream code; every JSON source decodes
    through parse_wal_json)
      → foreachBatch: MERGE into the sink (optional salted repartition
        → max-LSN dedup → fuzzy gate) → lineage append
      → checkpoint advances only after the sink commit returns, and the
        sink's batch_id ledger + LSN guard make replayed batches no-ops
        → end-to-end exactly-once.

Cluster sizing notes (the part local[32] can't show): the change feed
should arrive hash-distributed by conv_id (Kafka key = conv_id) so the
dedup shuffle is the only wide exchange per batch; shuffle partitions
≈ 2-3× executor cores; `maxFilesPerTrigger`/`maxOffsetsPerTrigger`
bounds batch size so a touched-bucket rewrite stays within executor
memory. The sink neither re-keys nor caches the batch: the dedup's
exchange is the batch's one key shuffle, and the merge join reuses it
(a one-partition batch dedups in place and the join shuffles it once).
A ``salt_buckets`` merge option salts the batch in ``apply_changes``,
just before the dedup, whose partial (map-side) aggregation then
pre-reduces a hot conversation's rows on several tasks before its one
final group; AQE handles residual join skew.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import CHANGES_SCHEMA, CHANGES_SCHEMA_V2
from .sink import MergeSink

# The file source orders files by modification time only, and chunks
# written within one clock tick (milliseconds) tie and come back in
# directory-listing order. Chunk i gets mtime FEED_MTIME_BASE + i
# seconds, so the stream reads the chunks in index order.
FEED_MTIME_BASE = 1_700_000_000


def stage_feed_chunks(
    chunks: list[pd.DataFrame], feed_dir: str, start_at: int = 0,
    fmt: str = "parquet",
) -> list[str]:
    """Write pandas change-feed chunks as individual files — the staged
    WAL the file-source stream tails, read in chunk-index order (also
    across calls, via ``start_at``). ``fmt="json"`` writes line-JSON
    (the Debezium-style text WAL the permissive parse path reads)."""
    os.makedirs(feed_dir, exist_ok=True)
    paths = []
    for i, pdf in enumerate(chunks, start=start_at):
        pdf = pdf.copy()
        for c in pdf.columns:  # Spark rejects pandas' ns-precision INT64
            if str(pdf[c].dtype).startswith("datetime64[ns"):
                pdf[c] = pdf[c].astype("datetime64[us]")
        if fmt == "json":
            p = os.path.join(feed_dir, f"chunk-{i:06d}.json")
            pdf.to_json(p, orient="records", lines=True, date_format="iso")
        else:
            p = os.path.join(feed_dir, f"chunk-{i:06d}.parquet")
            pdf.to_parquet(p, index=False)
        os.utime(p, (FEED_MTIME_BASE + i, FEED_MTIME_BASE + i))
        paths.append(p)
    return paths


def run_stream(
    spark: SparkSession,
    feed_dir: str,
    sink: MergeSink,
    checkpoint_dir: str,
    evolved: bool = False,
    max_files_per_trigger: int = 1,
    transform=None,
    feed_format: str = "parquet",
    **merge_opts,
):
    """Tail `feed_dir`, applying each micro-batch through the sink's
    idempotent MERGE. Blocks until the currently-available feed is
    drained (availableNow), then returns — call again after staging
    more chunks with the same checkpoint to resume exactly-once.

    ``transform`` (DataFrame → DataFrame) is the policy-plugin hook
    applied to each incoming batch before the merge — the distributed
    analogue of the reference's per-record UpdatePolicy.execute
    (record_update.py:475-477); running it on the change side keeps
    replays idempotent (a skipped batch is skipped whole).

    ``feed_format``: "parquet" (typed staged WAL) or "json" (a
    Debezium-style line-JSON WAL). The JSON feed is read as text lines
    and decoded by :func:`parse_wal_json`, the Kafka path's decoder, so
    a malformed line is quarantined with its raw text exactly as a
    malformed Kafka payload is (reference permissive parse + bad-record
    side channel, read_marc.py:7-9, record_update.py:243-252)."""

    def apply_batch(batch_df, batch_id: int):
        if transform is not None:
            batch_df = transform(batch_df)
        sink.apply_merge(batch_df, batch_id, **merge_opts)

    reader = spark.readStream.option("maxFilesPerTrigger", max_files_per_trigger)
    if feed_format == "json":
        # a blank line is no record, but the text source yields it
        lines = reader.text(feed_dir).filter(F.trim("value") != "")
        stream = parse_wal_json(lines, evolved=evolved)
    elif feed_format == "parquet":
        stream = reader.schema(
            CHANGES_SCHEMA_V2 if evolved else CHANGES_SCHEMA
        ).parquet(feed_dir)
    else:
        raise ValueError(f"unknown feed_format: {feed_format}")
    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def parse_wal_json(raw: DataFrame, evolved: bool = False) -> DataFrame:
    """Decode WAL records from a JSON ``value`` column (binary or
    string) — the one decoder of the Kafka tail and the line-JSON file
    feed. The payload's own ``lsn`` is authoritative (transport offsets
    are partition-scoped — reference: file order, record_update.py:
    182-254). PERMISSIVE: a malformed payload keeps the fields that
    parsed, the rest null, and its raw text lands in a null ``text``,
    so split_bad quarantines it with the raw payload preserved."""
    schema = CHANGES_SCHEMA_V2 if evolved else CHANGES_SCHEMA
    with_corrupt = T.StructType(
        schema.fields + [T.StructField("_corrupt", T.StringType(), True)]
    )
    parsed = raw.select(
        F.from_json(
            F.col("value").cast("string"),
            with_corrupt,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt"},
        ).alias("c")
    ).select("c.*")
    return parsed.withColumn(
        "text", F.coalesce(F.col("text"), F.col("_corrupt"))
    ).drop("_corrupt")


def kafka_changes_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    evolved: bool = False,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
) -> DataFrame:
    """Production WAL tail: a Kafka topic keyed by conv_id (so the feed
    arrives hash-distributed on the MERGE key and the dedup shuffle is
    the only wide exchange — module docstring). Requires the
    spark-sql-kafka jar on the cluster; everything downstream
    (foreachBatch, sink, checkpoint) is source-agnostic. The local
    file-source path exercises the identical parse via
    :func:`parse_wal_json`."""
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
    )
    if max_offsets_per_trigger:
        reader = reader.option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
    return parse_wal_json(reader.load(), evolved=evolved)
