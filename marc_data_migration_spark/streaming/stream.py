"""Structured Streaming shell — SURVEY.md §2.9. The reference's
sequential file tail (record_update.py:182-254) becomes:

    readStream (file source over staged WAL chunks; Kafka/CDC source
    in production — same downstream code)
      → foreachBatch: salted repartition → max-LSN dedup → fuzzy gate
        → MERGE into the sink → lineage append
      → checkpoint advances only after the sink commit returns, and the
        sink's batch_id ledger + LSN guard make replayed batches no-ops
        → end-to-end exactly-once.

Cluster sizing notes (the part local[32] can't show): the change feed
should arrive hash-distributed by conv_id (Kafka key = conv_id) so the
dedup shuffle is the only wide exchange per batch; shuffle partitions
≈ 2-3× executor cores; `maxFilesPerTrigger`/`maxOffsetsPerTrigger`
bounds batch size so a touched-bucket rewrite stays within executor
memory. Hot conversations are broken by the salted two-phase dedup
(operators/dedup.py) before the merge join; AQE handles residual join
skew.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import CHANGES_SCHEMA, CHANGES_SCHEMA_V2
from .sink_parquet import ParquetMergeSink

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
    sink: ParquetMergeSink,
    checkpoint_dir: str,
    evolved: bool = False,
    max_files_per_trigger: int = 1,
    salt_buckets: int = 0,
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
    Debezium-style line-JSON WAL). The JSON path is the reference's
    permissive parse + bad-record side channel (read_marc.py:7-9,
    record_update.py:243-252) on a real text format: PERMISSIVE mode
    captures each malformed line in a ``_corrupt`` column; such rows
    parse with null keys, so the existing split_bad quarantine routes
    them to the sink's replay-guarded bad table — the raw line is
    preserved by stuffing it into the (otherwise all-null) row's
    ``text`` field before the transport column is dropped, so no new
    schema or side channel is needed and exactly-once is untouched."""
    schema = CHANGES_SCHEMA_V2 if evolved else CHANGES_SCHEMA

    def apply_batch(batch_df, batch_id: int):
        if "_corrupt" in batch_df.columns:
            # corrupt line ⇒ all schema fields null + raw text in
            # _corrupt. Partial type-failures keep their parsed fields
            # (and are quarantined via whichever key is null).
            batch_df = batch_df.withColumn(
                "text", F.coalesce(F.col("text"), F.col("_corrupt"))
            ).drop("_corrupt")
        if transform is not None:
            batch_df = transform(batch_df)
        if salt_buckets:
            batch_df = batch_df.repartition(
                salt_buckets,
                F.col("conv_id"),
                F.pmod(F.xxhash64("lsn"), F.lit(salt_buckets)),
            )
        sink.apply_merge(batch_df, batch_id, **merge_opts)

    reader = spark.readStream.option("maxFilesPerTrigger", max_files_per_trigger)
    if feed_format == "json":
        from pyspark.sql import types as T

        with_corrupt = T.StructType(
            schema.fields + [T.StructField("_corrupt", T.StringType(), True)]
        )
        stream = (
            reader.schema(with_corrupt)
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_corrupt")
            .json(feed_dir)
        )
    elif feed_format == "parquet":
        stream = reader.schema(schema).parquet(feed_dir)
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
    """Decode a WAL record from a (key, value, offset-ish) transport
    frame — the schema-typed parse used by :func:`kafka_changes_stream`
    and unit-testable on any batch DataFrame with (value: binary/str)
    columns. The JSON payload carries the logical fields including
    ``lsn`` (transport offsets are partition-scoped and non-comparable
    across partitions, so the WAL's own LSN is authoritative —
    reference: file order, record_update.py:182-254)."""
    schema = CHANGES_SCHEMA_V2 if evolved else CHANGES_SCHEMA
    parsed = raw.select(
        F.from_json(F.col("value").cast("string"), schema).alias("c")
    )
    return parsed.select("c.*")


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
