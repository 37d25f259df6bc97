"""CLI — the engine's `spark-submit --py-files` entry point.

Mirrors the reference's argparse surface (processor.py:17-71: one
process, flags select the pass) as subcommands over the Spark engine:

    feedgen   stage a deterministic synthetic WAL (FIXTURES.md variants)
    init      initialize the lake table from a transcripts parquet
    stream    EP1 — tail a feed dir, MERGE each micro-batch exactly-once
              (reference --replace-fields; --strategy/--fuzzy-match-ratio/
              --require-perfect-match mirror processor.py:194-203 and
              the -pm flag)
    apply     EP2-ish — one-shot batch replay of a changes parquet
    report    EP3 — dup-keys / route-counts / lineage summaries
              (reference -ccf/-d/-comp reports)

Run locally:      python -m marc_data_migration_spark <cmd> ...
Run on a cluster: spark-submit --py-files marc_data_migration_spark.zip \
                      -m ... (any PySpark 3.5+/4.x cluster; the sink
                      switches to Iceberg MERGE when the runtime jar is
                      present — streaming/sink_iceberg.py)
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from marc_data_migration_spark.feedgen import gen_changes, gen_transcripts  # noqa: E402
from marc_data_migration_spark.operators.merge import apply_changes  # noqa: E402
from marc_data_migration_spark.policy import load_policy  # noqa: E402
from marc_data_migration_spark.session import get_spark  # noqa: E402
from marc_data_migration_spark.streaming.sink_parquet import (  # noqa: E402
    MorParquetMergeSink,
    ParquetMergeSink,
    open_sink,
)
from marc_data_migration_spark.streaming.stream import (  # noqa: E402
    run_stream,
    stage_feed_chunks,
)


def _make_sink(spark, args) -> ParquetMergeSink:
    # sink mode + bucket count are TABLE properties persisted at init;
    # flags are only honored for a brand-new table and validated (raise
    # on mismatch) against an existing one — see sink_parquet.open_sink.
    sink = open_sink(
        spark,
        args.table,
        sink_mode=getattr(args, "sink", None),
        n_buckets=getattr(args, "buckets", None),
    )
    auto = getattr(args, "auto_compact_deltas", None)
    if auto is not None:
        if not isinstance(sink, MorParquetMergeSink):
            raise SystemExit("--auto-compact-deltas applies only to merge-on-read tables")
        if auto < 1:  # same guard as the constructor — threshold 0 would
            raise SystemExit("--auto-compact-deltas must be >= 1")  # compact every batch
        sink.auto_compact_deltas = auto
    return sink


def _merge_opts(args) -> dict:
    return dict(
        strategy=args.strategy,
        fuzzy_gate=args.fuzzy_gate,
        fuzzy_threshold=args.fuzzy_match_ratio,
        require_perfect_match=args.require_perfect_match,
    )


def _add_merge_flags(p: argparse.ArgumentParser) -> None:
    p.add_argument(
        "--strategy",
        choices=["replace_and_add", "replace_only"],
        default="replace_and_add",
        help="field-merge strategy (reference record_update.py:870-887)",
    )
    p.add_argument("--fuzzy-gate", action="store_true", help="gate matched updates on title/text similarity")
    p.add_argument("--fuzzy-match-ratio", type=int, default=50, help="similarity threshold 0-100 (reference default 50)")
    p.add_argument("--require-perfect-match", action="store_true", help="reference -pm: only ratio==100 updates apply")
    p.add_argument("--policy", default=None, help="dotted path to a TransformPolicy (reference plugin loader record_update.py:132-134)")


def cmd_feedgen(args) -> None:
    feed = gen_changes(variant=args.variant, n_events=args.events, n_convs=args.convs, seed=args.seed)
    n = max(args.chunks, 1)
    size = -(-len(feed) // n)
    chunks = [feed.iloc[i * size : (i + 1) * size] for i in range(n) if len(feed.iloc[i * size : (i + 1) * size])]
    paths = stage_feed_chunks(chunks, args.out)
    print(json.dumps({"staged": len(paths), "events": len(feed), "dir": args.out}))


def cmd_init(args) -> None:
    spark = get_spark("cdc-init", parallelism=args.cpus)
    sink = _make_sink(spark, args)
    if args.transcripts:
        base = spark.read.parquet(args.transcripts)
        if "lsn" not in base.columns:
            base = base.withColumn("lsn", F.lit(0).cast("long"))
    else:
        base = spark.createDataFrame(gen_transcripts(n_convs=args.convs, seed=args.seed)).withColumn(
            "lsn", F.lit(0).cast("long")
        )
    sink.init(base)
    print(json.dumps({"table": args.table, "rows": sink.read().count(), "buckets": args.buckets}))


def cmd_stream(args) -> None:
    spark = get_spark("cdc-stream", parallelism=args.cpus)
    sink = _make_sink(spark, args)
    transform = None
    if args.policy:
        transform = load_policy(args.policy).transform
    run_stream(
        spark,
        args.feed_dir,
        sink,
        args.checkpoint,
        evolved=args.evolved,
        max_files_per_trigger=args.max_files_per_trigger,
        salt_buckets=args.salt_buckets,
        transform=transform,
        audit=args.audit,
        feed_format=args.feed_format,
        **_merge_opts(args),
    )
    lineage = sink.lineage()
    summary = lineage.agg(
        F.countDistinct("batch_id").alias("batches"),
        F.sum("rows_applied").alias("rows_applied"),
        F.sum("conflict_count").alias("conflicts"),
    ).collect()[0]
    print(
        json.dumps(
            {
                "table": args.table,
                "final_rows": sink.read().count(),
                "batches_applied": summary["batches"],
                "rows_applied": int(summary["rows_applied"] or 0),
                "conflicts": int(summary["conflicts"] or 0),
            }
        )
    )


def cmd_apply(args) -> None:
    spark = get_spark("cdc-apply", parallelism=args.cpus)
    base = spark.read.parquet(args.base)
    if "lsn" not in base.columns:
        base = base.withColumn("lsn", F.lit(0).cast("long"))
    changes = spark.read.parquet(args.changes)
    if args.policy:
        changes = load_policy(args.policy).transform(changes)
    # persist_join: the final write runs the dedup, join and gate once;
    # the routed write and the route counts project from the cache
    res = apply_changes(base, changes, persist_join=True, **_merge_opts(args))
    try:
        res.final.write.mode("overwrite").parquet(os.path.join(args.out, "final"))
        res.routed.write.mode("overwrite").parquet(os.path.join(args.out, "routed"))
        res.bad.write.mode("overwrite").parquet(os.path.join(args.out, "bad"))
        counts = {r["route"]: r["n"] for r in res.routed.groupBy("route").agg(F.count("*").alias("n")).collect()}
    finally:
        res.unpersist()
    print(json.dumps({"out": args.out, "final_rows": spark.read.parquet(os.path.join(args.out, "final")).count(), "routes": counts}))


def cmd_compact(args) -> None:
    spark = get_spark("cdc-compact", parallelism=args.cpus)
    sink = _make_sink(spark, args)
    before = sink.compact_audit(target_files=args.target_files)
    out = {"table": args.table, "files_before": before, "target_files": args.target_files}
    if isinstance(sink, MorParquetMergeSink):
        out["delta_batches_folded"] = sink.compact_data()
    print(json.dumps(out))


def cmd_ingest(args) -> None:
    """Streaming corpus ingestion: tail a directory of document parquet
    chunks through quality gate → PII scrub → incremental near-dup
    filter → idempotent batch-keyed append (streaming/corpus_ingest.py)."""
    from marc_data_migration_spark.streaming.corpus_ingest import (
        CorpusIngest,
        run_corpus_stream,
    )

    spark = get_spark("corpus-ingest", parallelism=args.cpus)
    ingest = CorpusIngest(
        spark,
        args.corpus,
        min_tokens=args.min_tokens,
        max_top_token_ratio=args.max_top_token_ratio,
    )
    run_corpus_stream(
        spark,
        args.feed_dir,
        ingest,
        args.checkpoint,
        max_files_per_trigger=args.max_files_per_trigger,
    )
    m = ingest.metrics().agg(
        F.sum("n_in").alias("n_in"),
        F.sum("n_low_quality").alias("n_low_quality"),
        F.sum("n_dups").alias("n_dups"),
        F.sum("n_kept").alias("n_kept"),
        F.countDistinct("batch_id").alias("batches"),
    ).collect()[0]
    print(
        json.dumps(
            {
                "corpus": args.corpus,
                "corpus_rows": ingest.corpus().count(),
                **{k: int(m[k] or 0) for k in ("n_in", "n_low_quality", "n_dups", "n_kept", "batches")},
            }
        )
    )


def cmd_report(args) -> None:
    spark = get_spark("cdc-report", parallelism=args.cpus)
    # open_sink: a merge-on-read table must be reported through the MoR
    # view or every un-compacted delta batch is silently invisible
    sink = open_sink(spark, args.table)
    if args.kind in ("route-counts", "dup-keys", "conflicts") and not os.path.isdir(
        sink.routed_path
    ):
        raise SystemExit(
            f"report '{args.kind}' needs the per-change routed audit table, "
            f"which this lake was written without (stream --audit lineage). "
            f"Re-run the stream with --audit full, or use 'report lineage'."
        )
    if args.kind == "route-counts":
        df = sink.routed().groupBy("route").agg(F.count("*").alias("n")).orderBy("route")
    elif args.kind == "dup-keys":
        df = (
            sink.routed()
            .groupBy("conv_id", "turn_idx")
            .agg(F.count("*").alias("n_versions"))
            .filter(F.col("n_versions") > 1)
            .orderBy(F.col("n_versions").desc(), "conv_id", "turn_idx")
            .limit(args.limit)
        )
    elif args.kind == "lineage":
        df = sink.lineage().orderBy("batch_id", "partition_id")
    elif args.kind == "conflicts":
        df = sink.routed().filter(F.col("conflict") == 1).orderBy("lsn").limit(args.limit)
    else:
        raise SystemExit(f"unknown report: {args.kind}")
    for row in df.collect():
        print(json.dumps(row.asDict(), default=str))


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(prog="marc_data_migration_spark")
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("feedgen", help="stage a deterministic synthetic WAL")
    p.add_argument("--out", required=True)
    p.add_argument("--variant", default="upsert", choices=["basic", "upsert", "delete", "dup-replay", "skew", "evolve"])
    p.add_argument("--events", type=int, default=1000)
    p.add_argument("--convs", type=int, default=50)
    p.add_argument("--chunks", type=int, default=4)
    p.add_argument("--seed", type=int, default=42)
    p.set_defaults(fn=cmd_feedgen)

    p = sub.add_parser("init", help="initialize the lake table")
    p.add_argument("--table", required=True)
    p.add_argument("--transcripts", default=None, help="parquet of initial transcripts (default: synthetic)")
    p.add_argument("--buckets", type=int, default=32)
    p.add_argument("--sink", choices=["cow", "mor"], default="cow", help="copy-on-write (bucket rewrite) or merge-on-read (delta files)")
    p.add_argument("--convs", type=int, default=50)
    p.add_argument("--seed", type=int, default=42)
    p.set_defaults(fn=cmd_init)

    p = sub.add_parser("stream", help="tail a feed dir into the lake table (exactly-once)")
    p.add_argument("--feed-dir", required=True)
    p.add_argument("--table", required=True)
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--buckets", type=int, default=None, help="bucket count for a BRAND-NEW table (default 32); existing tables use their persisted layout and a conflicting value raises")
    p.add_argument("--salt-buckets", type=int, default=0, help="salted repartition for hot-conversation skew")
    p.add_argument("--max-files-per-trigger", type=int, default=1)
    p.add_argument("--evolved", action="store_true", help="read the additive v2 schema (tool_meta)")
    p.add_argument("--sink", choices=["cow", "mor"], default=None, help="sink mode for a BRAND-NEW table (default cow); existing tables use their persisted mode and a conflicting value raises")
    p.add_argument("--audit", choices=["fields", "full", "lineage"], default="full", help="'fields' adds the per-field old/new diff table; 'lineage' sheds the per-change routed audit for max throughput (~25%% of batch cost)")
    p.add_argument("--auto-compact-deltas", type=int, default=None, help="MoR only: fold deltas into the base whenever this many batches are published (bounds read-side merge fan-in)")
    p.add_argument("--feed-format", choices=["parquet", "json"], default="parquet", help="json = line-JSON WAL with PERMISSIVE parse; malformed lines are quarantined with their raw text")
    _add_merge_flags(p)
    p.set_defaults(fn=cmd_stream)

    p = sub.add_parser("compact", help="rewrite audit/ledger side tables into few files (+fold MoR deltas)")
    p.add_argument("--table", required=True)
    p.add_argument("--target-files", type=int, default=8)
    p.add_argument("--buckets", type=int, default=None, help="taken from the table's persisted layout; a conflicting value raises")
    p.add_argument("--sink", choices=["cow", "mor"], default=None, help="taken from the table's persisted mode; a conflicting value raises")
    p.set_defaults(fn=cmd_compact)

    p = sub.add_parser("apply", help="one-shot batch replay of a changes parquet")
    p.add_argument("--base", required=True)
    p.add_argument("--changes", required=True)
    p.add_argument("--out", required=True)
    _add_merge_flags(p)
    p.set_defaults(fn=cmd_apply)

    p = sub.add_parser("ingest", help="streaming corpus ingestion (quality -> PII scrub -> near-dup filter -> append)")
    p.add_argument("--feed-dir", required=True, help="directory of document parquet chunks (doc_id long, text string)")
    p.add_argument("--corpus", required=True, help="corpus table root (docs/ metrics/ band_index/)")
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--max-files-per-trigger", type=int, default=1)
    p.add_argument("--min-tokens", type=int, default=30)
    p.add_argument("--max-top-token-ratio", type=float, default=0.5)
    p.set_defaults(fn=cmd_ingest)

    p = sub.add_parser("report", help="operational reports over the sink side outputs")
    p.add_argument("kind", choices=["route-counts", "dup-keys", "lineage", "conflicts"])
    p.add_argument("--table", required=True)
    p.add_argument("--limit", type=int, default=20)
    p.set_defaults(fn=cmd_report)

    args = ap.parse_args(argv)
    args.fn(args)


if __name__ == "__main__":
    main()
