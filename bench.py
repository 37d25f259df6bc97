"""Headline benchmark. Runs the engine's flagship queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": <total sec>, "unit": "sec",
 "queries": {name: sec, ...}, "sf": ..., "events_per_sec": ...}

Each query is forced through the full plan with a noop-format write
(count() would let Catalyst prune payload columns and understate the
work). Run `python bench.py --scaling` for the two-parallelism
scaling-efficiency measurement (results belong in BENCH/BASELINE.md).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from marc_data_migration_spark.entry_queries import QUERIES  # noqa: E402
from marc_data_migration_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

HEADLINE = [
    "cdc_apply",
    "cdc_dedup_max_lsn",
    "cdc_route_counts",
    "cdc_lookup_join",
    "pricing_summary",
    "topk_orders_per_segment",
    "exact_dedup",
    "fuzzy_ratio_pairs",
    "conv_sessions",
    "minhash_lsh_pairs",
    "embedding_neardup_pairs",
    "windowed_metrics",
    "ivf_ann_topk",
    # round-3 additions — tracked from their first round so later rounds
    # have a per-query series (suite total is NOT comparable across the
    # round a query enters; the per-query numbers are)
    "pii_redaction",
    "decontam_overlap",
    "pack_contexts",
    # round-3 second-session additions (same per-query-series rule).
    # kmeans_cells / ivf_trained_topk run Lloyd training driver-side at
    # query build — that cost lands in construct_sec, exec stays the
    # like-for-like series.
    "kmeans_cells",
    "ivf_trained_topk",
    "temperature_sample",
    "vocab_top_ngrams",
    # round-4 additions (per-query-series rule as above)
    "simhash_banded_pairs",
    "corpus_to_contexts",
    "passage_dup_pairs",
    "split_contamination",
    # lm_doc_perplexity trains the bigram LM at query build (the V
    # scalar + broadcast counts), ivfpq_ann_topk trains coarse + m PQ
    # codebooks driver-side — both land in construct_sec like the
    # kmeans family; exec stays the like-for-like series
    "lm_doc_perplexity",
    "ivfpq_ann_topk",
    "ivfpq_rerank_topk",
    "fuzzy_decontam_pairs",
    "weighted_sample_docs",
    # bpe_vocab_topk learns its 6 merge rules driver-side at query
    # build (the kmeans family pattern) — construct_sec carries the
    # training rounds, exec the vocab derivation
    "bpe_vocab_topk",
    "chunk_docs",
    # rp_ivf_topk trains its reduced-space quantizer at query build
    "rp_ivf_topk",
]


def _sf(sf_dir: str) -> float:
    name = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(name.replace("sf", ""))
    except ValueError:
        return -1.0


def run_suite(
    parallelism: int, sf_dir: str
) -> tuple[dict[str, float], dict[str, float], int]:
    spark = get_spark(f"bench-{parallelism}", parallelism=parallelism)
    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    # Warm one-time session costs (JVM codegen, shuffle machinery, and
    # the Python-worker pool for pandas UDFs — each worker imports
    # pandas once) so timings reflect steady-state throughput, which is
    # what a long-running CDC stream actually sees.
    QUERIES["cdc_apply"](spark, sf_dir).write.format("noop").mode("overwrite").save()
    from pyspark.sql import functions as F

    from marc_data_migration_spark.functions.similarity import token_sort_ratio

    (
        spark.range(parallelism * 64)
        .repartition(parallelism)
        .select(token_sort_ratio(F.lit("warm up"), F.lit("up warm")))
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    # Best-of-3, passes interleaved across the whole suite: the sandbox
    # VM throttles in multi-minute phases, so back-to-back reps of one
    # query can all land in a slow phase — spreading a query's reps
    # across passes makes per-query min robust to a single phase.
    #
    # Timing convention (fixed round 3, for cross-round comparability):
    # ``queries`` holds EXECUTION seconds only — the round-1 method, so
    # the headline series is like-for-like across rounds. Construction
    # time (usually ~0; nonzero for queries that run driver-side jobs
    # while building, e.g. bucket-width count()s) is reported separately
    # in ``construct_sec``.
    timings: dict[str, float] = {}
    construct: dict[str, float] = {}
    for _ in range(3):
        for name in HEADLINE:
            if name not in QUERIES:
                continue
            t0 = time.perf_counter()
            df = QUERIES[name](spark, sf_dir)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            construct[name] = round(min(construct.get(name, float("inf")), t1 - t0), 3)
            timings[name] = round(min(timings.get(name, float("inf")), t2 - t1), 3)
    spark.stop()
    return timings, construct, n_events


def corpus_curation_profile(parallelism: int, sf_dir: str) -> dict:
    """Tracked bench number for the composed corpus_curation flagship
    (kept OUT of the headline suite so its MinHash+connected-components
    cost doesn't break cross-round comparability of the suite total).

    Stage timings are *cumulative-prefix* materializations (each stage
    re-runs its upstream; the delta between consecutive entries is that
    stage's marginal cost). ``full_sec`` is best-of-2 end-to-end."""
    from marc_data_migration_spark.entry_queries import QUERIES as _Q
    from marc_data_migration_spark.functions.text_analysis import quality_features
    from marc_data_migration_spark.operators.text_dedup import (
        connected_components,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    spark = get_spark(f"curation-{parallelism}", parallelism=parallelism)
    try:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
        good = docs.filter(quality_features("text")["n_tokens"] >= 30)
        stages: dict[str, float] = {}

        t0 = time.perf_counter()
        good.write.format("noop").mode("overwrite").save()
        stages["quality_gate"] = round(time.perf_counter() - t0, 3)

        t0 = time.perf_counter()
        pairs = lsh_candidate_pairs(minhash_signatures(good))
        pairs.write.format("noop").mode("overwrite").save()
        stages["minhash_lsh_pairs"] = round(time.perf_counter() - t0, 3)

        t0 = time.perf_counter()
        comp = connected_components(pairs)  # driver-looped: jobs run here
        comp.write.format("noop").mode("overwrite").save()
        stages["connected_components"] = round(time.perf_counter() - t0, 3)

        full = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            df = _Q["corpus_curation"](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            full = min(full, time.perf_counter() - t0)
        return {"full_sec": round(full, 3), "cumulative_stage_sec": stages}
    finally:
        spark.stop()


def synth_docs(spark, n_docs: int):
    """Deterministic distributed document feed for the ingest bench:
    ~80 md5-chunk tokens per doc (clears the 30-token quality gate,
    near-zero top_token_ratio), with every 10th doc an EXACT copy of
    its decade's first doc so the incremental dedup path has real
    cross-batch work to do."""
    from pyspark.sql import functions as F

    src = F.when(F.col("id") % 10 == 9, F.col("id") - 9).otherwise(F.col("id"))
    base = src.cast("string")
    # one md5 = 32 hex chars; spacing every 4 chars yields 8 tokens per
    # hash, 10 hashes = 80 distinct-ish tokens per doc
    chunks = [
        F.regexp_replace(
            F.md5(F.concat(F.lit(f"t{i}#"), base)), "(.{4})", "$1 "
        )
        for i in range(10)
    ]
    return spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.trim(F.concat_ws(" ", *chunks)).alias("text"),
    )


def ingest_run(parallelism: int, n_docs: int, n_batches: int) -> dict:
    """End-to-end corpus-ingest path throughput: quality gate → PII
    scrub → incremental cross-batch LSH dedup → batch_id-partitioned
    parquet commit, per micro-batch. Input batches are materialized
    (persisted + counted) BEFORE the timed window, so the number is the
    ingest path's cost, not the synthetic generator's."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from marc_data_migration_spark.streaming.corpus_ingest import CorpusIngest

    spark = get_spark(f"ingest-{parallelism}-{n_batches}", parallelism=parallelism)
    tmp = tempfile.mkdtemp(prefix="ingest_bench_")
    try:
        docs = synth_docs(spark, n_docs)
        batches = []
        for b in range(n_batches):
            bd = docs.filter(F.col("doc_id") % n_batches == b).persist()
            bd.count()
            batches.append(bd)
        ingest = CorpusIngest(spark, os.path.join(tmp, "corpus"))
        t0 = time.perf_counter()
        for b, bd in enumerate(batches):
            ingest.apply_batch(bd, b)
        sec = time.perf_counter() - t0
        m = ingest.metrics().agg(
            F.sum("n_in").alias("n_in"),
            F.sum("n_dups").alias("n_dups"),
            F.sum("n_kept").alias("n_kept"),
        ).collect()[0]
        for bd in batches:
            bd.unpersist()
        return {
            "n_batches": n_batches,
            "sec": round(sec, 2),
            "docs_per_sec": round(n_docs / sec),
            "n_in": int(m.n_in),
            "n_dups": int(m.n_dups),
            "n_kept": int(m.n_kept),
        }
    finally:
        spark.stop()
        shutil.rmtree(tmp, ignore_errors=True)


def bpe_train_profile(parallelism: int, sf_dir: str, n_merges: int = 1000) -> dict:
    """Real-vocab-scale BPE training cost: distributed word-frequency
    collapse + collect + driver-local merge schedule (functions/
    bpe._fit_local) at n_merges=1000 — the path that replaces one
    Spark job per merge round (32k+ sequential jobs at real vocab
    sizes) with a single bounded collect."""
    from marc_data_migration_spark.functions.bpe import _fit_local, word_frequencies

    spark = get_spark(f"bpe-train-{parallelism}", parallelism=parallelism)
    try:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("text")
        t0 = time.perf_counter()
        rows = word_frequencies(docs).collect()
        t1 = time.perf_counter()
        schedule = _fit_local([(r["w"], int(r["n"])) for r in rows], n_merges)
        t2 = time.perf_counter()
        return {
            "n_merges_requested": n_merges,
            "n_merges_learned": len(schedule),
            "n_distinct_words": len(rows),
            "collapse_collect_sec": round(t1 - t0, 3),
            "schedule_sec": round(t2 - t1, 3),
            "total_sec": round(t2 - t0, 3),
        }
    finally:
        spark.stop()


def _load_prior_bench(sf: float) -> tuple[str, dict] | None:
    """Most recent driver-recorded BENCH_r{N}.json at the same sf; the
    driver stores the bench stdout JSON (possibly truncated at the
    front) under 'tail', so repair before parsing."""
    import glob
    import re

    def round_no(p: str) -> int:
        m = re.search(r"BENCH_r(\d+)\.json$", p)
        return int(m.group(1)) if m else -1

    here = os.path.dirname(os.path.abspath(__file__))
    candidates = sorted(
        glob.glob(os.path.join(here, "BENCH_r*.json")), key=round_no, reverse=True
    )
    for path in candidates:
        try:
            rec = json.load(open(path))
        except (OSError, json.JSONDecodeError):
            continue
        if rec.get("sf") != sf:
            continue
        parsed = rec.get("parsed")
        if not isinstance(parsed, dict):
            tail = rec.get("tail", "")
            i = tail.find("metric")
            if i < 0:
                continue
            try:
                parsed = json.loads('{"' + tail[i:].strip())
            except json.JSONDecodeError:
                continue
        if isinstance(parsed.get("queries"), dict):
            return os.path.basename(path), parsed
    return None


# Queries whose DEFINITION changed since the prior recorded bench, so a
# cross-round time ratio compares different work. Flags for these land
# under "expected" (with the reason) instead of "flagged"; remove each
# entry once a bench at the new definition has been recorded.
SEMANTICS_CHANGED: dict[str, str] = {
    "fuzzy_ratio_pairs": (
        "r05 derived oracle added JVM levenshtein + InDel band columns "
        "(r04 form was rows-only UDF score)"
    ),
}


def regression_gate(
    timings: dict[str, float], sf: float, threshold: float = 2.0
) -> dict | None:
    """Per-query regression gate vs the prior round's recorded bench at
    the same sf. The sandbox VM throttles in multi-minute phases, so
    raw ratios are normalized by the MEDIAN ratio across all shared
    queries (the phase hits every query alike; a real regression is a
    per-query outlier against it). Queries whose normalized ratio
    exceeds ``threshold`` are flagged loudly on stderr — except those
    annotated in SEMANTICS_CHANGED, which report under "expected" with
    the reason; with --strict-regression the process exits 1 after
    printing the JSON."""
    import statistics

    prior = _load_prior_bench(sf)
    if prior is None:
        return None
    name, parsed = prior
    prev = parsed["queries"]
    shared = sorted(set(prev) & set(timings))
    ratios = {
        q: timings[q] / prev[q] for q in shared if prev[q] > 0 and timings[q] > 0
    }
    if len(ratios) < 3:
        return None
    med = statistics.median(ratios.values())
    flagged = {
        q: {
            "prev_sec": prev[q],
            "cur_sec": timings[q],
            "normalized_ratio": round(r / med, 2),
        }
        for q, r in sorted(ratios.items())
        if med > 0 and r / med > threshold
    }
    expected = {
        q: {**v, "reason": SEMANTICS_CHANGED[q]}
        for q, v in flagged.items()
        if q in SEMANTICS_CHANGED
    }
    flagged = {q: v for q, v in flagged.items() if q not in SEMANTICS_CHANGED}
    out = {
        "baseline": name,
        "n_shared": len(ratios),
        "median_ratio": round(med, 3),
        "threshold_x": threshold,
        "flagged": flagged,
        "expected": expected,
    }
    if flagged:
        print(
            f"REGRESSION GATE FAILED vs {name}: "
            + ", ".join(
                f"{q} {v['prev_sec']}s -> {v['cur_sec']}s ({v['normalized_ratio']}x norm)"
                for q, v in flagged.items()
            ),
            file=sys.stderr,
        )
    return out


def synth_feed(spark, n_events: int, n_convs: int):
    """Deterministic Spark-generated change feed (distributed, no
    testdata dependency) — big enough that the scaling measurement is
    compute-bound, not overhead-bound."""
    from pyspark.sql import functions as F

    return spark.range(n_events).select(
        F.when(F.col("id") % 17 == 0, "D")
        .when(F.col("id") % 5 == 0, "I")
        .otherwise("U")
        .alias("op"),
        F.col("id").alias("lsn"),
        F.timestamp_micros(F.col("id") + 1_700_000_000_000_000).alias("commit_ts"),
        F.concat(F.lit("conv-"), F.pmod(F.xxhash64("id"), F.lit(n_convs)).cast("string")).alias(
            "conv_id"
        ),
        F.pmod(F.col("id"), F.lit(40)).cast("int").alias("turn_idx"),
        F.element_at(
            F.array(F.lit("user"), F.lit("assistant"), F.lit("system"), F.lit("tool")),
            (F.pmod(F.col("id"), F.lit(4)) + 1).cast("int"),
        ).alias("role"),
        F.concat(F.lit("turn text "), F.md5(F.col("id").cast("string"))).alias("text"),
        F.element_at(
            F.array(F.lit("search"), F.lit("python"), F.lit("none")),
            (F.pmod(F.col("id"), F.lit(3)) + 1).cast("int"),
        ).alias("tool"),
        F.timestamp_micros(F.col("id")).alias("ts"),
    )


def scaling_run(parallelism: int, n_events: int) -> float:
    """One CDC apply (dedup + full-outer merge + route counters) over the
    synthetic feed; returns wall seconds (best-of happens across rounds in main)."""
    from marc_data_migration_spark.operators.merge import apply_changes
    from marc_data_migration_spark.session import get_spark as _gs

    spark = _gs(f"scal-{parallelism}", parallelism=parallelism)
    n_convs = max(n_events // 200, 10)
    base = synth_feed(spark, n_events // 4, n_convs).drop("op", "commit_ts")
    changes = synth_feed(spark, n_events, n_convs)
    res = apply_changes(base, changes)
    res.final.write.format("noop").mode("overwrite").save()  # warm
    t0 = time.perf_counter()
    apply_changes(base, changes).final.write.format("noop").mode("overwrite").save()
    dt = time.perf_counter() - t0
    spark.stop()
    return dt


def stream_e2e_run(
    parallelism: int,
    n_events: int,
    n_batches: int = 4,
    sink_mode: str = "cow",
    auto_compact_deltas: int | None = None,
) -> dict:
    """End-to-end tail→commit throughput (the north metric's shape):
    stage a synthetic WAL as parquet chunks, then time readStream →
    foreachBatch → dedup/merge → MERGE commit + lineage append,
    checkpoint included. ``sink_mode`` — 'cow' rewrites touched buckets
    per batch; 'mor' writes per-batch delta files (merge-on-read).
    ``phase_sec`` is the sink's ``phase_s``, summed over the batches."""
    import shutil
    import tempfile

    from marc_data_migration_spark.session import get_spark as _gs
    from marc_data_migration_spark.streaming.sink_parquet import (
        MorParquetMergeSink,
        ParquetMergeSink,
    )
    from marc_data_migration_spark.streaming.stream import run_stream

    from pyspark.sql import functions as F

    spark = _gs(f"stream-{parallelism}", parallelism=parallelism)
    work = tempfile.mkdtemp(prefix="bench-stream-", dir="/dev/shm" if os.path.isdir("/dev/shm") else None)
    try:
        n_convs = max(n_events // 200, 10)
        feed_dir = os.path.join(work, "feed")
        os.makedirs(feed_dir)
        per_chunk = n_events // n_batches
        # one parquet file per micro-batch (file source batches by file)
        for i in range(n_batches):
            stage = os.path.join(work, f"stage{i}")
            (
                synth_feed(spark, per_chunk, n_convs)
                .withColumn("lsn", F.col("lsn") + i * per_chunk)
                # repartition, not coalesce: coalesce(1) would generate
                # the whole chunk in one task (untimed, but slow setup
                # at 8M-event runs); the shuffle generates in parallel
                .repartition(1)
                .write.mode("overwrite")
                .parquet(stage)
            )
            part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
            os.rename(
                os.path.join(stage, part),
                os.path.join(feed_dir, f"chunk-{i:04d}.parquet"),
            )
        base = synth_feed(spark, n_events // 4, n_convs).drop("op", "commit_ts")
        # bucket count is a TABLE property, not a cluster property — keep
        # it fixed so scaling runs compare identical work at every level
        if sink_mode == "mor":
            sink = MorParquetMergeSink(
                spark,
                os.path.join(work, "lake"),
                n_buckets=32,
                auto_compact_deltas=auto_compact_deltas,
            )
        else:
            sink = ParquetMergeSink(spark, os.path.join(work, "lake"), n_buckets=32)
        sink.init(base)
        t0 = time.perf_counter()
        run_stream(
            spark,
            feed_dir,
            sink,
            os.path.join(work, "ckpt"),
            max_files_per_trigger=1,
            audit=os.environ.get("STREAM_AUDIT", "full"),
        )
        dt = time.perf_counter() - t0
        t_read0 = time.perf_counter()
        n_final = sink.read().count()
        read_sec = time.perf_counter() - t_read0
        out = {
            "sec": round(dt, 2),
            "events_per_sec": round(n_events / dt),
            "final_rows": n_final,
            "read_sec": round(read_sec, 2),
            "phase_sec": {k: round(v, 2) for k, v in sink.phase_s.items()},
        }
        if sink_mode == "mor":
            out["published_deltas"] = len(sink._delta_batch_dirs())
        return out
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


def skew_bench(parallelism: int, n_events: int, rounds: int = 3) -> dict:
    """Hot-key skew evidence (north_star): a Zipf-ish feed where 2 hot
    conversations carry ~50% of events, deduped with each W1 strategy.
    window  = textbook row_number (hot partitions land on one task),
    salted  = two-phase salted window, agg = max(struct) partial agg.
    Interleaved best-of-N per strategy (VM throttle phases)."""
    from pyspark.sql import functions as F

    from marc_data_migration_spark.operators.dedup import latest_per_key
    from marc_data_migration_spark.session import get_spark as _gs

    spark = _gs(f"skew-{parallelism}", parallelism=parallelism)
    n_convs = max(n_events // 200, 10)
    uniform = synth_feed(spark, n_events, n_convs)
    # ~50% of events land on 4 hot (conv_id, turn_idx) keys — the shape
    # that breaks a plain window (whole key → one task) but not the
    # salted two-phase or partial-agg forms. NB: integer `div`, not `/`
    # — float division made turn_idx a constant 0 (2 hot keys) in the
    # first published run.
    is_hot = F.col("lsn") % 4 < 2
    hot = F.concat(F.lit("hot-"), (F.col("lsn") % 2).cast("string"))
    feed = uniform.withColumn(
        "conv_id", F.when(is_hot, hot).otherwise(F.col("conv_id"))
    ).withColumn(
        "turn_idx",
        F.when(is_hot, (F.expr("lsn div 4") % 2).cast("int")).otherwise(
            F.col("turn_idx")
        ),
    )
    methods = ["window", "salted_window", "agg"]
    latest_per_key(feed, method="agg").write.format("noop").mode("overwrite").save()
    best: dict[str, float] = {}
    for _ in range(rounds):
        for m in methods:
            df = latest_per_key(feed, method=m)
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            best[m] = min(best.get(m, float("inf")), time.perf_counter() - t0)
    spark.stop()
    return {m: round(s, 2) for m, s in best.items()}


def contract_line(out: dict, detail_path, window: int = 1900) -> str:
    """The ONE stdout line the driver json-parses, hard-capped under its
    ~2000-char stdout-tail window (r04's full payload overflowed it and
    front-truncated into an unparseable line). Pure function so the cap
    and key set are unit-testable without Spark (tests/test_bench_contract.py).

    Degradation order when over the cap: drop the optional scalar keys,
    then truncate `queries` to the 40 most expensive."""
    slim = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": out["unit"],
        "queries": out["queries"],
        "sf": out["sf"],
        "events_per_sec": out["events_per_sec"],
    }
    for k in ("stream_events_per_sec", "ingest_docs_per_sec"):
        if k in out:
            slim[k] = out[k]
    gate = out.get("regression_gate")
    if isinstance(gate, dict):
        slim["regression_flagged"] = len(gate.get("flagged", []) or [])
    if detail_path:
        slim["detail"] = os.path.relpath(detail_path)
    line = json.dumps(slim)
    if len(line) > window:  # never let the contract line outgrow the window
        for drop in ("detail", "regression_flagged", "ingest_docs_per_sec",
                     "stream_events_per_sec"):
            slim.pop(drop, None)
            line = json.dumps(slim)
            if len(line) <= window:
                break
    if len(line) > window:
        slim["queries"] = {
            k: v for k, v in sorted(
                out["queries"].items(), key=lambda kv: -kv[1]
            )[:40]
        }
        line = json.dumps(slim)
    return line


def main() -> None:
    if "--skew" in sys.argv:
        n_events = int(os.environ.get("SKEW_EVENTS", "8000000"))
        secs = skew_bench(CPUS, n_events)
        print(
            json.dumps(
                {
                    "metric": "salted two-phase dedup speedup vs plain window on hot-key feed",
                    "value": round(secs["window"] / secs["salted_window"], 2),
                    "unit": "x",
                    "n_events": n_events,
                    "sec": secs,
                }
            )
        )
        return
    if "--stream-scaling" in sys.argv:
        # The north metric names the END-TO-END path (tail → commit);
        # this measures that same path at two parallelism levels,
        # interleaved across rounds like --scaling.
        from scripts.cpu_scaling_control import control_efficiency

        n_events = int(os.environ.get("STREAM_EVENTS", "2000000"))
        n_batches = int(os.environ.get("STREAM_BATCHES", "2"))
        rounds = int(os.environ.get("SCALING_ROUNDS", "2"))
        sink_mode = os.environ.get("STREAM_SINK", "cow")
        lo, hi = max(CPUS // 4, 1), CPUS
        ctl_before = control_efficiency(lo, hi, rounds=2)
        t_lo, t_hi = float("inf"), float("inf")
        for _ in range(rounds):
            t_lo = min(
                t_lo,
                stream_e2e_run(lo, n_events, n_batches=n_batches, sink_mode=sink_mode)["sec"],
            )
            t_hi = min(
                t_hi,
                stream_e2e_run(hi, n_events, n_batches=n_batches, sink_mode=sink_mode)["sec"],
            )
        ctl_after = control_efficiency(lo, hi, rounds=2)
        thr_lo, thr_hi = n_events / t_lo, n_events / t_hi
        eff = (thr_hi / thr_lo) / (hi / lo)
        ctl = min(max(ctl_before["value"], ctl_after["value"]), 1.0)
        print(
            json.dumps(
                {
                    "metric": "stream tail->commit scaling efficiency (local proxy for N vs 4N)",
                    "value": round(eff, 3),
                    "unit": "ratio",
                    "n_events": n_events,
                    "sec": {str(lo): round(t_lo, 2), str(hi): round(t_hi, 2)},
                    "events_per_sec": {str(lo): round(thr_lo), str(hi): round(thr_hi)},
                    "cpu_control": {"before": ctl_before, "after": ctl_after},
                    "normalized_efficiency": round(min(eff / ctl, 1.0), 3)
                    if ctl > 0
                    else None,
                }
            )
        )
        return
    if "--mor-compaction" in sys.argv:
        # Bounded read cost under auto-compaction: the same 20-batch MoR
        # stream with and without the auto_compact_deltas knob. Without
        # it the read view merges base + 20 deltas; with it the fan-in
        # never exceeds the threshold.
        n_events = int(os.environ.get("STREAM_EVENTS", "2000000"))
        n_batches = int(os.environ.get("STREAM_BATCHES", "20"))
        thresh = int(os.environ.get("AUTO_COMPACT_DELTAS", "5"))
        runs = {
            "no_compaction": stream_e2e_run(CPUS, n_events, n_batches=n_batches, sink_mode="mor"),
            f"auto_compact_{thresh}": stream_e2e_run(
                CPUS, n_events, n_batches=n_batches, sink_mode="mor",
                auto_compact_deltas=thresh,
            ),
        }
        base = runs["no_compaction"]["read_sec"]
        comp = runs[f"auto_compact_{thresh}"]["read_sec"]
        print(
            json.dumps(
                {
                    "metric": "MoR read-cost bound from auto-compaction (20-batch stream)",
                    "value": round(base / comp, 2) if comp > 0 else None,
                    "unit": "x read speedup",
                    "n_events": n_events,
                    "n_batches": n_batches,
                    "runs": runs,
                }
            )
        )
        return
    if "--stream-sinks" in sys.argv:
        # CoW (touched-bucket rewrite) vs MoR (per-batch delta files) on
        # the identical feed, interleaved best-of-N — the write-
        # amplification comparison behind the --sink mor CLI flag.
        n_events = int(os.environ.get("STREAM_EVENTS", "2000000"))
        n_batches = int(os.environ.get("STREAM_BATCHES", "4"))
        rounds = int(os.environ.get("SCALING_ROUNDS", "2"))
        best: dict[str, float] = {}
        for _ in range(rounds):
            for mode in ("cow", "mor"):
                sec = stream_e2e_run(CPUS, n_events, n_batches=n_batches, sink_mode=mode)["sec"]
                best[mode] = min(best.get(mode, float("inf")), sec)
        print(
            json.dumps(
                {
                    "metric": "MoR vs CoW stream sink speedup (same feed, interleaved best-of-N)",
                    "value": round(best["cow"] / best["mor"], 2),
                    "unit": "x",
                    "n_events": n_events,
                    "sec": {m: round(s, 2) for m, s in best.items()},
                    "events_per_sec": {m: round(n_events / s) for m, s in best.items()},
                }
            )
        )
        return
    if "--ingest" in sys.argv:
        # Corpus-ingest path throughput (docs/sec through gate + scrub +
        # incremental dedup + commit), swept over batch counts: the same
        # doc volume in fewer/larger vs more/smaller batches exposes the
        # per-batch fixed cost (index probe + publish + two parquet
        # commits) against the per-doc cost.
        n_docs = int(os.environ.get("INGEST_DOCS", "100000"))
        sweep = [
            int(x)
            for x in os.environ.get("INGEST_BATCHES", "2,8").split(",")
        ]
        runs = [ingest_run(CPUS, n_docs, nb) for nb in sweep]
        best = max(r["docs_per_sec"] for r in runs)
        print(
            json.dumps(
                {
                    "metric": "corpus ingest end-to-end throughput (gate+scrub+dedup+commit)",
                    "value": best,
                    "unit": "docs/sec",
                    "n_docs": n_docs,
                    "sweep": runs,
                }
            )
        )
        return
    if "--stream" in sys.argv:
        n_events = int(os.environ.get("STREAM_EVENTS", "2000000"))
        n_batches = int(os.environ.get("STREAM_BATCHES", "4"))
        res = stream_e2e_run(CPUS, n_events, n_batches=n_batches, sink_mode=os.environ.get("STREAM_SINK", "cow"))
        print(
            json.dumps(
                {
                    "metric": "stream end-to-end tail->commit throughput",
                    "value": res["events_per_sec"],
                    "unit": "events/sec",
                    "n_events": n_events,
                    **res,
                }
            )
        )
        return
    if "--scaling" in sys.argv:
        # Sandbox proxy for the N vs 4N executor rule (BASELINE.md): the
        # same deterministic synthetic feed at two parallelism levels;
        # efficiency = (thr_hi/thr_lo) / (hi/lo). The Spark measurement
        # is SANDWICHED between two runs of the pure-CPU no-Spark control
        # (scripts/cpu_scaling_control.py) — this VM's throttle phases can
        # exceed the measured effect, so the JSON carries raw + control +
        # normalized (raw/control, capped at 1.0) instead of narrating it.
        from scripts.cpu_scaling_control import control_efficiency

        n_events = int(os.environ.get("SCALING_EVENTS", "4000000"))
        rounds = int(os.environ.get("SCALING_ROUNDS", "3"))
        lo, hi = max(CPUS // 4, 1), CPUS
        ctl_before = control_efficiency(lo, hi, rounds=2)
        # interleave the two levels across rounds so the sandbox VM's
        # throttled phases hit both equally; take best per level
        t_lo, t_hi = float("inf"), float("inf")
        for _ in range(rounds):
            t_lo = min(t_lo, scaling_run(lo, n_events))
            t_hi = min(t_hi, scaling_run(hi, n_events))
        ctl_after = control_efficiency(lo, hi, rounds=2)
        thr_lo, thr_hi = n_events / t_lo, n_events / t_hi
        eff = (thr_hi / thr_lo) / (hi / lo)
        ctl = min(max(ctl_before["value"], ctl_after["value"]), 1.0)
        print(
            json.dumps(
                {
                    "metric": "cdc_apply scaling efficiency (local proxy for N vs 4N)",
                    "value": round(eff, 3),
                    "unit": "ratio",
                    "n_events": n_events,
                    "sec": {str(lo): round(t_lo, 2), str(hi): round(t_hi, 2)},
                    "events_per_sec": {str(lo): round(thr_lo), str(hi): round(thr_hi)},
                    "cpu_control": {"before": ctl_before, "after": ctl_after},
                    "normalized_efficiency": round(min(eff / ctl, 1.0), 3)
                    if ctl > 0
                    else None,
                }
            )
        )
        return
    timings, construct, n_events = run_suite(CPUS, SF_DIR)
    total = round(sum(timings.values()), 3)
    # Everything after the suite is a best-effort add-on: a failure in
    # any one block must NOT discard the ~25 min of suite timings —
    # degrade that key to an error string and still print the JSON.
    curation = None
    if "--no-curation" not in sys.argv:
        try:
            curation = corpus_curation_profile(CPUS, SF_DIR)
        except Exception as e:  # noqa: BLE001
            curation = {"error": f"{type(e).__name__}: {e}"}
    # stream/ingest continuity (VERDICT r04 #6): the end-to-end paths
    # get machine-comparable keys in the per-round JSON, not just
    # BENCH/BASELINE.md prose. Sized to add ~1 min to the suite.
    extras: dict = {}
    if "--no-extras" not in sys.argv:
        try:
            stream = stream_e2e_run(
                CPUS,
                int(os.environ.get("BENCH_STREAM_EVENTS", "1000000")),
                n_batches=2,
                sink_mode="cow",
            )
            extras["stream_events_per_sec"] = stream["events_per_sec"]
            extras["stream_e2e"] = stream
        except Exception as e:  # noqa: BLE001
            extras["stream_e2e"] = {"error": f"{type(e).__name__}: {e}"}
        try:
            ingest = ingest_run(
                CPUS, int(os.environ.get("BENCH_INGEST_DOCS", "50000")), 4
            )
            extras["ingest_docs_per_sec"] = ingest["docs_per_sec"]
            extras["ingest_e2e"] = ingest
        except Exception as e:  # noqa: BLE001
            extras["ingest_e2e"] = {"error": f"{type(e).__name__}: {e}"}
        try:
            extras["bpe_train_1k"] = bpe_train_profile(CPUS, SF_DIR)
        except Exception as e:  # noqa: BLE001
            extras["bpe_train_1k"] = {"error": f"{type(e).__name__}: {e}"}
    try:
        gate = regression_gate(timings, _sf(SF_DIR))
    except Exception as e:  # noqa: BLE001
        gate = {"error": f"{type(e).__name__}: {e}"}
    out = {
        "metric": "headline query suite wall time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "construct_sec": construct,
        "sf": _sf(SF_DIR),
        "events_per_sec": round(n_events / timings["cdc_apply"])
        if "cdc_apply" in timings
        else None,
        "corpus_curation": curation,
        **extras,
        "regression_gate": gate,
    }
    # The driver captures only the LAST ~2000 chars of stdout and
    # json-parses the final line; r04's full payload outgrew that window
    # and front-truncated into an unparseable line (BENCH_r04.json
    # parsed=null). So: full detail goes to a sidecar file, stdout gets
    # a slim line with the contract keys plus scalar continuity keys,
    # hard-guarded under the window.
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "BENCH",
        f"bench_detail_sf{_sf(SF_DIR)}.json",
    )
    try:
        os.makedirs(os.path.dirname(detail_path), exist_ok=True)
        with open(detail_path, "w") as fh:
            json.dump(out, fh, indent=1)
    except OSError:
        detail_path = None
    print(contract_line(out, detail_path))
    if (
        "--strict-regression" in sys.argv
        and gate is not None
        and gate.get("flagged")
    ):
        sys.exit(1)


if __name__ == "__main__":
    main()
