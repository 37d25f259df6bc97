"""Streaming shell tests (SURVEY.md §5 items 2/4): staged-WAL tail via
foreachBatch equals the oracle; checkpoint resume mid-stream equals an
uninterrupted run; replayed batches are no-ops (exactly-once).
"""

from __future__ import annotations

import numpy as np

from marc_data_migration_spark import feedgen, oracle
from marc_data_migration_spark.schemas import KEY_COLS
from marc_data_migration_spark.streaming.sink_parquet import ParquetMergeSink
from marc_data_migration_spark.streaming.stream import run_stream, stage_feed_chunks


def _chunks(ch_pd, n):
    return [g.reset_index(drop=True) for g in np.array_split(ch_pd, n)]


def _setup(spark, tmp_path, variant="upsert", n_events=400, seed=3):
    base_pd = feedgen.gen_transcripts(n_convs=20, seed=seed)
    ch_pd = feedgen.gen_changes(variant, n_events=n_events, n_convs=20, seed=seed)
    # stream consumes the WAL in order: sort chunks by lsn like a real log
    ch_pd = ch_pd.sort_values("lsn").reset_index(drop=True)
    sink = ParquetMergeSink(spark, str(tmp_path / "target"), n_buckets=8)
    sink.init(spark.createDataFrame(base_pd))
    return base_pd, ch_pd, sink


def _final_text(df):
    pdf = df.orderBy(*KEY_COLS).toPandas()
    return list(zip(pdf.conv_id, pdf.turn_idx, pdf.text.fillna("<N>"), pdf.lsn))


def test_stream_equals_oracle(spark, tmp_path):
    base_pd, ch_pd, sink = _setup(spark, tmp_path)
    stage_feed_chunks(_chunks(ch_pd, 4), str(tmp_path / "feed"))
    run_stream(spark, str(tmp_path / "feed"), sink, str(tmp_path / "ckpt"))
    want = oracle.replay(base_pd, ch_pd)
    got = _final_text(sink.read())
    assert got == list(zip(want.conv_id, want.turn_idx, want.text.fillna("<N>"), want.lsn))
    # lineage ledger: one batch_id per micro-batch, partitioned rows
    lin = sink.lineage().toPandas()
    assert lin.batch_id.nunique() == 4
    assert (lin.rows_applied >= 0).all()


def test_checkpoint_resume(spark, tmp_path):
    base_pd, ch_pd, sink = _setup(spark, tmp_path, n_events=400, seed=11)
    chunks = _chunks(ch_pd, 4)
    feed = str(tmp_path / "feed")
    ckpt = str(tmp_path / "ckpt")
    # phase 1: only the first half of the WAL exists
    stage_feed_chunks(chunks[:2], feed)
    run_stream(spark, feed, sink, ckpt)
    ids_phase1 = sink.applied_batch_ids()
    # phase 2: more WAL arrives; same checkpoint resumes where it left off
    stage_feed_chunks(chunks[2:], feed, start_at=2)
    run_stream(spark, feed, sink, ckpt)
    ids_phase2 = sink.applied_batch_ids()
    assert ids_phase1 < ids_phase2  # strictly extended, no re-apply
    want = oracle.replay(base_pd, ch_pd)
    got = _final_text(sink.read())
    assert got == list(zip(want.conv_id, want.turn_idx, want.text.fillna("<N>"), want.lsn))


def test_staged_chunks_order_by_mtime(tmp_path):
    """The file source orders a feed by modification time alone: staged
    chunks, including a later call's (start_at), must carry strictly
    increasing mtimes in index order, even when written in one tick."""
    import os

    import pandas as pd

    feed = str(tmp_path / "feed")
    chunks = [pd.DataFrame({"lsn": [i]}) for i in range(4)]
    paths = stage_feed_chunks(chunks, feed) + stage_feed_chunks(chunks, feed, start_at=4)
    mtimes = [os.stat(p).st_mtime_ns // 1_000_000 for p in paths]  # Hadoop's resolution
    assert mtimes == sorted(set(mtimes)) and len(mtimes) == 8


def test_replayed_batch_is_noop(spark, tmp_path):
    base_pd, ch_pd, sink = _setup(spark, tmp_path, n_events=200, seed=5)
    batch = spark.createDataFrame(ch_pd)
    assert sink.apply_merge(batch, batch_id=0) is not None
    state1 = _final_text(sink.read())
    assert sink.apply_merge(batch, batch_id=0) is None  # ledger hit
    assert _final_text(sink.read()) == state1
    # even a forced re-apply under a new batch_id converges (LSN guard)
    sink.apply_merge(batch, batch_id=1)
    assert _final_text(sink.read()) == state1


def test_staging_crash_recovery(spark, tmp_path, monkeypatch):
    """Reopening the sink (= process restart) applies one rule to every
    ``_staging_batch_<id>``: publish it when the ledger holds <id>, else
    delete it. Three crash states: (a) an un-ledgered staging dir is
    dropped and the base is intact; (b) a ledgered batch whose live
    bucket was already dropped before its staged copy landed rolls
    forward from staging; (c) a ledgered batch that emptied a bucket
    left only an empty marker for it, and the bucket ends up gone."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from marc_data_migration_spark.schemas import CHANGES_SCHEMA
    from marc_data_migration_spark.streaming.sink_parquet import bucket_expr

    base_pd, ch_pd, sink = _setup(spark, tmp_path, n_events=200, seed=13)
    before = _final_text(sink.read())
    path = sink.path
    buckets = sorted(n for n in os.listdir(sink.data_path) if n.startswith("bucket="))
    real_replace = os.replace

    def crash_on_first(marker):
        """os.replace that fails once, on the first source under ``marker``."""
        failed = []

        def failing(src, dst, *a, **k):
            if not failed and marker in str(src):
                failed.append(str(src))
                raise OSError(f"injected crash renaming {src}")
            return real_replace(src, dst, *a, **k)

        monkeypatch.setattr(os, "replace", failing)
        return failed

    # (a) batch 7 died before its ledger: an empty marker for a live
    # bucket and a staged audit table; publishing it would drop the bucket
    staging = os.path.join(path, "_staging_batch_7")
    os.makedirs(os.path.join(staging, "data", buckets[0]))
    os.makedirs(os.path.join(staging, "routed"))
    reopened = ParquetMergeSink(spark, path, n_buckets=8)
    assert not os.path.exists(staging)
    assert _final_text(reopened.read()) == before  # base intact

    # (b) batch 0 is ledgered; its first bucket swap dropped the live
    # bucket, then died before the staged copy was renamed in
    failed = crash_on_first(os.path.join("_staging_batch_0", "data"))
    with pytest.raises(OSError, match="injected"):
        reopened.apply_merge(spark.createDataFrame(ch_pd), batch_id=0)
    monkeypatch.setattr(os, "replace", real_replace)
    dropped = os.path.basename(failed[0])
    assert dropped in buckets
    assert not os.path.exists(os.path.join(path, "data", dropped))
    rolled = ParquetMergeSink(spark, path, n_buckets=8)
    assert 0 in rolled.applied_batch_ids()
    assert not os.path.exists(os.path.join(path, "_staging_batch_0"))
    want = oracle.replay(base_pd, ch_pd)
    after = _final_text(rolled.read())
    assert after == list(zip(want.conv_id, want.turn_idx, want.text.fillna("<N>"), want.lsn))
    assert rolled.apply_merge(spark.createDataFrame(ch_pd), batch_id=0) is None

    # (c) batch 1 deletes every row of one bucket; it is ledgered and
    # dies at its first publish rename, with the marker still staged
    live = rolled.read().withColumn("b", bucket_expr(8))
    k = live.first().b
    keys = live.filter(F.col("b") == k).select("conv_id", "turn_idx").collect()
    lsn0 = int(ch_pd.lsn.max()) + 1
    deletes = [
        ("D", lsn0 + i, None, r.conv_id, r.turn_idx, None, None, None, None)
        for i, r in enumerate(keys)
    ]
    crash_on_first("_staging_batch_1")
    with pytest.raises(OSError, match="injected"):
        rolled.apply_merge(spark.createDataFrame(deletes, CHANGES_SCHEMA), batch_id=1)
    monkeypatch.setattr(os, "replace", real_replace)
    assert os.path.isdir(os.path.join(path, "_staging_batch_1", "data", f"bucket={k}"))
    assert os.path.isdir(os.path.join(path, "data", f"bucket={k}"))
    final = ParquetMergeSink(spark, path, n_buckets=8)
    assert not os.path.exists(os.path.join(path, "_staging_batch_1"))
    assert not os.path.exists(os.path.join(path, "data", f"bucket={k}"))
    gone = {(r.conv_id, r.turn_idx) for r in keys}
    assert _final_text(final.read()) == [r for r in after if r[:2] not in gone]


def test_delete_empties_bucket(spark, tmp_path):
    """All rows of a bucket deleted → bucket directory dropped."""
    import pandas as pd

    base_pd = feedgen.gen_transcripts(n_convs=2, max_turns=2, seed=7)
    sink = ParquetMergeSink(spark, str(tmp_path / "t"), n_buckets=2)
    sink.init(spark.createDataFrame(base_pd))
    dels = pd.DataFrame(
        [
            {
                "op": "D",
                "lsn": 100 + i,
                "commit_ts": pd.Timestamp("2026-02-01"),
                "conv_id": r.conv_id,
                "turn_idx": int(r.turn_idx),
                "role": None,
                "text": None,
                "tool": None,
                "ts": pd.NaT,
            }
            for i, r in enumerate(base_pd.itertuples())
        ]
    )
    sink.apply_merge(spark.createDataFrame(dels), batch_id=0)
    assert sink.read().count() == 0


def test_stream_schema_evolution(spark, tmp_path):
    """Mid-stream additive evolution (north_rule): the v1 feed has no
    tool_meta column; v2 chunks arrive with it. Restarting the tail on
    the same checkpoint with the evolved schema picks up where v1 left
    off, the sink merges the new column additively (old rows read as
    null), and the final state equals the sequential replay oracle."""
    base_pd = feedgen.gen_transcripts(n_convs=20, seed=9)
    ch_pd = feedgen.gen_changes("evolve", n_events=400, n_convs=20, seed=9)
    ch_pd = ch_pd.sort_values("lsn").reset_index(drop=True)
    half = len(ch_pd) // 2
    # the column exists only from the v2 portion of the WAL onward
    ch_pd.loc[: half - 1, "tool_meta"] = None
    v1 = ch_pd.iloc[:half].drop(columns=["tool_meta"])
    v2 = ch_pd.iloc[half:].reset_index(drop=True)
    assert v2.tool_meta.notna().any()

    sink = ParquetMergeSink(spark, str(tmp_path / "target"), n_buckets=8)
    sink.init(spark.createDataFrame(base_pd))
    feed, ckpt = str(tmp_path / "feed"), str(tmp_path / "ckpt")

    stage_feed_chunks(_chunks(v1, 2), feed)
    run_stream(spark, feed, sink, ckpt)
    assert "tool_meta" not in sink.read().columns

    stage_feed_chunks(_chunks(v2, 2), feed, start_at=2)
    run_stream(spark, feed, sink, ckpt, evolved=True)

    got = sink.read().orderBy(*KEY_COLS).toPandas()
    assert "tool_meta" in got.columns
    assert got.tool_meta.isna().any() and got.tool_meta.notna().any()
    # Null-preserve merge (M2/M9) is defined against the *lake* state at
    # each batch boundary, so the oracle replays the same micro-batches
    # in sequence (one staged chunk = one batch at maxFilesPerTrigger=1).
    want = base_pd
    for chunk in _chunks(v1, 2) + _chunks(v2, 2):
        want = oracle.replay(want, chunk)
    want = want.sort_values(KEY_COLS).reset_index(drop=True)
    assert list(zip(got.conv_id, got.turn_idx, got.text.fillna("<N>"), got.lsn)) == list(
        zip(want.conv_id, want.turn_idx, want.text.fillna("<N>"), want.lsn)
    )
    assert list(got.tool_meta.fillna("<N>")) == list(want.tool_meta.fillna("<N>"))


def test_windowed_metrics_stream_equals_batch(spark, tmp_path):
    """A2 as a continuous windowed aggregation: streaming (watermark,
    append mode — only finalized windows emit) produces exactly the
    batch result for every window the watermark has passed."""
    from marc_data_migration_spark.plans.lineage import windowed_change_metrics
    from marc_data_migration_spark.schemas import CHANGES_SCHEMA

    ch_pd = feedgen.gen_changes("upsert", n_events=600, n_convs=20, seed=17)
    ch_pd = ch_pd.sort_values("lsn").reset_index(drop=True)
    feed = str(tmp_path / "feed")
    stage_feed_chunks(_chunks(ch_pd, 3), feed)

    stream = (
        spark.readStream.schema(CHANGES_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    q = (
        windowed_change_metrics(stream, "1 minute", "2 minutes")
        .writeStream.format("memory")
        .queryName("win_metrics")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("win_metrics").orderBy("window_start").toPandas()

    batch = windowed_change_metrics(spark.createDataFrame(ch_pd))
    want = batch.orderBy("window_start").toPandas()
    # append mode withholds windows the watermark hasn't passed (the
    # trailing 2 minutes of event time); everything emitted must match
    # the batch result row-for-row
    assert len(got) >= 1
    merged = want.merge(got, on="window_start", suffixes=("_b", "_s"))
    assert len(merged) == len(got)  # every emitted window exists in batch
    for c in ("n_changes", "n_inserts", "n_updates", "n_deletes", "lsn_min", "lsn_max"):
        assert merged[f"{c}_b"].tolist() == merged[f"{c}_s"].tolist(), c


def test_lineage_only_audit_mode(spark, tmp_path):
    """audit='lineage' sheds the per-change routed/quarantine tables but
    keeps the lineage ledger (the exactly-once guard) and produces the
    identical final state."""
    import os

    base_pd, ch_pd, sink = _setup(spark, tmp_path, n_events=200, seed=23)
    sink.apply_merge(spark.createDataFrame(ch_pd), batch_id=0, audit="lineage")
    assert not os.path.isdir(sink.routed_path)
    assert sink.lineage().count() > 0
    assert sink.apply_merge(spark.createDataFrame(ch_pd), batch_id=0) is None
    want = oracle.replay(base_pd, ch_pd)
    got = _final_text(sink.read())
    assert got == list(zip(want.conv_id, want.turn_idx, want.text.fillna("<N>"), want.lsn))


def test_compact_audit_preserves_content(spark, tmp_path):
    """Compaction rewrites the side tables into few files without
    changing content; the exactly-once ledger still blocks replays."""
    import os

    base_pd, ch_pd, sink = _setup(spark, tmp_path, n_events=300, seed=29)
    chunks = _chunks(ch_pd, 3)
    for i, c in enumerate(chunks):
        sink.apply_merge(spark.createDataFrame(c), batch_id=i)
    routed_before = sink.routed().orderBy("lsn").toPandas()
    lineage_before = sink.lineage().orderBy("batch_id", "partition_id").toPandas()
    n_files = lambda p: len([f for f in os.listdir(p) if f.endswith(".parquet")])
    assert n_files(sink.routed_path) > 2

    before = sink.compact_audit(target_files=2)
    assert before["routed"] > 2
    assert n_files(sink.routed_path) <= 2
    assert sink.routed().orderBy("lsn").toPandas().equals(routed_before)
    assert (
        sink.lineage().orderBy("batch_id", "partition_id").toPandas()
        .equals(lineage_before)
    )
    # a fresh sink instance reads the compacted ledger and still skips
    fresh = ParquetMergeSink(spark, sink.path, n_buckets=sink.n_buckets)
    assert fresh.apply_merge(spark.createDataFrame(chunks[0]), batch_id=0) is None


def test_compact_audit_keeps_evolved_bad_columns(spark, tmp_path):
    """``bad`` stores raw feed rows, so only its files from evolved
    batches carry tool_meta: compacting the mixed files must keep the
    column and every non-null value."""
    import os

    from pyspark.sql import functions as F

    base_pd = feedgen.gen_transcripts(n_convs=20, seed=31)
    ch_pd = feedgen.gen_changes("evolve", n_events=400, n_convs=20, seed=31)
    ch_pd = ch_pd.sort_values("lsn").reset_index(drop=True)
    half = len(ch_pd) // 2
    ch_pd.loc[: half - 1, "tool_meta"] = None
    ch_pd.loc[::25, "conv_id"] = None  # null-key rows in both halves
    v1 = ch_pd.iloc[:half].drop(columns=["tool_meta"])
    v2 = ch_pd.iloc[half:].reset_index(drop=True)
    want_meta = sorted(v2.loc[v2.conv_id.isna(), "tool_meta"].dropna())
    assert want_meta and v1.conv_id.isna().any()

    sink = ParquetMergeSink(spark, str(tmp_path / "target"), n_buckets=8)
    sink.init(spark.createDataFrame(base_pd))
    feed, ckpt = str(tmp_path / "feed"), str(tmp_path / "ckpt")
    stage_feed_chunks(_chunks(v1, 2), feed)
    run_stream(spark, feed, sink, ckpt)
    stage_feed_chunks(_chunks(v2, 2), feed, start_at=2)
    run_stream(spark, feed, sink, ckpt, evolved=True)

    assert sink.compact_audit(target_files=1)["bad"] > 1
    assert len([f for f in os.listdir(sink.bad_path) if f.endswith(".parquet")]) == 1
    bad = spark.read.parquet(sink.bad_path)
    assert "tool_meta" in bad.columns
    got_meta = [r.tool_meta for r in bad.filter(F.col("tool_meta").isNotNull()).collect()]
    assert sorted(got_meta) == want_meta


def test_parse_wal_json_roundtrip(spark):
    """The Kafka-transport JSON parse recovers every CHANGES_SCHEMA
    field (and the evolved column) exactly; malformed payloads become
    all-null rows that split_bad quarantines downstream."""
    import json as _json

    from marc_data_migration_spark.operators.merge import split_bad
    from marc_data_migration_spark.streaming.stream import parse_wal_json

    payload = {
        "op": "U",
        "lsn": 7,
        "commit_ts": "2026-02-01T00:00:05.000000",
        "conv_id": "conv-9",
        "turn_idx": 3,
        "role": "assistant",
        "text": "hello",
        "tool": "search",
        "ts": "2026-02-01T00:00:04.000000",
        "tool_meta": "m1",
    }
    raw = spark.createDataFrame(
        [(_json.dumps(payload),), ("{not json",)], ["value"]
    )
    out = parse_wal_json(raw, evolved=True)
    good, bad = split_bad(out)
    rows = good.collect()
    assert len(rows) == 1 and bad.count() == 1
    r = rows[0]
    assert (r.op, r.lsn, r.conv_id, r.turn_idx, r.role, r.text, r.tool, r.tool_meta) == (
        "U", 7, "conv-9", 3, "assistant", "hello", "search", "m1"
    )
    assert str(r.commit_ts) == "2026-02-01 00:00:05"


def test_stream_salted_with_policy_transform(spark, tmp_path):
    """The salted-repartition path and the policy-transform hook
    (reference UpdatePolicy.execute, record_update.py:475-477) compose:
    a skewed feed streamed with salt_buckets and a change-side column
    transform must equal the oracle replay of the transformed feed."""
    from pyspark.sql import functions as F

    base_pd, ch_pd, sink = _setup(spark, tmp_path, variant="skew", n_events=300, seed=37)
    chunks = _chunks(ch_pd, 3)
    feed = str(tmp_path / "feed")
    stage_feed_chunks(chunks, feed)

    def transform(df):
        return df.withColumn("tool", F.upper("tool"))

    run_stream(
        spark,
        feed,
        sink,
        str(tmp_path / "ckpt"),
        salt_buckets=4,
        transform=transform,
    )
    ch2 = ch_pd.copy()
    ch2["tool"] = ch2["tool"].str.upper()  # NaN-safe
    want = oracle.replay(base_pd, ch2)
    got = sink.read().orderBy(*KEY_COLS).toPandas()
    assert list(zip(got.conv_id, got.turn_idx, got.text.fillna("<N>"), got.lsn)) == list(
        zip(want.conv_id, want.turn_idx, want.text.fillna("<N>"), want.lsn)
    )
    assert got.tool.fillna("<N>").tolist() == want.tool.fillna("<N>").tolist()


def test_out_of_order_wal_segments(spark, tmp_path):
    """A late WAL segment (lower LSNs arriving after higher ones) must
    converge to the same final state: stale changes route as no-ops
    under the LSN guard. Upsert-variant payloads are fully populated,
    so per-batch compaction order cannot affect the surviving values."""
    base_pd, ch_pd, sink = _setup(spark, tmp_path, variant="upsert", n_events=300, seed=41)
    chunks = _chunks(ch_pd, 3)
    feed = str(tmp_path / "feed")
    # stage in scrambled order: the high-LSN tail lands first
    stage_feed_chunks([chunks[2], chunks[0], chunks[1]], feed)
    run_stream(spark, feed, sink, str(tmp_path / "ckpt"))
    want = oracle.replay(base_pd, ch_pd)
    got = _final_text(sink.read())
    assert got == list(zip(want.conv_id, want.turn_idx, want.text.fillna("<N>"), want.lsn))
    # the out-of-order batches produced stale routes, not lost data
    routes = {r.route for r in sink.routed().select("route").distinct().collect()}
    assert "stale" in routes


def test_json_feed_permissive_corrupt_quarantine(spark, tmp_path):
    """S1 permissive parse on a REAL text WAL: a line-JSON feed with
    malformed lines streams to the same final state as the oracle on
    the valid rows, and every corrupt line lands in the sink's
    replay-guarded quarantine with its raw text preserved."""
    import os

    from pyspark.sql import functions as F

    base_pd, ch_pd, sink = _setup(spark, tmp_path, n_events=300, seed=23)
    chunks = _chunks(ch_pd, 3)
    stage_feed_chunks(chunks, str(tmp_path / "feed"), fmt="json")
    # corrupt two lines: one unparseable, one mid-record type failure
    f0 = os.path.join(str(tmp_path / "feed"), "chunk-000000.json")
    with open(f0, "a") as fh:
        fh.write('{"op": "U", "lsn": BROKEN\n')
        fh.write('{"op": "U", "lsn": "not-a-number", "conv_id": "conv-1", "turn_idx": 0}\n')
    run_stream(
        spark, str(tmp_path / "feed"), sink, str(tmp_path / "ckpt"),
        feed_format="json",
    )
    want = oracle.replay(base_pd, ch_pd)
    got = _final_text(sink.read())
    assert got == list(zip(want.conv_id, want.turn_idx, want.text.fillna("<N>"), want.lsn))
    bad = spark.read.parquet(sink.bad_path)
    assert bad.count() == 2
    # raw lines preserved for forensics
    raws = [r.text for r in bad.select("text").collect()]
    assert any(raw is not None and "BROKEN" in raw for raw in raws)
    assert any(raw is not None and "not-a-number" in raw for raw in raws)
    # replay-guarded: re-running the same feed on a fresh checkpoint
    # appends nothing
    run_stream(
        spark, str(tmp_path / "feed"), sink, str(tmp_path / "ckpt2"),
        feed_format="json",
    )
    assert spark.read.parquet(sink.bad_path).count() == 2
    assert _final_text(sink.read()) == got


def _audits(sink):
    """Routed, bad and field-audit row counts, and the lineage rows
    without commit_ts: what a crash must neither lose nor double."""
    import os

    def n(path):
        return sink.spark.read.parquet(path).count() if os.path.isdir(path) else 0

    lineage = sorted(tuple(r) for r in sink.lineage().drop("commit_ts").collect())
    return n(sink.routed_path), n(sink.bad_path), n(sink.field_audit_path), lineage


def test_crash_point_sweep_commit_swap(spark, tmp_path):
    """Machine-enumerated crash windows: fail the Nth os.replace of
    apply_merge (ledger rename, audit publish, bucket swap) for EVERY N,
    reopen the sink (crash recovery), replay the same batch, and require
    convergence to the uninterrupted run's final state and audit tables
    — the exactly-once invariant without hand-picked windows. A crash
    before the ledger rename replays the batch on an untouched table;
    one after it is rolled forward, so the replay returns None exactly
    when the reopened ledger holds the batch."""
    import os

    import pandas as pd

    base_pd = feedgen.gen_transcripts(n_convs=12, seed=21)
    ch_pd = feedgen.gen_changes("upsert", n_events=120, n_convs=12, seed=21)
    ch_pd = pd.concat([ch_pd, ch_pd.head(2).assign(conv_id=None)], ignore_index=True)

    def fresh(name):
        sink = ParquetMergeSink(spark, str(tmp_path / name), n_buckets=4)
        sink.init(spark.createDataFrame(base_pd))
        return sink

    def apply(sink):
        return sink.apply_merge(spark.createDataFrame(ch_pd), batch_id=0, audit="fields")

    clean = fresh("clean")
    assert apply(clean) is not None
    want = _final_text(clean.read())
    want_audits = _audits(clean)
    assert want_audits[1] == 2 and want_audits[2] > 0  # every audit table written

    real_replace = os.replace
    renames = []

    def counting(*a, **k):
        renames.append(str(a[0]))
        return real_replace(*a, **k)

    probe = fresh("probe")  # init OUTSIDE the count: it renames too
    os.replace = counting
    try:
        apply(probe)
    finally:
        os.replace = real_replace
    n_replaces = len(renames)
    # the ledger rename first, then the publish of everything staged:
    # audit files and bucket directories
    ledger_at = 1 + [os.path.basename(r) for r in renames].index(".batch-0.parquet.tmp")
    published = renames[ledger_at:]
    assert ledger_at == 1 and n_replaces > 2
    assert all(os.sep + "_staging_batch_0" + os.sep in r for r in published), renames
    assert any(os.sep + "bucket=" in r for r in published)

    for fail_at in range(1, n_replaces + 1):
        calls = [0]

        def failing(*a, **k):
            calls[0] += 1
            if calls[0] == fail_at:
                raise OSError(f"injected crash at replace #{fail_at}")
            return real_replace(*a, **k)

        sink = fresh(f"crash{fail_at}")
        os.replace = failing
        try:
            try:
                apply(sink)
                crashed = False
            except OSError:
                crashed = True
        finally:
            os.replace = real_replace
        assert crashed, f"replace #{fail_at} was never reached"
        # process restart: recovery runs in __init__, then the stream
        # replays the batch
        reopened = ParquetMergeSink(spark, sink.path, n_buckets=4)
        assert not any(n.startswith("_staging_batch_") for n in os.listdir(reopened.path))
        ledgered = 0 in reopened.applied_batch_ids()
        assert ledgered == (fail_at > ledger_at), f"replace #{fail_at}"
        assert (apply(reopened) is None) == ledgered, f"replace #{fail_at}"
        assert _final_text(reopened.read()) == want, f"diverged at replace #{fail_at}"
        assert _audits(reopened) == want_audits, f"audits differ at replace #{fail_at}"


def test_audit_staging_jobs_count_in_callers_job_group(spark, tmp_path):
    """The audit outputs are staged from pool threads; their Spark jobs
    must still run in the caller's job group, or a per-batch job count
    (and a job-group cancel) silently misses them. On equal inputs the
    `full` audit stages the routed rows that `lineage` does not, so its
    group must hold more jobs."""
    base_pd = feedgen.gen_transcripts(n_convs=12, seed=37)
    ch_pd = feedgen.gen_changes("upsert", n_events=120, n_convs=12, seed=37)
    sc = spark.sparkContext
    jobs = {}
    for audit in ("full", "lineage"):
        sink = ParquetMergeSink(spark, str(tmp_path / audit), n_buckets=4)
        sink.init(spark.createDataFrame(base_pd))
        batch = spark.createDataFrame(ch_pd)
        group = f"audit-{audit}"
        sc.setJobGroup(group, group)
        try:
            sink.apply_merge(batch, batch_id=0, audit=audit)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs[audit] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs["full"] > jobs["lineage"] > 0, jobs


def test_crash_point_sweep_audit_compaction(spark, tmp_path):
    """Every os.replace of compact_audit's two-step swaps fails once;
    after reopen the ledger and audit tables must read identically and
    the exactly-once guard must still refuse a replay."""
    import os

    base_pd, ch_pd, sink = _setup(spark, tmp_path, n_events=200, seed=29)
    for i, chunk in enumerate(_chunks(ch_pd, 4)):
        sink.apply_merge(spark.createDataFrame(chunk), batch_id=i)
    want = _final_text(sink.read())
    want_lineage = sink.lineage().orderBy("batch_id", "partition_id").toPandas()
    real_replace = os.replace

    # count the replace calls of one full compaction (fresh copy)
    import shutil as _sh

    def copy_sink(name):
        dst = str(tmp_path / name)
        _sh.copytree(sink.path, dst)
        return ParquetMergeSink(spark, dst, n_buckets=8)

    probe, counted = copy_sink("probe"), [0]

    def counting(*a, **k):
        counted[0] += 1
        return real_replace(*a, **k)

    os.replace = counting
    try:
        probe.compact_audit(target_files=1)
    finally:
        os.replace = real_replace
    assert counted[0] >= 2

    for fail_at in range(1, counted[0] + 1):
        s = copy_sink(f"crash{fail_at}")
        calls = [0]

        def failing(*a, **k):
            calls[0] += 1
            if calls[0] == fail_at:
                raise OSError(f"injected crash at replace #{fail_at}")
            return real_replace(*a, **k)

        os.replace = failing
        try:
            try:
                s.compact_audit(target_files=1)
                crashed = False
            except OSError:
                crashed = True
        finally:
            os.replace = real_replace
        assert crashed, f"replace #{fail_at} was never reached"
        reopened = ParquetMergeSink(spark, s.path, n_buckets=8)
        assert _final_text(reopened.read()) == want
        got = reopened.lineage().orderBy("batch_id", "partition_id").toPandas()
        assert got.shape == want_lineage.shape
        assert sorted(got["batch_id"]) == sorted(want_lineage["batch_id"])
        # exactly-once guard intact: a replay of batch 0 is still a no-op
        assert reopened.apply_merge(spark.createDataFrame(_chunks(ch_pd, 4)[0]), batch_id=0) is None
