"""Merge-on-read sink (MorParquetMergeSink): per-batch delta files +
last-writer-wins read view + compaction. Must be semantically
indistinguishable from the copy-on-write sink — same oracle, same
exactly-once/idempotence contract — while writing O(batch) rows per
batch instead of rewriting touched buckets.
"""

from __future__ import annotations

import os

import numpy as np

from marc_data_migration_spark import feedgen, oracle
from marc_data_migration_spark.schemas import KEY_COLS
from marc_data_migration_spark.streaming.sink_parquet import (
    MorParquetMergeSink,
    ParquetMergeSink,
)
from marc_data_migration_spark.streaming.stream import run_stream, stage_feed_chunks


def _chunks(ch_pd, n):
    return [g.reset_index(drop=True) for g in np.array_split(ch_pd, n)]


def _setup(spark, tmp_path, variant="upsert", n_events=400, seed=3):
    base_pd = feedgen.gen_transcripts(n_convs=20, seed=seed)
    ch_pd = feedgen.gen_changes(variant, n_events=n_events, n_convs=20, seed=seed)
    ch_pd = ch_pd.sort_values("lsn").reset_index(drop=True)
    sink = MorParquetMergeSink(spark, str(tmp_path / "target"), n_buckets=8)
    sink.init(spark.createDataFrame(base_pd))
    return base_pd, ch_pd, sink


def _final_text(df):
    pdf = df.orderBy(*KEY_COLS).toPandas()
    return list(zip(pdf.conv_id, pdf.turn_idx, pdf.text.fillna("<N>"), pdf.lsn))


def _oracle_state(base_pd, ch_pd):
    want = oracle.replay(base_pd, ch_pd)
    return list(zip(want.conv_id, want.turn_idx, want.text.fillna("<N>"), want.lsn))


def test_mor_stream_equals_oracle(spark, tmp_path):
    base_pd, ch_pd, sink = _setup(spark, tmp_path)
    stage_feed_chunks(_chunks(ch_pd, 4), str(tmp_path / "feed"))
    run_stream(spark, str(tmp_path / "feed"), sink, str(tmp_path / "ckpt"))
    assert _final_text(sink.read()) == _oracle_state(base_pd, ch_pd)
    # delta dirs exist, base buckets untouched since init
    assert len(sink._delta_batch_dirs()) >= 1


def test_mor_matches_cow_sink(spark, tmp_path):
    """Both sinks applied the same chunked feed → identical final state
    (incl. deletes) AND identical side outputs: with the fuzzy gate on,
    audit='fields' and null-key rows in one chunk, the routed, bad,
    lineage and field-audit tables match row for row — both sinks commit
    through the same tail."""
    import pandas as pd

    base_pd = feedgen.gen_transcripts(n_convs=20, seed=5)
    ch_pd = feedgen.gen_changes("delete", n_events=400, n_convs=20, seed=5)
    ch_pd = ch_pd.sort_values("lsn").reset_index(drop=True)
    chunks = _chunks(ch_pd, 3)
    null_keys = chunks[1].head(3).assign(conv_id=None)
    chunks[1] = pd.concat([chunks[1], null_keys], ignore_index=True)
    cow = ParquetMergeSink(spark, str(tmp_path / "cow"), n_buckets=8)
    mor = MorParquetMergeSink(spark, str(tmp_path / "mor"), n_buckets=8)
    cow.init(spark.createDataFrame(base_pd))
    mor.init(spark.createDataFrame(base_pd))
    for i, chunk in enumerate(chunks):
        for sink in (cow, mor):
            sink.apply_merge(
                spark.createDataFrame(chunk), batch_id=i, audit="fields", fuzzy_gate=True
            )
    assert _final_text(mor.read()) == _final_text(cow.read())

    def rows(df):
        return sorted(repr(tuple(r)) for r in df.collect())

    routes = {r.route for r in cow.routed().select("route").distinct().collect()}
    assert {"unmodified", "fuzzy-updated", "deleted"} <= routes  # gate exercised
    assert rows(mor.routed()) == rows(cow.routed())
    bad = [spark.read.parquet(s.bad_path) for s in (cow, mor)]
    assert bad[0].count() == len(null_keys)
    assert rows(bad[1]) == rows(bad[0])
    assert rows(mor.lineage().drop("commit_ts")) == rows(cow.lineage().drop("commit_ts"))
    assert cow.field_audit().count() > 0
    assert rows(mor.field_audit()) == rows(cow.field_audit())


def test_mor_replay_is_noop(spark, tmp_path):
    base_pd, ch_pd, sink = _setup(spark, tmp_path, n_events=200, seed=7)
    batch = spark.createDataFrame(ch_pd)
    assert sink.apply_merge(batch, batch_id=0) is not None
    state1 = _final_text(sink.read())
    assert sink.apply_merge(batch, batch_id=0) is None  # ledger hit
    assert _final_text(sink.read()) == state1
    # forced re-apply under a new batch_id: all-stale ⇒ EMPTY delta is
    # not even published, state unchanged
    n_deltas = len(sink._delta_batch_dirs())
    sink.apply_merge(batch, batch_id=1)
    assert _final_text(sink.read()) == state1
    assert len(sink._delta_batch_dirs()) == n_deltas


def test_mor_compaction_preserves_state(spark, tmp_path):
    base_pd, ch_pd, sink = _setup(spark, tmp_path, variant="delete", seed=11)
    for i, chunk in enumerate(_chunks(ch_pd, 3)):
        sink.apply_merge(spark.createDataFrame(chunk), batch_id=i)
    before = _final_text(sink.read())
    assert before == _oracle_state(base_pd, ch_pd)
    folded = sink.compact_data()
    assert folded >= 1
    assert sink._delta_batch_dirs() == []
    assert _final_text(sink.read()) == before
    # post-compaction batches keep applying correctly (fresh LSN range —
    # gen_changes restarts at lsn 1, which would be stale vs applied state)
    more = feedgen.gen_changes("upsert", n_events=100, n_convs=20, seed=99)
    more["lsn"] = more["lsn"] + 10_000
    sink.apply_merge(spark.createDataFrame(more), batch_id=50)
    want = _oracle_state(
        base_pd,
        __import__("pandas").concat([ch_pd, more], ignore_index=True),
    )
    assert _final_text(sink.read()) == want


def test_mor_staged_delta_recovery(spark, tmp_path):
    """Crash between ledger append and delta publish must roll FORWARD:
    the staged delta is complete once the ledger row exists."""
    base_pd, ch_pd, sink = _setup(spark, tmp_path, n_events=200, seed=13)
    sink.apply_merge(spark.createDataFrame(ch_pd), batch_id=0)
    want = _final_text(sink.read())
    # simulate the crash window: demote the published delta back to a
    # staged dir (ledger row for batch 0 already written)
    live = sink._delta_batch_dirs()[0]
    staged = os.path.join(sink.path, "_staging_batch_0")
    os.makedirs(staged)
    os.replace(live, os.path.join(staged, "delta"))
    reopened = MorParquetMergeSink(spark, sink.path, n_buckets=8)
    assert reopened._delta_batch_dirs() != []
    assert not os.path.exists(staged)
    assert _final_text(reopened.read()) == want
    # un-ledgered staged dir (crash before ledger) rolls BACK
    staged9 = os.path.join(sink.path, "_staging_batch_999")
    os.makedirs(os.path.join(staged9, "delta"))
    reopened2 = MorParquetMergeSink(spark, sink.path, n_buckets=8)
    assert not os.path.exists(staged9)
    assert _final_text(reopened2.read()) == want


def test_mor_compaction_crash_recovery(spark, tmp_path):
    """Crash mid-compaction (base moved aside, new base not yet live)
    restores the old base; the un-deleted deltas make the view whole."""
    base_pd, ch_pd, sink = _setup(spark, tmp_path, n_events=200, seed=17)
    sink.apply_merge(spark.createDataFrame(ch_pd), batch_id=0)
    want = _final_text(sink.read())
    os.replace(sink.data_path, sink.data_path + "_old")
    reopened = MorParquetMergeSink(spark, sink.path, n_buckets=8)
    assert os.path.isdir(reopened.data_path)
    assert _final_text(reopened.read()) == want


def test_mor_delta_dirs_numeric_order_and_crash_suffix(spark, tmp_path):
    """_delta_batch_dirs must order numerically (batch 2 before 10 —
    lexicographic order let compact_data delete batch 10's delta before
    batch 2's, so a crash could leave an OLD delta outranking the
    folded base), and a simulated crash mid-deletion (newest-suffix
    survivor) must leave the view unchanged."""
    import shutil

    base_pd, ch_pd, sink = _setup(spark, tmp_path, n_events=300, seed=19)
    chunks = _chunks(ch_pd, 3)
    for i, chunk in zip((0, 2, 10), chunks):
        sink.apply_merge(spark.createDataFrame(chunk), batch_id=i)
    dirs = sink._delta_batch_dirs()
    assert [int(d.rsplit("=", 1)[1]) for d in dirs] == [0, 2, 10]
    want = _final_text(sink.read())
    # keep a copy of the NEWEST delta, fold everything into the base,
    # then restore the copy — exactly the on-disk state after a crash
    # that deleted deltas 0 and 2 (ascending order) but not 10
    newest = dirs[-1]
    saved = str(tmp_path / "saved_delta")
    shutil.copytree(newest, saved)
    assert sink.compact_data() == 3
    assert sink._delta_batch_dirs() == []
    shutil.copytree(saved, newest)
    assert _final_text(sink.read()) == want  # suffix survivor is benign


def test_mor_crash_before_publish_no_duplicate_audits(spark, tmp_path):
    """Commit order is ledger → audits → publish: a crash right before
    publish (ledger + audits already written) must (a) roll the staged
    delta forward on reopen, (b) skip the batch on replay, and (c) leave
    exactly ONE copy of the batch's routed-audit rows — the
    audits-before-ledger order this replaces duplicated them."""
    base_pd, ch_pd, sink = _setup(spark, tmp_path, n_events=200, seed=23)
    batch = spark.createDataFrame(ch_pd)

    calls = {"n": 0}
    orig = sink._publish_delta

    def crashing_publish(staging, batch_id):
        calls["n"] += 1
        raise RuntimeError("simulated crash before publish")

    sink._publish_delta = crashing_publish
    try:
        sink.apply_merge(batch, batch_id=0, audit="full")
    except RuntimeError:
        pass
    assert calls["n"] == 1
    sink._publish_delta = orig
    routed_once = spark.read.parquet(sink.routed_path).count()
    assert routed_once > 0  # audits landed before the crash
    # reopen = crash recovery: ledgered staged delta rolls forward
    reopened = MorParquetMergeSink(spark, sink.path, n_buckets=8)
    assert reopened._delta_batch_dirs() != []
    assert _final_text(reopened.read()) == _oracle_state(base_pd, ch_pd)
    # replay of the ledgered batch is a no-op: no second audit append
    assert reopened.apply_merge(batch, batch_id=0, audit="full") is None
    assert spark.read.parquet(reopened.routed_path).count() == routed_once


def test_mor_auto_compaction_bounds_delta_count(spark, tmp_path):
    """A long stream with auto_compact_deltas=k must never hold more
    than k published delta batches (the read-side merge fan-in stays
    bounded — Iceberg's scheduled rewrite_data_files analogue), while
    the final state still equals the single-threaded replay oracle."""
    base_pd = feedgen.gen_transcripts(n_convs=20, seed=9)
    ch_pd = feedgen.gen_changes("upsert", n_events=600, n_convs=20, seed=9)
    ch_pd = ch_pd.sort_values("lsn").reset_index(drop=True)
    sink = MorParquetMergeSink(
        spark, str(tmp_path / "target"), n_buckets=8, auto_compact_deltas=3
    )
    sink.init(spark.createDataFrame(base_pd))

    observed = {"max_deltas": 0, "compactions": 0}
    orig_apply = sink.apply_merge
    orig_compact = sink.compact_data

    def watched_apply(*a, **kw):
        r = orig_apply(*a, **kw)
        observed["max_deltas"] = max(observed["max_deltas"], len(sink._delta_batch_dirs()))
        return r

    def watched_compact():
        observed["compactions"] += 1
        return orig_compact()

    sink.apply_merge = watched_apply
    sink.compact_data = watched_compact

    stage_feed_chunks(_chunks(ch_pd, 12), str(tmp_path / "feed"))
    run_stream(spark, str(tmp_path / "feed"), sink, str(tmp_path / "ckpt"))

    # compaction runs at the START of the batch that finds >= k deltas
    # (so the previous batch's returned MergeResult stays valid), hence
    # the published count can touch k between batches but never exceed it
    assert observed["compactions"] >= 2  # the threshold actually fired
    assert observed["max_deltas"] <= 3  # bounded by the threshold
    assert len(sink._delta_batch_dirs()) <= 3
    assert _final_text(sink.read()) == _oracle_state(base_pd, ch_pd)


def test_mor_auto_compaction_result_contract(spark, tmp_path):
    """The MergeResult apply_merge returns must stay evaluable AFTER the
    call returns, even with auto-compaction armed: compaction runs at
    the START of the next batch, so a result's lazy plans never point
    at delta files deleted underneath it. (Regression: compacting at
    the END of the same call broke any post-return res evaluation.)"""
    base_pd = feedgen.gen_transcripts(n_convs=15, seed=17)
    sink = MorParquetMergeSink(
        spark, str(tmp_path / "target"), n_buckets=4, auto_compact_deltas=2
    )
    sink.init(spark.createDataFrame(base_pd))
    ch_pd = feedgen.gen_changes("upsert", n_events=300, n_convs=15, seed=17)
    ch_pd = ch_pd.sort_values("lsn").reset_index(drop=True)
    chunks = _chunks(ch_pd, 3)
    for i, ch in enumerate(chunks, start=1):
        ch = ch.copy()
        res = sink.apply_merge(spark.createDataFrame(ch), batch_id=i)
        # evaluate the result AFTER the call returned — the contract
        assert res.routed.count() > 0
        assert res.final.count() > 0
    assert len(sink._delta_batch_dirs()) <= 2
    assert _final_text(sink.read()) == _oracle_state(base_pd, ch_pd)


def test_mor_schema_evolution_and_compaction(spark, tmp_path):
    """Additive evolution through the merge-on-read path: v1 batches
    write deltas without tool_meta, v2 batches with it — the read view
    unions mixed-schema base ∪ deltas (allowMissingColumns) — and
    compact_data folds the mixed-schema stack into one evolved base
    without losing either the new column or null-preserve semantics."""
    from marc_data_migration_spark.streaming.stream import run_stream

    base_pd = feedgen.gen_transcripts(n_convs=20, seed=29)
    ch_pd = feedgen.gen_changes("evolve", n_events=400, n_convs=20, seed=29)
    ch_pd = ch_pd.sort_values("lsn").reset_index(drop=True)
    half = len(ch_pd) // 2
    ch_pd.loc[: half - 1, "tool_meta"] = None
    v1 = ch_pd.iloc[:half].drop(columns=["tool_meta"])
    v2 = ch_pd.iloc[half:].reset_index(drop=True)
    assert v2.tool_meta.notna().any()

    sink = MorParquetMergeSink(spark, str(tmp_path / "target"), n_buckets=8)
    sink.init(spark.createDataFrame(base_pd))
    feed, ckpt = str(tmp_path / "feed"), str(tmp_path / "ckpt")

    stage_feed_chunks(_chunks(v1, 2), feed)
    run_stream(spark, feed, sink, ckpt)
    stage_feed_chunks(_chunks(v2, 2), feed, start_at=2)
    run_stream(spark, feed, sink, ckpt, evolved=True)

    def state(df):
        got = df.orderBy(*KEY_COLS).toPandas()
        return (
            list(zip(got.conv_id, got.turn_idx, got.text.fillna("<N>"), got.lsn)),
            list(got.tool_meta.fillna("<N>")),
        )

    want = base_pd
    for chunk in _chunks(v1, 2) + _chunks(v2, 2):
        want = oracle.replay(want, chunk)
    want = want.sort_values(KEY_COLS).reset_index(drop=True)
    want_state = (
        list(zip(want.conv_id, want.turn_idx, want.text.fillna("<N>"), want.lsn)),
        list(want.tool_meta.fillna("<N>")),
    )

    assert state(sink.read()) == want_state
    # fold the mixed-schema delta stack into the base — view unchanged
    assert sink.compact_data() >= 1
    assert sink._delta_batch_dirs() == []
    assert state(sink.read()) == want_state


def _audits(sink):
    """Routed, bad and field-audit row counts, and the lineage rows
    without commit_ts: what a crash must neither lose nor double."""

    def n(path):
        return sink.spark.read.parquet(path).count() if os.path.isdir(path) else 0

    lineage = sorted(tuple(r) for r in sink.lineage().drop("commit_ts").collect())
    return n(sink.routed_path), n(sink.bad_path), n(sink.field_audit_path), lineage


def test_mor_crash_point_sweep(spark, tmp_path):
    """Machine-enumerated crash windows for the MoR paths: fail the Nth
    os.replace of (a) the delta stage→ledger→audit and delta publish
    sequence and (b) the compact_data base swap, for every N; after
    reopen (recovery) plus replay/re-compaction the view and the audit
    tables must equal the uninterrupted run. Covers both recovery
    directions — un-ledgered staged outputs roll back and replay,
    ledgered ones roll forward."""
    import pandas as pd

    base_pd = feedgen.gen_transcripts(n_convs=12, seed=33)
    ch_pd = feedgen.gen_changes("upsert", n_events=120, n_convs=12, seed=33)
    ch_pd = pd.concat([ch_pd, ch_pd.head(2).assign(conv_id=None)], ignore_index=True)

    def fresh(name):
        sink = MorParquetMergeSink(spark, str(tmp_path / name), n_buckets=4)
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

    def count_during(fn):
        n = [0]

        def counting(*a, **k):
            n[0] += 1
            return real_replace(*a, **k)

        os.replace = counting
        try:
            fn()
        finally:
            os.replace = real_replace
        return n[0]

    probe = fresh("probe")
    n_apply = count_during(lambda: apply(probe))
    n_compact = count_during(lambda: probe.compact_data())
    assert n_apply >= 3 and n_compact >= 2  # ledger, audit and delta publish

    def failing_at(fail_at, calls):
        def failing(*a, **k):
            calls[0] += 1
            if calls[0] == fail_at:
                raise OSError(f"injected crash at replace #{fail_at}")
            return real_replace(*a, **k)

        return failing

    for fail_at in range(1, n_apply + 1):
        sink = fresh(f"crash_apply{fail_at}")
        calls = [0]
        os.replace = failing_at(fail_at, calls)
        try:
            try:
                apply(sink)
                crashed = False
            except OSError:
                crashed = True
        finally:
            os.replace = real_replace
        assert crashed, f"apply replace #{fail_at} was never reached"
        reopened = MorParquetMergeSink(spark, sink.path, n_buckets=4)
        ledgered = 0 in reopened.applied_batch_ids()
        assert (apply(reopened) is None) == ledgered, f"apply replace #{fail_at}"
        assert _final_text(reopened.read()) == want, f"apply diverged at #{fail_at}"
        assert _audits(reopened) == want_audits, f"audits differ at #{fail_at}"

    for fail_at in range(1, n_compact + 1):
        sink = fresh(f"crash_compact{fail_at}")
        assert sink.apply_merge(spark.createDataFrame(ch_pd), batch_id=0) is not None
        calls = [0]
        os.replace = failing_at(fail_at, calls)
        try:
            try:
                sink.compact_data()
                crashed = False
            except OSError:
                crashed = True
        finally:
            os.replace = real_replace
        assert crashed, f"compact replace #{fail_at} was never reached"
        reopened = MorParquetMergeSink(spark, sink.path, n_buckets=4)
        assert _final_text(reopened.read()) == want, f"compact view diverged at #{fail_at}"
        reopened.compact_data()  # re-compaction after recovery also converges
        assert _final_text(reopened.read()) == want, f"re-compaction diverged at #{fail_at}"
