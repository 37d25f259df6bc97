"""Table-layout properties + partial-failure retry semantics.

Sink mode (cow/mor), bucket count and schema are properties of the
TABLE, not of the invocation: they are persisted at init in
``_table_properties.json`` and validated on every open. Reading a
merge-on-read table through the copy-on-write view silently ignores
every delta file; opening with a different bucket count makes
``_read_buckets`` miss base rows and bypasses the LSN idempotence
guard — both must raise, never proceed. A path that holds data but no
props file cannot be opened at all.

Also covers the in-memory ledger-cache reconciliation: the cache is
updated at the ledger commit (the lineage file's rename), not at the
end of apply_merge, so a same-object retry after a partial failure can
never append lineage/audit rows twice.
"""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from marc_data_migration_spark import feedgen, oracle
from marc_data_migration_spark.schemas import CHANGES_SCHEMA, KEY_COLS
from marc_data_migration_spark.streaming.sink_parquet import (
    MorParquetMergeSink,
    ParquetMergeSink,
    load_table_properties,
    open_sink,
)
from marc_data_migration_spark.streaming.stream import run_stream, stage_feed_chunks


def _init_sink(spark, tmp_path, cls=ParquetMergeSink, n_buckets=8, seed=7):
    base_pd = feedgen.gen_transcripts(n_convs=20, seed=seed)
    sink = cls(spark, str(tmp_path / "target"), n_buckets=n_buckets)
    sink.init(spark.createDataFrame(base_pd))
    return base_pd, sink


def _final_text(df):
    pdf = df.orderBy(*KEY_COLS).toPandas()
    return list(zip(pdf.conv_id, pdf.turn_idx, pdf.text.fillna("<N>"), pdf.lsn))


def test_init_persists_layout_and_open_sink_autodetects(spark, tmp_path):
    _, sink = _init_sink(spark, tmp_path, cls=MorParquetMergeSink, n_buckets=8)
    props = load_table_properties(sink.path)
    assert (props["sink_mode"], props["n_buckets"]) == ("mor", 8)
    assert [f["name"] for f in props["schema"]["fields"]] == sink.read().columns
    # no flags at all: open_sink must come back as the MoR view with the
    # persisted bucket count (a cow view here would hide every delta)
    reopened = open_sink(spark, sink.path)
    assert isinstance(reopened, MorParquetMergeSink)
    assert reopened.n_buckets == 8


def test_wrong_sink_mode_raises(spark, tmp_path):
    _, sink = _init_sink(spark, tmp_path, cls=MorParquetMergeSink)
    with pytest.raises(ValueError, match="sink_mode"):
        ParquetMergeSink(spark, sink.path)
    with pytest.raises(ValueError, match="sink_mode|stale"):
        open_sink(spark, sink.path, sink_mode="cow")


def test_wrong_bucket_count_raises(spark, tmp_path):
    _, sink = _init_sink(spark, tmp_path, cls=ParquetMergeSink, n_buckets=8)
    with pytest.raises(ValueError, match="bucket"):
        ParquetMergeSink(spark, sink.path, n_buckets=16)
    with pytest.raises(ValueError, match="bucket"):
        open_sink(spark, sink.path, n_buckets=16)
    # unspecified → adopt the persisted layout
    assert ParquetMergeSink(spark, sink.path).n_buckets == 8


def test_uninitialized_stream_persists_layout(spark, tmp_path):
    """A stream onto a never-init'd path creates the table — the layout
    must be persisted at the first merge, not only by init()."""
    sink = MorParquetMergeSink(spark, str(tmp_path / "fresh"), n_buckets=4)
    ch_pd = feedgen.gen_changes("upsert", n_events=100, n_convs=10, seed=1)
    sink.apply_merge(spark.createDataFrame(ch_pd), batch_id=0)
    props = load_table_properties(sink.path)
    assert (props["sink_mode"], props["n_buckets"]) == ("mor", 4)
    assert [f["name"] for f in props["schema"]["fields"]] == sink.read().columns


def test_cow_same_object_retry_after_audit_failure(spark, tmp_path, monkeypatch):
    """Partial failures around the ledger commit, each retried on the SAME
    sink object: (a) a staged-audit write fails BEFORE the ledger — the
    retry re-applies the batch; (b) the audit publish fails AFTER the
    ledger — the in-memory ledger already holds the batch, so the retry
    is a replay no-op that rolls the staged rows forward. Either way the
    batch ends with one ledger entry and one copy of its routed rows."""
    base_pd, sink = _init_sink(spark, tmp_path, cls=ParquetMergeSink, seed=11)
    ch_pd = feedgen.gen_changes("upsert", n_events=200, n_convs=20, seed=11)
    ch_pd = ch_pd.sort_values("lsn").reset_index(drop=True)
    chunks = [g.reset_index(drop=True) for g in np.array_split(ch_pd, 2)]

    def routed_once(batch_id, chunk):
        rows = sink.routed().filter(F.col("batch_id") == batch_id)
        assert rows.count() == len(chunk.drop_duplicates(KEY_COLS))
        assert rows.groupBy(*KEY_COLS).count().filter(F.col("count") > 1).count() == 0
        lineage = sink.lineage().filter(F.col("batch_id") == batch_id)
        # one ledger file: per (batch, partition) rows are unique
        assert lineage.count() == lineage.select("partition_id").distinct().count() > 0

    # (a) the staged routed write fails: nothing is ledgered
    staged_routed = os.path.join(sink.path, "_staging_batch_1", "routed")
    orig_parquet = DataFrameWriter.parquet

    def failing_write(self, path, *a, **kw):
        if os.path.normpath(path) == os.path.normpath(staged_routed):
            raise RuntimeError("simulated audit-staging failure")
        return orig_parquet(self, path, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", failing_write)
    spark.catalog.clearCache()
    with pytest.raises(RuntimeError, match="simulated"):
        sink.apply_merge(spark.createDataFrame(chunks[0]), batch_id=1, audit="full")
    monkeypatch.setattr(DataFrameWriter, "parquet", orig_parquet)
    # the failed attempt released its batch and join caches
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert 1 not in sink.applied_batch_ids()
    assert sink.apply_merge(spark.createDataFrame(chunks[0]), batch_id=1, audit="full") is not None
    routed_once(1, chunks[0])

    # (b) the first audit publish rename fails: the batch is ledgered
    orig_replace = os.replace
    failed = []

    def failing_replace(src, dst, *a, **kw):
        if os.path.join("_staging_batch_2", "routed") in str(src) and not failed:
            failed.append(src)
            raise OSError("simulated audit-publish failure")
        return orig_replace(src, dst, *a, **kw)

    monkeypatch.setattr(os, "replace", failing_replace)
    with pytest.raises(OSError, match="simulated"):
        sink.apply_merge(spark.createDataFrame(chunks[1]), batch_id=2, audit="full")
    monkeypatch.setattr(os, "replace", orig_replace)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert 2 in sink.applied_batch_ids()
    assert sink.apply_merge(spark.createDataFrame(chunks[1]), batch_id=2, audit="full") is None
    assert not os.path.isdir(os.path.join(sink.path, "_staging_batch_2"))
    routed_once(2, chunks[1])

    # the retry also swapped in the buckets: final state equals the oracle
    want = oracle.replay(base_pd, ch_pd)
    assert _final_text(sink.read()) == list(
        zip(want.conv_id, want.turn_idx, want.text.fillna("<N>"), want.lsn)
    )


def test_mor_same_object_retry_publishes_staged_delta(spark, tmp_path, monkeypatch):
    """MoR partial failure between the ledger commit and the delta
    publish: the staged delta is complete (staged before the ledger),
    so the same-object retry must roll it FORWARD — not skip it (data
    loss until restart) and not re-run the merge (duplicate lineage)."""
    base_pd, sink = _init_sink(spark, tmp_path, cls=MorParquetMergeSink, seed=13)
    ch_pd = feedgen.gen_changes("upsert", n_events=200, n_convs=20, seed=13)
    changes = spark.createDataFrame(ch_pd)

    orig = MorParquetMergeSink._publish_delta
    state = {"failed": False}

    def flaky(self, staging, batch_id):
        if not state["failed"]:
            state["failed"] = True
            raise RuntimeError("simulated publish failure")
        return orig(self, staging, batch_id)

    monkeypatch.setattr(MorParquetMergeSink, "_publish_delta", flaky)
    spark.catalog.clearCache()
    with pytest.raises(RuntimeError, match="simulated"):
        sink.apply_merge(changes, batch_id=1)
    # the failed attempt released its batch and join caches
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    # staged dir exists, nothing published yet
    assert os.path.isdir(os.path.join(sink.path, "_staging_batch_1", "delta"))
    assert sink._delta_batch_dirs() == []

    # retry on the SAME object: replay no-op that publishes the delta
    assert sink.apply_merge(changes, batch_id=1) is None
    assert not os.path.isdir(os.path.join(sink.path, "_staging_batch_1"))
    assert len(sink._delta_batch_dirs()) == 1
    assert sink.lineage().select("batch_id").distinct().count() == 1

    want = oracle.replay(base_pd, ch_pd)
    assert _final_text(sink.read()) == list(
        zip(want.conv_id, want.turn_idx, want.text.fillna("<N>"), want.lsn)
    )


@pytest.mark.parametrize("cls", [ParquetMergeSink, MorParquetMergeSink])
def test_apply_merge_caches_only_the_join(spark, tmp_path, monkeypatch, cls):
    """A batch materializes one frame, the merge's join cache: the sink
    neither caches nor re-keys the batch itself, and releases the join
    cache when the batch commits."""
    base_pd, sink = _init_sink(spark, tmp_path, cls=cls, seed=17)
    ch_pd = feedgen.gen_changes("upsert", n_events=200, n_convs=20, seed=17)
    changes = spark.createDataFrame(ch_pd)
    frame_cls = type(changes)
    orig_persist = frame_cls.persist
    persisted = []

    def counting_persist(self, *a, **kw):
        persisted.append(self)
        return orig_persist(self, *a, **kw)

    monkeypatch.setattr(frame_cls, "persist", counting_persist)
    spark.catalog.clearCache()
    res = sink.apply_merge(changes, batch_id=1)
    assert persisted == [res.cached]
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    want = oracle.replay(base_pd, ch_pd)
    assert _final_text(sink.read()) == list(
        zip(want.conv_id, want.turn_idx, want.text.fillna("<N>"), want.lsn)
    )


def test_missing_props_raises(spark, tmp_path):
    """The props file is the only source of schema and layout: a path
    that holds data without it cannot be opened, through either door."""
    _, sink = _init_sink(spark, tmp_path, cls=ParquetMergeSink, n_buckets=4)
    os.remove(os.path.join(sink.path, "_table_properties.json"))
    with pytest.raises(ValueError, match="_table_properties.json"):
        ParquetMergeSink(spark, sink.path)
    with pytest.raises(ValueError, match="_table_properties.json"):
        open_sink(spark, sink.path)


def test_read_of_fully_deleted_table_keeps_stored_schema(spark, tmp_path):
    """Deleting every row leaves no data file to read a schema from; the
    empty read must still carry the evolved column the table stores."""
    _, sink = _init_sink(spark, tmp_path, cls=ParquetMergeSink, seed=5)
    evolve = feedgen.gen_changes("evolve", n_events=100, n_convs=20, seed=5)
    sink.apply_merge(spark.createDataFrame(evolve), batch_id=0)
    assert "tool_meta" in sink.read().columns
    keys = sink.read().select(*KEY_COLS).collect()
    lsn0 = int(evolve.lsn.max()) + 1
    deletes = [
        ("D", lsn0 + i, None, k.conv_id, k.turn_idx, None, None, None, None)
        for i, k in enumerate(keys)
    ]
    sink.apply_merge(spark.createDataFrame(deletes, CHANGES_SCHEMA), batch_id=1)
    assert not sink.exists()
    got = sink.read()
    assert got.count() == 0
    assert "tool_meta" in got.columns


@pytest.mark.parametrize("cls", [ParquetMergeSink, MorParquetMergeSink])
def test_crash_between_schema_widening_and_publish(spark, tmp_path, monkeypatch, cls):
    """The first v2 batch widens the stored schema, then dies in _stage:
    the props already list tool_meta while no row has it. A new sink
    object over the same table, re-running the stream on the same
    checkpoint, must converge to the oracle replay and store tool_meta
    once."""
    base_pd = feedgen.gen_transcripts(n_convs=20, seed=17)
    ch_pd = feedgen.gen_changes("evolve", n_events=400, n_convs=20, seed=17)
    ch_pd = ch_pd.sort_values("lsn").reset_index(drop=True)
    half = len(ch_pd) // 2
    ch_pd.loc[: half - 1, "tool_meta"] = None
    v1 = ch_pd.iloc[:half].drop(columns=["tool_meta"])
    v2 = ch_pd.iloc[half:].reset_index(drop=True)
    chunks = [g.reset_index(drop=True) for g in np.array_split(v1, 2)] + [
        g.reset_index(drop=True) for g in np.array_split(v2, 2)
    ]

    sink = cls(spark, str(tmp_path / "target"), n_buckets=8)
    sink.init(spark.createDataFrame(base_pd))
    feed, ckpt = str(tmp_path / "feed"), str(tmp_path / "ckpt")
    stage_feed_chunks(chunks[:2], feed)
    run_stream(spark, feed, sink, ckpt)

    real_stage = cls._stage
    crashed = []

    def crashing_stage(self, res, touched, batch_id):
        if not crashed and "tool_meta" in res.final.columns:
            stored = load_table_properties(self.path)["schema"]["fields"]
            crashed.append([f["name"] for f in stored])
            raise RuntimeError("injected crash after schema widening")
        return real_stage(self, res, touched, batch_id)

    monkeypatch.setattr(cls, "_stage", crashing_stage)
    stage_feed_chunks(chunks[2:], feed, start_at=2)
    with pytest.raises(StreamingQueryException, match="injected crash"):
        run_stream(spark, feed, sink, ckpt, evolved=True)
    assert crashed and "tool_meta" in crashed[0]

    # process restart: a new sink object over the widened props
    reopened = cls(spark, sink.path, n_buckets=8)
    run_stream(spark, feed, reopened, ckpt, evolved=True)

    want = base_pd
    for chunk in chunks:
        want = oracle.replay(want, chunk)
    want = want.sort_values(KEY_COLS).reset_index(drop=True)
    got = reopened.read().orderBy(*KEY_COLS).toPandas()
    assert list(zip(got.conv_id, got.turn_idx, got.text.fillna("<N>"), got.lsn)) == list(
        zip(want.conv_id, want.turn_idx, want.text.fillna("<N>"), want.lsn)
    )
    assert list(got.tool_meta.fillna("<N>")) == list(want.tool_meta.fillna("<N>"))
    stored = [f["name"] for f in load_table_properties(sink.path)["schema"]["fields"]]
    assert stored.count("tool_meta") == 1
