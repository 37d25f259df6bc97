"""Table-layout properties + partial-failure retry semantics.

Sink mode (cow/mor) and bucket count are properties of the TABLE, not
of the invocation: they are persisted at init in
``_table_properties.json`` and validated on every open. Reading a
merge-on-read table through the copy-on-write view silently ignores
every delta file; opening with a different bucket count makes
``_read_buckets`` miss base rows and bypasses the LSN idempotence
guard — both must raise, never proceed.

Also covers the in-memory ledger-cache reconciliation: the cache is
updated at the ledger (lineage) append, not at the end of apply_merge,
so a same-object retry after a partial failure can never append
lineage/audit rows twice.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from marc_data_migration_spark import feedgen, oracle
from marc_data_migration_spark.schemas import KEY_COLS
from marc_data_migration_spark.streaming.sink_parquet import (
    MorParquetMergeSink,
    ParquetMergeSink,
    load_table_properties,
    open_sink,
)


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
    assert props == {"sink_mode": "mor", "n_buckets": 8}
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
    assert load_table_properties(sink.path) == {"sink_mode": "mor", "n_buckets": 4}


def test_cow_same_object_retry_after_audit_failure(spark, tmp_path, monkeypatch):
    """Partial failure AFTER the lineage (ledger) append: the in-memory
    cache already holds the batch_id, so a same-object retry is a no-op
    — lineage and audit rows are appended at most once (the stale-cache
    bug would replay the whole commit tail and double both)."""
    base_pd, sink = _init_sink(spark, tmp_path, cls=ParquetMergeSink, seed=11)
    ch_pd = feedgen.gen_changes("upsert", n_events=200, n_convs=20, seed=11)
    changes = spark.createDataFrame(ch_pd)

    routed_path = sink.routed_path
    orig = DataFrameWriter.parquet

    def flaky(self, path, *a, **kw):
        if os.path.normpath(path) == os.path.normpath(routed_path):
            raise RuntimeError("simulated audit-append failure")
        return orig(self, path, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", flaky)
    spark.catalog.clearCache()
    with pytest.raises(RuntimeError, match="simulated"):
        sink.apply_merge(changes, batch_id=1, audit="full")
    monkeypatch.setattr(DataFrameWriter, "parquet", orig)
    # the failed attempt released its batch and join caches
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()

    # ledger committed → same-object retry is a replay no-op
    assert sink.apply_merge(changes, batch_id=1, audit="full") is None
    lineage = sink.lineage()
    assert lineage.select("batch_id").distinct().count() == 1
    # one lineage append only: per (batch, partition) rows are unique
    assert (
        lineage.groupBy("batch_id", "partition_id")
        .count()
        .filter(F.col("count") > 1)
        .count()
        == 0
    )
    # data committed before the ledger: final state equals the oracle
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
    assert os.path.isdir(os.path.join(sink.path, "_delta_staging_batch_1"))
    assert sink._delta_batch_dirs() == []

    # retry on the SAME object: replay no-op that publishes the delta
    assert sink.apply_merge(changes, batch_id=1) is None
    assert not os.path.isdir(os.path.join(sink.path, "_delta_staging_batch_1"))
    assert len(sink._delta_batch_dirs()) == 1
    assert sink.lineage().select("batch_id").distinct().count() == 1

    want = oracle.replay(base_pd, ch_pd)
    assert _final_text(sink.read()) == list(
        zip(want.conv_id, want.turn_idx, want.text.fillna("<N>"), want.lsn)
    )


def test_legacy_table_bucket_count_verified_from_data(spark, tmp_path):
    """A table that predates the props file: the bucket count is
    VERIFIED against the data (stored bucket == bucket_expr(conv_id)
    per candidate), not guessed from the directory names — a sparse
    table whose top buckets happen to be empty would make max+1
    under-count and permanently lock the wrong layout in."""
    # dense case: 4 buckets, all materialized → unique verified answer 4
    _, sink = _init_sink(spark, tmp_path, cls=ParquetMergeSink, n_buckets=4)
    os.remove(os.path.join(sink.path, "_table_properties.json"))
    reopened = ParquetMergeSink(spark, sink.path)
    assert reopened.n_buckets == 4

    # sparse case: 32 buckets but only 20 convs → top buckets likely
    # empty; the verified inference must still answer 32, never max+1
    base_pd = feedgen.gen_transcripts(n_convs=20, seed=11)
    sparse = ParquetMergeSink(spark, str(tmp_path / "sparse"), n_buckets=32)
    sparse.init(spark.createDataFrame(base_pd))
    observed = sparse._observed_max_bucket()
    os.remove(os.path.join(sparse.path, "_table_properties.json"))
    reopened = ParquetMergeSink(spark, str(tmp_path / "sparse"))
    assert reopened.n_buckets == 32
    assert observed is not None  # sanity: there was data to verify

    # a contradicted explicit flag raises instead of proceeding
    # (props still absent: opening never re-persists them — only a
    # merge/init does, via _persist_layout)
    with pytest.raises(ValueError, match="contradicts|bucket"):
        ParquetMergeSink(spark, str(tmp_path / "sparse"), n_buckets=64)
