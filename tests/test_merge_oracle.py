"""Golden final-state equality (SURVEY.md §5 item 2): the engine's
distributed apply must equal the single-threaded pandas replay oracle
byte-for-byte on per-turn text under ORDER BY (conv_id, turn_idx) —
the BASELINE.json correctness invariant.
"""

from __future__ import annotations

import pandas as pd
import pytest

from marc_data_migration_spark import feedgen, oracle
from marc_data_migration_spark.operators.dedup import latest_per_key
from marc_data_migration_spark.operators.merge import apply_changes
from marc_data_migration_spark.schemas import KEY_COLS

VARIANTS = ["basic", "upsert", "delete", "dup-replay", "skew", "evolve"]


def _final_state(spark, variant, strategy="replace_and_add"):
    base_pd = feedgen.gen_transcripts(n_convs=30, seed=42)
    ch_pd = feedgen.gen_changes(variant, n_events=600, n_convs=30, seed=42)
    base = spark.createDataFrame(base_pd)
    changes = spark.createDataFrame(ch_pd)
    res = apply_changes(base, changes, strategy=strategy)
    got = res.final.orderBy(*KEY_COLS).toPandas()
    want = oracle.replay(base_pd, ch_pd, strategy=strategy)
    return got, want


def _assert_state_equal(got: pd.DataFrame, want: pd.DataFrame):
    assert list(got.columns) == list(want.columns), (got.columns, want.columns)
    assert len(got) == len(want)
    got = got.reset_index(drop=True)
    want = want.reset_index(drop=True)
    # byte-for-byte on text under stable (conv_id, turn_idx) ordering
    assert got["conv_id"].tolist() == want["conv_id"].tolist()
    assert got["turn_idx"].tolist() == want["turn_idx"].tolist()
    assert got["text"].fillna("<NULL>").tolist() == want["text"].fillna("<NULL>").tolist()
    assert got["lsn"].tolist() == want["lsn"].tolist()
    for c in got.columns:
        if c in ("conv_id", "turn_idx", "text", "lsn", "ts", "commit_ts"):
            continue
        assert got[c].fillna("<NULL>").tolist() == want[c].fillna("<NULL>").tolist(), c


@pytest.mark.parametrize("variant", VARIANTS)
def test_final_state_matches_oracle(spark, variant):
    got, want = _final_state(spark, variant)
    _assert_state_equal(got, want)


def test_replace_only_drops_unmatched(spark):
    got, want = _final_state(spark, "upsert", strategy="replace_only")
    _assert_state_equal(got, want)
    # replace_only must never grow the key set beyond the base table
    base = feedgen.gen_transcripts(n_convs=30, seed=42)
    base_keys = set(zip(base.conv_id, base.turn_idx))
    got_keys = set(zip(got.conv_id, got.turn_idx))
    assert got_keys <= base_keys


@pytest.mark.parametrize("dedup_method", ["window", "salted_window"])
def test_dedup_methods_equivalent(spark, dedup_method):
    """Every max-LSN dedup method keeps the same row per key of a skewed
    feed as the ``agg`` method the merge uses."""
    ch_pd = feedgen.gen_changes("skew", n_events=600, n_convs=30, seed=42)
    changes = spark.createDataFrame(ch_pd)

    def latest(method):
        return latest_per_key(changes, method=method).orderBy(*KEY_COLS).toPandas()

    pd.testing.assert_frame_equal(latest("agg"), latest(dedup_method))


def test_field_diffs_reconcile_with_change_counts(spark):
    """The per-field old→new audit rows (field_audit=True) must
    aggregate to exactly the per-column change counts the merge itself
    observes: count(diff rows per field) == number of applied matched
    updates whose non-null change value differed from the target."""
    import pyspark.sql.functions as F

    base_pd = feedgen.gen_transcripts(n_convs=30, seed=42)
    ch_pd = feedgen.gen_changes("upsert", n_events=600, n_convs=30, seed=42)
    base = spark.createDataFrame(base_pd)
    changes = spark.createDataFrame(ch_pd)
    res = apply_changes(base, changes, field_audit=True)
    diffs = res.field_diffs.toPandas()
    assert set(diffs.columns) == {
        "conv_id", "turn_idx", "lsn", "field", "old_value", "new_value"
    }
    assert len(diffs) > 0
    # every audited row is a real difference
    assert (diffs.new_value.notna()).all()
    assert not ((diffs.old_value == diffs.new_value).fillna(False)).any()
    # reconcile: recompute expected per-field counts from the raw join
    from marc_data_migration_spark.operators.dedup import latest_per_key

    latest = latest_per_key(changes)
    t = base.select(
        F.col("conv_id"), F.col("turn_idx"), F.col("lsn").alias("t_lsn"),
        *[F.col(c).alias(f"t_{c}") for c in ["role", "text", "tool", "ts"]],
    )
    upd = latest.join(t, KEY_COLS).filter(
        (F.col("op") != "D") & (F.col("lsn") > F.col("t_lsn"))
    )
    for field in ["role", "text", "tool", "ts"]:
        want = upd.filter(
            F.col(field).isNotNull() & ~F.col(field).eqNullSafe(F.col(f"t_{field}"))
        ).count()
        got = int((diffs.field == field).sum())
        assert got == want, field


def test_sink_fields_audit_mode(spark, tmp_path):
    """audit='fields' persists the field-diff table; the diff rows key
    back to routed 'updated'/'fuzzy-updated' rows of the same batch."""
    from marc_data_migration_spark.streaming.sink_parquet import ParquetMergeSink

    base_pd = feedgen.gen_transcripts(n_convs=10, seed=9)
    ch_pd = feedgen.gen_changes("upsert", n_events=200, n_convs=10, seed=9)
    sink = ParquetMergeSink(spark, str(tmp_path / "lake"), n_buckets=4)
    sink.init(spark.createDataFrame(base_pd))
    sink.apply_merge(spark.createDataFrame(ch_pd), batch_id=0, audit="fields")
    fa = sink.field_audit().toPandas()
    assert len(fa) > 0 and (fa.batch_id == 0).all()
    routed = sink.routed().toPandas()
    upd_keys = set(
        zip(*routed[routed.route.isin(["updated", "fuzzy-updated"])][
            ["conv_id", "turn_idx"]
        ].T.values)
    )
    assert set(zip(fa.conv_id, fa.turn_idx)) <= upd_keys


def test_idempotent_reapply(spark):
    """Applying the same batch twice == applying once (exactly-once)."""
    base_pd = feedgen.gen_transcripts(n_convs=20, seed=1)
    ch_pd = feedgen.gen_changes("upsert", n_events=300, n_convs=20, seed=1)
    base = spark.createDataFrame(base_pd)
    changes = spark.createDataFrame(ch_pd)
    once = apply_changes(base, changes).final
    twice = apply_changes(once, changes).final
    a = once.orderBy(*KEY_COLS).toPandas()
    b = twice.orderBy(*KEY_COLS).toPandas()
    pd.testing.assert_frame_equal(a, b)


def test_evolve_additive_schema(spark):
    got, want = _final_state(spark, "evolve")
    assert "tool_meta" in got.columns
    _assert_state_equal(got, want)
    # earlier rows (not touched by second half) read as null
    assert got["tool_meta"].isna().any()
    assert got["tool_meta"].notna().any()


def test_permutation_invariance(spark):
    """Intra-batch arrival order never changes the final state: the
    max-LSN dedup (W1) makes apply_changes a function of the change
    *set*, not the change *sequence* (SURVEY.md §5 item 4)."""
    base_pd = feedgen.gen_transcripts(n_convs=20, seed=13)
    ch_pd = feedgen.gen_changes("delete", n_events=400, n_convs=20, seed=13)
    base = spark.createDataFrame(base_pd)
    reference = None
    for perm_seed in range(3):
        perm = ch_pd.sample(frac=1, random_state=perm_seed).reset_index(drop=True)
        res = apply_changes(base, spark.createDataFrame(perm))
        got = res.final.orderBy(*KEY_COLS).toPandas()
        snap = list(
            zip(got.conv_id, got.turn_idx, got.text.fillna("<N>"), got.lsn)
        )
        if reference is None:
            reference = snap
        else:
            assert snap == reference
