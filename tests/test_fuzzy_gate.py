"""Fuzzy-gated merge (J5/F3/F4): matched updates must pass the
normalized-text similarity threshold — the reference's three-way
routing at 100 / ≥τ / <τ (record_update.py:352-443).
"""

from __future__ import annotations

import pandas as pd
import pytest

from marc_data_migration_spark.operators.merge import apply_changes
from marc_data_migration_spark.streaming.sink_parquet import (
    MorParquetMergeSink,
    ParquetMergeSink,
)

BASE = pd.DataFrame(
    [
        # identical text → ratio 100 → 'updated'
        {"conv_id": "c1", "turn_idx": 0, "role": "user", "text": "the quick brown fox", "tool": "none", "ts": pd.Timestamp("2026-01-01"), "lsn": -1},
        # word-reordered → token_sort 100 → still 'updated'
        {"conv_id": "c2", "turn_idx": 0, "role": "user", "text": "fox brown quick the", "tool": "none", "ts": pd.Timestamp("2026-01-01"), "lsn": -1},
        # partially similar → 50 ≤ ratio < 100 → 'fuzzy-updated'
        {"conv_id": "c3", "turn_idx": 0, "role": "user", "text": "the quick brown fox jumps", "tool": "none", "ts": pd.Timestamp("2026-01-01"), "lsn": -1},
        # unrelated → ratio < 50 → rejected ('unmodified', conflict)
        {"conv_id": "c4", "turn_idx": 0, "role": "user", "text": "zzz yyy xxx www qqq", "tool": "none", "ts": pd.Timestamp("2026-01-01"), "lsn": -1},
    ]
)

CHANGES = pd.DataFrame(
    [
        {"op": "U", "lsn": 1, "commit_ts": pd.Timestamp("2026-01-02"), "conv_id": "c1", "turn_idx": 0, "role": "assistant", "text": "the quick brown fox", "tool": "python", "ts": pd.Timestamp("2026-01-02")},
        {"op": "U", "lsn": 2, "commit_ts": pd.Timestamp("2026-01-02"), "conv_id": "c2", "turn_idx": 0, "role": "assistant", "text": "the quick brown fox", "tool": "python", "ts": pd.Timestamp("2026-01-02")},
        {"op": "U", "lsn": 3, "commit_ts": pd.Timestamp("2026-01-02"), "conv_id": "c3", "turn_idx": 0, "role": "assistant", "text": "the quick brown fox", "tool": "python", "ts": pd.Timestamp("2026-01-02")},
        {"op": "U", "lsn": 4, "commit_ts": pd.Timestamp("2026-01-02"), "conv_id": "c4", "turn_idx": 0, "role": "assistant", "text": "the quick brown fox", "tool": "python", "ts": pd.Timestamp("2026-01-02")},
        # brand-new key: no gate applies, inserts as 'non-updated'
        {"op": "I", "lsn": 5, "commit_ts": pd.Timestamp("2026-01-02"), "conv_id": "c9", "turn_idx": 0, "role": "user", "text": "hello", "tool": "none", "ts": pd.Timestamp("2026-01-02")},
    ]
)


def test_fuzzy_routes(spark):
    res = apply_changes(
        spark.createDataFrame(BASE),
        spark.createDataFrame(CHANGES),
        fuzzy_gate=True,
        fuzzy_threshold=50,
    )
    routes = {r.conv_id: r.route for r in res.routed.collect()}
    assert routes == {
        "c1": "updated",
        "c2": "updated",  # token-sort makes reorder a perfect match
        "c3": "fuzzy-updated",
        "c4": "unmodified",
        "c9": "non-updated",
    }
    final = {r.conv_id: r for r in res.final.collect()}
    assert final["c1"].text == "the quick brown fox"
    assert final["c4"].text == "zzz yyy xxx www qqq"  # rejected update kept old text
    assert final["c4"].lsn == -1  # and old lsn
    assert "c9" in final
    conflicts = {r.conv_id: r.conflict for r in res.routed.collect()}
    assert conflicts["c4"] == 1 and sum(conflicts.values()) == 1


@pytest.mark.parametrize("output", ["final", "delta"])
def test_gate_scored_once_without_join_cache(spark, output):
    """Without ``persist_join`` an output's filter on the gate score must
    not be pushed below the projection that scores it: the executed plan
    runs the similarity UDF once, and the rows are those of the cached
    merge."""
    args = (spark.createDataFrame(BASE), spark.createDataFrame(CHANGES))
    res = apply_changes(*args, fuzzy_gate=True)
    df = getattr(res, output)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1
    cached = apply_changes(*args, fuzzy_gate=True, persist_join=True)
    try:
        assert sorted(df.collect()) == sorted(getattr(cached, output).collect())
    finally:
        cached.unpersist()


def test_gate_against_null_target_text(spark):
    """A matched target row with NULL text is still gated, compared
    against '': a dissimilar update is a conflict, not applied."""
    schema = "conv_id string, turn_idx long, role string, text string, tool string, ts timestamp, lsn long"
    res = apply_changes(
        spark.createDataFrame(BASE.iloc[[0]].assign(text=None), schema),
        spark.createDataFrame(CHANGES.iloc[[0]].assign(text="completely new text")),
        fuzzy_gate=True,
    )
    (row,) = res.routed.collect()
    assert (row.route, row.conflict) == ("unmodified", 1)
    (kept,) = res.final.collect()
    assert kept.text is None and kept.lsn == -1


def test_gate_scores_the_max_lsn_change_and_skips_deletes(spark):
    """The gate scores only the key's max-LSN change: an earlier change
    with matching text does not let a dissimilar later one through. A
    delete of a matched key is never gated."""
    ch = pd.concat(
        [
            CHANGES.iloc[[3]].assign(lsn=7),  # c4: disjoint text, max LSN
            CHANGES.iloc[[3]].assign(lsn=6, text=BASE.text[3]),  # c4: same text
            CHANGES.iloc[[0]].assign(op="D", lsn=8, role=None, text=None, tool=None),
        ],
        ignore_index=True,
    )
    res = apply_changes(
        spark.createDataFrame(BASE), spark.createDataFrame(ch), fuzzy_gate=True
    )
    routed = {r.conv_id: r for r in res.routed.collect()}
    assert (routed["c4"].route, routed["c4"].lsn, routed["c4"].conflict) == ("unmodified", 7, 1)
    assert (routed["c1"].route, routed["c1"].conflict) == ("deleted", 0)
    final = {r.conv_id: r.text for r in res.final.collect()}
    assert "c1" not in final and final["c4"] == BASE.text[3]


def test_require_perfect_match(spark):
    res = apply_changes(
        spark.createDataFrame(BASE),
        spark.createDataFrame(CHANGES),
        fuzzy_gate=True,
        require_perfect_match=True,
    )
    routes = {r.conv_id: r.route for r in res.routed.collect()}
    assert routes["c1"] == "updated"
    assert routes["c2"] == "updated"
    assert routes["c3"] == "unmodified"  # 50≤ratio<100 now rejected
    assert routes["c4"] == "unmodified"


def test_bad_records_quarantined(spark):
    bad = pd.DataFrame(
        [
            {"op": "X", "lsn": 10, "commit_ts": pd.Timestamp("2026-01-02"), "conv_id": "c1", "turn_idx": 0, "role": None, "text": None, "tool": None, "ts": None},
            {"op": "U", "lsn": 11, "commit_ts": pd.Timestamp("2026-01-02"), "conv_id": None, "turn_idx": 0, "role": None, "text": "x", "tool": None, "ts": None},
            # null op: ~isin(...) is NULL, not True — without the explicit
            # isNull disjunct this row vanished from good AND bad
            {"op": None, "lsn": 12, "commit_ts": pd.Timestamp("2026-01-02"), "conv_id": "c2", "turn_idx": 0, "role": None, "text": "y", "tool": None, "ts": None},
        ]
    )
    res = apply_changes(spark.createDataFrame(BASE), spark.createDataFrame(bad))
    assert res.bad.count() == 3
    assert res.final.count() == len(BASE)  # untouched


def test_split_bad_partitions_completely(spark):
    """good ∪ bad must equal the input — no row may fall through both
    filters (the null-predicate trap)."""
    from marc_data_migration_spark.operators.merge import split_bad

    rows = pd.DataFrame(
        [
            {"op": "U", "lsn": 1, "commit_ts": pd.Timestamp("2026-01-02"), "conv_id": "c1", "turn_idx": 0, "role": "u", "text": "a", "tool": None, "ts": None},
            {"op": None, "lsn": 2, "commit_ts": pd.Timestamp("2026-01-02"), "conv_id": "c1", "turn_idx": 1, "role": "u", "text": "b", "tool": None, "ts": None},
            {"op": "Z", "lsn": 3, "commit_ts": pd.Timestamp("2026-01-02"), "conv_id": "c1", "turn_idx": 2, "role": "u", "text": "c", "tool": None, "ts": None},
            {"op": "I", "lsn": None, "commit_ts": pd.Timestamp("2026-01-02"), "conv_id": "c1", "turn_idx": 3, "role": "u", "text": "d", "tool": None, "ts": None},
        ]
    )
    good, bad = split_bad(spark.createDataFrame(rows))
    assert good.count() + bad.count() == len(rows)
    assert good.count() == 1 and bad.count() == 3


@pytest.mark.parametrize("audit", ["full", "fields", "lineage"])
@pytest.mark.parametrize("cls", [ParquetMergeSink, MorParquetMergeSink])
def test_quarantine_count_in_lineage(spark, tmp_path, cls, audit):
    """Bad rows (null key / unknown op) surface in the lineage metrics
    as rows_quarantined under every audit mode, and as quarantine files
    under every mode but "lineage". The bucket a null conv_id hashes to
    is touched by no well-formed row of the batch, so none of its files
    may change."""
    import os

    from pyspark.sql import functions as F

    from marc_data_migration_spark import feedgen
    from marc_data_migration_spark.streaming.sink_parquet import BUCKET_COL, bucket_expr

    n = 4
    base_pd = feedgen.gen_transcripts(n_convs=5, seed=3)
    ch_pd = feedgen.gen_changes("upsert", n_events=50, n_convs=5, seed=3)
    null_key = spark.range(1).select(F.lit(None).cast("string").alias("conv_id"))
    null_bucket = null_key.select(bucket_expr(n)).first()[0]
    convs = spark.createDataFrame(ch_pd[["conv_id"]].drop_duplicates())
    in_null_bucket = {
        r.conv_id for r in convs.filter(bucket_expr(n) == null_bucket).collect()
    }
    ch_pd = ch_pd[~ch_pd.conv_id.isin(in_null_bucket)].reset_index(drop=True)
    ch_pd.loc[ch_pd.index[:3], "conv_id"] = None  # 3 malformed rows
    sink = cls(spark, str(tmp_path / "lake"), n_buckets=n)
    sink.init(spark.createDataFrame(base_pd))

    def bucket_files():
        return sorted(
            os.path.join(d, f)
            for d, _, fs in os.walk(sink.path)
            for f in fs
            if f"{BUCKET_COL}={null_bucket}" in d.split(os.sep) and f.endswith(".parquet")
        )

    before = bucket_files()
    assert before  # the bucket holds base rows
    sink.apply_merge(spark.createDataFrame(ch_pd), batch_id=0, audit=audit)
    lin = sink.lineage().toPandas()
    assert int(lin.rows_quarantined.sum()) == 3
    assert lin.loc[lin.partition_id == -1, "rows_quarantined"].tolist() == [3]
    bad_rows = spark.read.parquet(sink.bad_path).count() if os.path.isdir(sink.bad_path) else 0
    assert bad_rows == (3 if audit != "lineage" else 0)
    assert bucket_files() == before


def test_lineage_plan_is_jvm_side(spark):
    """The batch_lineage summary row must stay JVM-side (literals over
    ``range(1)``), never a createDataFrame over Python rows: the
    latter parallelizes into defaultParallelism pickled partitions and
    a single-partition commit evaluates them through the Python runner
    sequentially (~4.6 s per batch for one literal row — the r05
    stream-commit find, BENCH/BASELINE.md). ExistingRDD in the
    executed plan is the signature of the regression."""
    from pyspark.sql import functions as F

    from marc_data_migration_spark.plans.lineage import batch_lineage

    routed = spark.range(10).select(
        F.concat(F.lit("c"), F.col("id").cast("string")).alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.lit("U").alias("op"),
        F.col("id").alias("lsn"),
        F.lit("updated").alias("route"),
        F.lit(0).alias("conflict"),
    )
    lin = batch_lineage(routed, 7, n_partitions=8, quarantined=3)
    plan = lin._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan
    # and the row itself is right: one -1 summary row counting bad
    summary = [r for r in lin.collect() if r["partition_id"] == -1]
    assert len(summary) == 1 and summary[0]["rows_quarantined"] == 3


def test_fuzzy_ratio_pairs_null_text_matches_oracle(spark, tmp_path):
    """NULL text must keep ratio_band_ok == the oracle's constant TRUE
    (the band is vacuous — sa/sb NULL makes ratio/lev/t_len NULL, and
    before the coalesce fix Spark emitted NULL where DuckDB emits
    TRUE). Replays the driver compare on a synthetic table whose rows
    cover null-vs-text, text-vs-null, and null-vs-null pairs."""
    import duckdb
    import pandas as pd

    import __spark_entry__ as entry

    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3, 4],
            "text": ["alpha beta", None, "gamma delta", None, None],
        }
    )
    sf_dir = str(tmp_path)
    spark.createDataFrame(pdf).coalesce(1).write.parquet(f"{sf_dir}/documents.parquet")

    got = (
        entry.queries()["fuzzy_ratio_pairs"](spark, sf_dir)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet/*.parquet')"
    )
    want = (
        con.execute(entry.oracle_sql()["fuzzy_ratio_pairs"])
        .df()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert list(got["doc_id"]) == list(want["doc_id"])
    assert list(got["ratio_band_ok"]) == [True] * len(got)
    assert list(want["ratio_band_ok"]) == [True] * len(want)
    got_lev = [None if pd.isna(x) else int(x) for x in got["lev"]]
    want_lev = [None if pd.isna(x) else int(x) for x in want["lev"]]
    assert got_lev == want_lev
