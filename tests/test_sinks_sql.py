"""The Iceberg sink's SQL builders — the production MERGE path has no
runtime jar in this sandbox (SURVEY.md §7 risk 1), so the exact SQL
text the engine issues on a real cluster is pinned here."""

from __future__ import annotations

from marc_data_migration_spark.streaming.sink_iceberg import (
    create_table_sql,
    evolve_sql,
    merge_sql,
)


def test_create_table_buckets_by_conv():
    sql = create_table_sql("lake.db.transcripts", n_buckets=512)
    assert "USING iceberg" in sql
    assert "PARTITIONED BY (bucket(512, conv_id))" in sql
    assert "'write.merge.mode'='copy-on-write'" in sql


def test_merge_sql_clauses():
    sql = merge_sql("lake.db.transcripts", "batch_latest", ["role", "text", "tool", "ts"])
    # keyed on the composite primary key
    assert "ON t.conv_id = s.conv_id AND t.turn_idx = s.turn_idx" in sql
    # LSN guard on every mutating clause -> replays are no-ops
    assert "WHEN MATCHED AND s.op = 'D' AND s.lsn > t.lsn THEN DELETE" in sql
    assert "s.op <> 'D' AND s.lsn > t.lsn AND s.gate_ok" in sql
    # field-level replace_and_add: null source fields preserve target
    assert "t.text = coalesce(s.text, t.text)" in sql
    assert "t.lsn = s.lsn" in sql
    # unmatched inserts carry the full payload
    assert "WHEN NOT MATCHED AND s.op <> 'D' THEN" in sql
    assert "INSERT (conv_id, turn_idx, role, text, tool, ts, lsn)" in sql


def test_evolve_sql_additive():
    assert (
        evolve_sql("lake.db.transcripts", {"tool_meta": "string"})
        == "ALTER TABLE lake.db.transcripts ADD COLUMNS (tool_meta string)"
    )


def test_prepare_source_gate(spark):
    """prepare_source computes the gate_ok column merge_sql assumes:
    deduped per key, gated only on matched non-delete rows, True
    everywhere else (inserts, deletes, gate off)."""
    import pandas as pd

    from marc_data_migration_spark.streaming.sink_iceberg import prepare_source

    EP = pd.Timestamp("2026-01-01")
    ch = pd.DataFrame(
        [
            # matched key, same text -> gate passes
            dict(op="U", lsn=1, commit_ts=EP, conv_id="c1", turn_idx=0,
                 role="user", text="hello world", tool="t", ts=EP),
            # matched key, disjoint text -> gate fails
            dict(op="U", lsn=2, commit_ts=EP, conv_id="c1", turn_idx=1,
                 role="user", text="zzz qqq xxx", tool="t", ts=EP),
            # stale duplicate of (c1,1): dedup must keep lsn=2 only
            dict(op="U", lsn=0, commit_ts=EP, conv_id="c1", turn_idx=1,
                 role="user", text="hello world", tool="t", ts=EP),
            # unmatched insert -> gate trivially True
            dict(op="I", lsn=3, commit_ts=EP, conv_id="c9", turn_idx=0,
                 role="user", text="new", tool="t", ts=EP),
            # matched delete -> gate trivially True (deletes aren't gated)
            dict(op="D", lsn=4, commit_ts=EP, conv_id="c1", turn_idx=2,
                 role=None, text=None, tool=None, ts=pd.NaT),
        ]
    )
    ch["turn_idx"] = ch["turn_idx"].astype("int32")
    tgt = pd.DataFrame(
        [
            dict(conv_id="c1", turn_idx=0, text="hello world"),
            dict(conv_id="c1", turn_idx=1, text="hello world"),
            dict(conv_id="c1", turn_idx=2, text="bye"),
        ]
    )
    tgt["turn_idx"] = tgt["turn_idx"].astype("int32")
    src, bad = prepare_source(
        spark.createDataFrame(ch), spark.createDataFrame(tgt), fuzzy_gate=True
    )
    assert bad.count() == 0
    out = src.toPandas().set_index(["conv_id", "turn_idx"])
    assert len(out) == 4  # stale lsn=0 deduped away
    assert bool(out.loc[("c1", 0)].gate_ok) is True
    assert bool(out.loc[("c1", 1)].gate_ok) is False  # disjoint text
    assert bool(out.loc[("c9", 0)].gate_ok) is True  # insert
    assert bool(out.loc[("c1", 2)].gate_ok) is True  # delete
    assert out.loc[("c1", 1)].lsn == 2  # max-LSN survivor


def test_prepare_source_gate_null_target_text(spark):
    """A matched target row with NULL text must still be gated — compared
    against '' exactly like operators/merge.py apply_changes — so the two
    'same semantics' sinks agree: a dissimilar update against a null-text
    row is a conflict in both, not silently applied by the Iceberg path."""
    import datetime as dt

    from marc_data_migration_spark.streaming.sink_iceberg import prepare_source

    EP = dt.datetime(2026, 1, 1)
    ch = spark.createDataFrame(
        [("U", 1, EP, "c1", 0, "user", "completely new text", "t", EP)],
        "op string, lsn long, commit_ts timestamp, conv_id string, "
        "turn_idx int, role string, text string, tool string, ts timestamp",
    )
    tgt = spark.createDataFrame(
        [("c1", 0, None)], "conv_id string, turn_idx int, text string"
    )
    src, _ = prepare_source(ch, tgt, fuzzy_gate=True)
    row = src.collect()[0]
    assert row.gate_ok is False  # ratio('completely new text','') = 0 < 50


def test_merge_sql_replace_only_omits_insert():
    sql = merge_sql("t", "s", ["text"], strategy="replace_only")
    assert "WHEN NOT MATCHED" not in sql  # M3: update-without-insert
    assert "UPDATE SET" in sql


# ---------------------------------------------------------------------
# EXECUTED merge oracle: the generated MERGE text actually runs
# ---------------------------------------------------------------------
# The sandbox has no Iceberg runtime and its DuckDB (1.0) has no native
# MERGE parser, so the production statement is executed through a
# mechanical MERGE -> DELETE/UPDATE/INSERT rewrite whose ONLY input is
# the generated SQL text: the ON text, every WHEN condition, the SET
# list and the INSERT column/value lists are lifted verbatim from the
# statement, first-match-wins clause order is enforced with NOT(prior)
# guards, and NOT MATCHED is evaluated against a pre-mutation snapshot
# of the target (real MERGE matches against the original table). Any
# semantic drift in merge_sql — a lost lsn guard, a wrong coalesce, a
# reordered clause — propagates into execution and breaks final-state
# equality with the engine's apply_changes.

import re

import duckdb
import pandas as pd

from marc_data_migration_spark import feedgen
from marc_data_migration_spark.operators.merge import apply_changes
from marc_data_migration_spark.schemas import KEY_COLS


def execute_merge_in_duckdb(con, sql_text: str) -> None:
    text = sql_text.strip()
    head = re.match(
        r"MERGE INTO (?P<table>\S+) t\s+USING (?P<src>\S+) s\s+ON (?P<on>.*?)(?=\nWHEN )",
        text,
        re.S,
    )
    assert head, f"unparseable MERGE header:\n{text}"
    table, src, on = head["table"], head["src"], head["on"].strip()
    body = text[head.end():]
    clauses = []
    for part in re.split(r"\nWHEN ", body):
        part = part.strip()
        if not part:
            continue
        m = re.match(
            r"(?P<kind>NOT MATCHED|MATCHED)(?: AND (?P<cond>.*?))? THEN\s+(?P<action>.*)",
            part,
            re.S,
        )
        assert m, f"unparseable WHEN clause:\n{part}"
        clauses.append((m["kind"], (m["cond"] or "TRUE").strip(), m["action"].strip()))

    # real MERGE evaluates matched/not-matched against the ORIGINAL
    # target; snapshot it before any mutation
    con.execute(f"CREATE OR REPLACE TEMP TABLE _orig_target AS SELECT * FROM {table}")
    prior: dict[str, list[str]] = {"MATCHED": [], "NOT MATCHED": []}
    for kind, cond, action in clauses:
        guard = " AND ".join([f"({cond})"] + [f"NOT ({p})" for p in prior[kind]])
        prior[kind].append(cond)
        if kind == "MATCHED":
            if action == "DELETE":
                con.execute(f"DELETE FROM {table} AS t USING {src} AS s WHERE {on} AND {guard}")
            elif action.startswith("UPDATE SET"):
                sets = action[len("UPDATE SET"):].strip()
                # DuckDB SET targets are bare column names; RHS t./s.
                # references stay verbatim
                sets = re.sub(r"(^|,\s*)t\.(\w+)\s*=", r"\1\2 =", sets)
                con.execute(
                    f"UPDATE {table} AS t SET {sets} FROM {src} AS s WHERE {on} AND {guard}"
                )
            else:
                raise AssertionError(f"unknown MATCHED action: {action}")
        else:
            m = re.match(r"INSERT \((?P<cols>.*?)\) VALUES \((?P<vals>.*?)\)", action, re.S)
            assert m, f"unknown NOT MATCHED action: {action}"
            con.execute(
                f"INSERT INTO {table} ({m['cols']}) "
                f"SELECT {m['vals']} FROM {src} s "
                f"WHERE {guard} AND NOT EXISTS "
                f"(SELECT 1 FROM _orig_target t WHERE {on})"
            )


def _run_merge_parity(spark, variant: str, strategy: str, fuzzy_gate: bool, seed: int):
    from pyspark.sql import functions as F

    from marc_data_migration_spark.streaming.sink_iceberg import merge_sql, prepare_source

    base_pd = feedgen.gen_transcripts(n_convs=15, seed=seed)
    base_pd = base_pd.assign(lsn=0)
    ch_pd = feedgen.gen_changes(variant, n_events=300, n_convs=15, seed=seed)
    base = spark.createDataFrame(base_pd)
    changes = spark.createDataFrame(ch_pd)

    # engine side
    engine = apply_changes(
        base, changes, strategy=strategy, fuzzy_gate=fuzzy_gate
    ).final.toPandas()

    # SQL side: the SAME source builder the Iceberg sink uses, then the
    # generated MERGE text executed in DuckDB
    src, _bad = prepare_source(
        changes, base.select(*KEY_COLS, "text"), fuzzy_gate=fuzzy_gate
    )
    src_pd = src.toPandas()
    payload_cols = [
        c for c in src_pd.columns if c not in (*KEY_COLS, "op", "lsn", "commit_ts", "gate_ok")
    ]
    con = duckdb.connect()
    con.register("_base_view", base_pd)
    con.register("_src_view", src_pd)
    con.execute("CREATE TABLE merged AS SELECT * FROM _base_view")
    con.execute("CREATE TABLE batch_src AS SELECT * FROM _src_view")
    sql = merge_sql("merged", "batch_src", payload_cols, strategy=strategy)
    execute_merge_in_duckdb(con, sql)
    sql_state = con.sql("SELECT * FROM merged").df()

    def canon(pdf):
        cols = [*KEY_COLS, *payload_cols, "lsn"]
        pdf = pdf[cols].sort_values([*KEY_COLS]).reset_index(drop=True)
        out = []
        for row in pdf.itertuples(index=False, name=None):
            out.append(tuple("<N>" if pd.isna(v) else str(v) for v in row))
        return out

    assert canon(sql_state) == canon(engine), (
        f"MERGE-text execution diverged from apply_changes "
        f"(variant={variant}, strategy={strategy}, gate={fuzzy_gate})"
    )
    assert len(engine) > 0


def test_merge_sql_executes_upsert_parity(spark):
    _run_merge_parity(spark, "upsert", "replace_and_add", fuzzy_gate=False, seed=21)


def test_merge_sql_executes_delete_parity(spark):
    _run_merge_parity(spark, "delete", "replace_and_add", fuzzy_gate=False, seed=22)


def test_merge_sql_executes_replace_only_parity(spark):
    _run_merge_parity(spark, "upsert", "replace_only", fuzzy_gate=False, seed=23)


def test_merge_sql_executes_gated_parity(spark):
    _run_merge_parity(spark, "upsert", "replace_and_add", fuzzy_gate=True, seed=24)


def test_merge_executor_honors_clause_order():
    """The rewriter must enforce first-match-wins: craft a statement
    whose two MATCHED clauses overlap — a row satisfying both must take
    the FIRST action only (delete), never both."""
    con = duckdb.connect()
    con.execute("CREATE TABLE tgt(k int, v int)")
    con.execute("INSERT INTO tgt VALUES (1, 1), (2, 2)")
    con.execute("CREATE TABLE chg(k int, v int)")
    con.execute("INSERT INTO chg VALUES (1, 100), (3, 300)")
    sql = (
        "MERGE INTO tgt t\n"
        "USING chg s\n"
        "ON t.k = s.k\n"
        "WHEN MATCHED AND s.v >= 100 THEN DELETE\n"
        "WHEN MATCHED AND s.v >= 0 THEN\n"
        "  UPDATE SET t.v = s.v\n"
        "WHEN NOT MATCHED THEN\n"
        "  INSERT (k, v) VALUES (s.k, s.v)"
    )
    execute_merge_in_duckdb(con, sql)
    assert con.sql("SELECT * FROM tgt ORDER BY k").fetchall() == [(2, 2), (3, 300)]


def test_iceberg_ledger_probe(spark, monkeypatch):
    """The replay guard reads the lineage table only when it exists:
    a ledgered batch_id is skipped, and a failing read of the ledger
    propagates instead of re-applying the batch (which would append its
    quarantine and lineage rows a second time). The sink is built
    without its constructor, its tables backed by temp views."""
    import pytest
    from pyspark.sql import SparkSession

    from marc_data_migration_spark.streaming.sink_iceberg import IcebergMergeSink

    sink = object.__new__(IcebergMergeSink)
    sink.spark, sink.table, sink.n_buckets = spark, "t", 4
    batch = spark.createDataFrame(
        feedgen.gen_changes("upsert", n_events=20, n_convs=4, seed=3)
    )
    batch.limit(0).createOrReplaceTempView("t")
    spark.range(1).selectExpr("0L AS batch_id").createOrReplaceTempView("t_lineage")
    real_table = SparkSession.table

    def failing_table(self, name):
        if name == "t_lineage":
            raise RuntimeError("injected ledger read failure")
        return real_table(self, name)

    try:
        assert sink.apply_merge(batch, batch_id=0) is None  # ledgered: skipped
        monkeypatch.setattr(SparkSession, "table", failing_table)
        with pytest.raises(RuntimeError, match="injected ledger read failure"):
            sink.apply_merge(batch, batch_id=1)
    finally:
        spark.catalog.dropTempView("t")
        spark.catalog.dropTempView("t_lineage")
