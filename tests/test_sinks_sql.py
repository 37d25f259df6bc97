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
    sql = merge_sql("lake.db.transcripts", "batch_delta", ["role", "text", "tool", "ts"])
    # keyed on the composite primary key
    assert "ON t.conv_id = s.conv_id AND t.turn_idx = s.turn_idx" in sql
    # LSN guard on every matched clause -> replays are no-ops
    assert "WHEN MATCHED AND s._op = 'D' AND s.lsn > t.lsn THEN DELETE" in sql
    assert "WHEN MATCHED AND s.lsn > t.lsn THEN" in sql
    # the source holds merged row images: every column is replaced
    assert "UPDATE SET t.role = s.role, t.text = s.text, t.tool = s.tool, t.ts = s.ts, t.lsn = s.lsn" in sql
    assert "coalesce" not in sql and "*" not in sql
    # unmatched non-delete rows insert with explicit column lists
    assert "WHEN NOT MATCHED AND s._op <> 'D' THEN" in sql
    assert "INSERT (conv_id, turn_idx, role, text, tool, ts, lsn)" in sql
    assert "VALUES (s.conv_id, s.turn_idx, s.role, s.text, s.tool, s.ts, s.lsn)" in sql


def test_evolve_sql_additive():
    assert (
        evolve_sql("lake.db.transcripts", {"tool_meta": "string"})
        == "ALTER TABLE lake.db.transcripts ADD COLUMNS (tool_meta string)"
    )


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
# of the target (real MERGE matches against the original table). The
# source is apply_changes' delta, the row images the Iceberg sink
# MERGEs; any drift in merge_sql — a lost lsn guard, a dropped column, a
# reordered clause — propagates into execution and breaks final-state
# equality with the same apply_changes call's final state.

import re

import duckdb
import pandas as pd

from marc_data_migration_spark import feedgen
from marc_data_migration_spark.operators.merge import apply_changes
from marc_data_migration_spark.schemas import CHANGES_SCHEMA, KEY_COLS


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


def _canon(pdf, cols):
    pdf = pdf[cols].sort_values([*KEY_COLS]).reset_index(drop=True)
    return [
        tuple("<N>" if pd.isna(v) else str(v) for v in row)
        for row in pdf.itertuples(index=False, name=None)
    ]


def _run_merge_parity(spark, variant: str, strategy: str, fuzzy_gate: bool, seed: int):
    from marc_data_migration_spark.streaming.sink_iceberg import merge_sql

    base_pd = feedgen.gen_transcripts(n_convs=15, seed=seed)
    base_pd = base_pd.assign(lsn=0)
    ch_pd = feedgen.gen_changes(variant, n_events=300, n_convs=15, seed=seed)
    res = apply_changes(
        spark.createDataFrame(base_pd),
        spark.createDataFrame(ch_pd),
        strategy=strategy,
        fuzzy_gate=fuzzy_gate,
    )
    engine = res.final.toPandas()

    # SQL side: the row images the Iceberg sink MERGEs, applied to the
    # base by the generated MERGE text executed in DuckDB
    src_pd = res.delta.toPandas()
    cols = [c for c in src_pd.columns if c not in (*KEY_COLS, "lsn", "_op")]
    con = duckdb.connect()
    con.register("_base_view", base_pd)
    con.register("_src_view", src_pd)
    con.execute("CREATE TABLE merged AS SELECT * FROM _base_view")
    con.execute("CREATE TABLE batch_src AS SELECT * FROM _src_view")
    execute_merge_in_duckdb(con, merge_sql("merged", "batch_src", cols))
    sql_state = con.sql("SELECT * FROM merged").df()

    want = [*KEY_COLS, *cols, "lsn"]
    assert _canon(sql_state, want) == _canon(engine, want), (
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


def test_iceberg_fields_audit_keeps_quarantine(spark, monkeypatch):
    """Every audit mode but "lineage" keeps the quarantined rows, as the
    parquet sinks do: under audit="fields" a batch with null-key rows
    appends them to ``<table>_quarantine``. The sink is built without
    its constructor, its table backed by a temp view; the MERGE is
    skipped and each table write recorded with its row count."""
    from pyspark.sql import SparkSession
    from pyspark.sql.readwriter import DataFrameWriter

    from marc_data_migration_spark.streaming.sink_iceberg import IcebergMergeSink

    sink = object.__new__(IcebergMergeSink)
    sink.spark, sink.table, sink.n_buckets = spark, "t", 4
    ch_pd = feedgen.gen_changes("upsert", n_events=20, n_convs=4, seed=3)
    ch_pd.loc[:1, "conv_id"] = None
    batch = spark.createDataFrame(ch_pd)
    batch.limit(0).createOrReplaceTempView("t")
    real_sql = SparkSession.sql
    written = {}

    def sql(self, query, *a, **kw):
        if query.lstrip().startswith("MERGE"):
            return None
        return real_sql(self, query, *a, **kw)

    def save_as_table(self, name, *a, **kw):
        written[name] = self._df.count()

    monkeypatch.setattr(SparkSession, "sql", sql)
    monkeypatch.setattr(DataFrameWriter, "saveAsTable", save_as_table)
    try:
        sink.apply_merge(batch, batch_id=0, audit="fields")
    finally:
        spark.catalog.dropTempView("t")
    assert written["t_quarantine"] == 2, written
    # the batch's MERGE source view is dropped, not left in the session
    views = [t.name for t in spark.catalog.listTables() if t.name.startswith("_changes_batch_")]
    assert views == [], views


def test_iceberg_ledger_matches_parquet_ledger(spark, tmp_path, monkeypatch):
    """The Iceberg sink records the same route-level ledger as the
    parquet sink, and its MERGE leaves the same table. One base and one
    gated batch with updates, inserts, deletes, a stale row, a gate
    conflict and 2 null-key rows go through ParquetMergeSink and through
    IcebergMergeSink, built without its constructor over a parquet
    table. The MERGE text is executed in DuckDB and its result written
    over that table, which recaches every plan reading it, as an Iceberg
    commit does; the table writes are captured. Lineage rows must be
    equal but for commit_ts, and the table must equal
    ParquetMergeSink.read()."""
    from pyspark.sql import SparkSession
    from pyspark.sql.readwriter import DataFrameWriter

    from marc_data_migration_spark.streaming.sink_iceberg import IcebergMergeSink
    from marc_data_migration_spark.streaming.sink_parquet import ParquetMergeSink

    n_buckets = 4
    opts = dict(fuzzy_gate=True, fuzzy_threshold=50)
    base_pd = feedgen.gen_transcripts(n_convs=12, seed=41)
    keys = list(base_pd[KEY_COLS].itertuples(index=False, name=None))
    stale, conflict, deleted, same = keys[0], keys[3], keys[6], keys[9]
    base_pd.loc[0, "lsn"] = 10_000  # newer than any change below
    ch_pd = feedgen.gen_changes("upsert", n_events=60, n_convs=12, seed=41)
    mine = ch_pd.set_index(KEY_COLS).index.isin([stale, conflict, deleted, same])
    extra = pd.DataFrame(
        [
            dict(op="U", lsn=101, conv_id=stale[0], turn_idx=stale[1], text="late"),
            dict(op="U", lsn=102, conv_id=conflict[0], turn_idx=conflict[1], text="zzz qqq"),
            dict(op="D", lsn=103, conv_id=deleted[0], turn_idx=deleted[1]),
            dict(op="U", lsn=104, conv_id=same[0], turn_idx=same[1], text=base_pd.text[9]),
            dict(op="I", lsn=105, conv_id="conv-new", turn_idx=0, text="a new turn"),
            dict(op="I", lsn=106, conv_id=None, turn_idx=0, text="no key"),
            dict(op="U", lsn=107, conv_id=None, turn_idx=1, text="no key"),
        ]
    ).assign(commit_ts=feedgen.EPOCH)
    ch_pd = pd.concat([ch_pd[~mine], extra], ignore_index=True)
    ch_pd["turn_idx"] = ch_pd["turn_idx"].astype("int32")
    batch = spark.createDataFrame(ch_pd[CHANGES_SCHEMA.names], schema=CHANGES_SCHEMA)

    parquet = ParquetMergeSink(spark, str(tmp_path / "lake"), n_buckets=n_buckets)
    parquet.init(spark.createDataFrame(base_pd))
    parquet.apply_merge(batch, batch_id=0, **opts)
    routes = {r.route for r in parquet.routed().select("route").collect()}
    assert {"updated", "non-updated", "deleted", "stale", "unmodified"} <= routes, routes

    sink = object.__new__(IcebergMergeSink)
    sink.spark, sink.table, sink.n_buckets = spark, "ice_t", n_buckets
    spark.createDataFrame(base_pd).write.parquet(str(tmp_path / "ice"))
    spark.catalog.createTable("ice_t", path=str(tmp_path / "ice"), source="parquet")
    real_sql, real_table = SparkSession.sql, SparkSession.table
    merges, written = [], {}

    def sql(self, query, *a, **kw):
        if not query.lstrip().startswith("MERGE"):
            return real_sql(self, query, *a, **kw)
        merges.append(query)
        view = re.search(r"USING (\S+) s", query)[1]
        con = duckdb.connect()
        con.register("_t", real_table(self, "ice_t").toPandas())
        con.register("_s", real_table(self, view).toPandas())
        con.execute("CREATE TABLE ice_t AS SELECT * FROM _t")
        con.execute(f"CREATE TABLE {view} AS SELECT * FROM _s")
        execute_merge_in_duckdb(con, query)
        merged = self.createDataFrame(con.sql("SELECT * FROM ice_t").df(), base.schema)
        merged.write.mode("overwrite").insertInto("ice_t")

    def save_as_table(self, name, *a, **kw):
        written[name] = self._df.toPandas()

    base = spark.table("ice_t")
    monkeypatch.setattr(SparkSession, "sql", sql)
    monkeypatch.setattr(DataFrameWriter, "saveAsTable", save_as_table)
    try:
        sink.apply_merge(batch, batch_id=0, **opts)
        monkeypatch.undo()
        assert len(merges) == 1
        cols = list(base_pd.columns)
        assert _canon(spark.table("ice_t").toPandas(), cols) == _canon(
            parquet.read().toPandas(), cols
        )
    finally:
        spark.sql("DROP TABLE IF EXISTS ice_t")

    def ledger(pdf):
        pdf = pdf.drop(columns="commit_ts").sort_values("partition_id")
        return [tuple(int(v) if pd.notna(v) else None for v in r)
                for r in pdf.itertuples(index=False, name=None)]

    want = ledger(parquet.lineage().toPandas())
    assert ledger(written["ice_t_lineage"]) == want
    assert sum(r[8] for r in want) >= 1  # the gate conflict
    assert [r[9] for r in want if r[1] == -1] == [2]  # the null-key rows
    assert len(written["ice_t_quarantine"]) == 2
