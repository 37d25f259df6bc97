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


# ---------------------------------------------------------------------
# The Iceberg sink over a stand-in catalog
# ---------------------------------------------------------------------

import threading

import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from marc_data_migration_spark.schemas import CHANGES_SCHEMA_V2, TRANSCRIPTS_SCHEMA
from marc_data_migration_spark.streaming import sink_iceberg
from marc_data_migration_spark.streaming.sink_iceberg import IcebergMergeSink

PHASES = {"ledger", "maintain", "touched", "plan", "stage", "commit", "publish"}
SUFFIXES = ("", "_staged", "_quarantine", "_routed", "_field_audit", "_lineage")


class InjectedCrash(RuntimeError):
    pass


class FakeIceberg:
    """Stands in for an Iceberg catalog at the seams catalog work goes
    through: ``SparkSession.sql``, ``DataFrame.writeTo`` and
    ``DataFrameWriter.saveAsTable``. Its tables are parquet tables of the
    session catalog. CREATE and ALTER run as Spark SQL; MERGE runs in
    DuckDB (``execute_merge_in_duckdb``) and its result is written over
    the table, which recaches every plan reading it, as an Iceberg commit
    does; DELETE and the writers rewrite the table, resolving columns by
    name, and a write with a column the table lacks fails, as Iceberg's
    does. Each statement and write is logged as (kind, table); with
    ``arm(n)`` the n-th one from then on raises once, before it runs."""

    def __init__(self, spark, root, monkeypatch):
        self.spark, self.root = spark, root
        self.log, self.tables, self.fail_at = [], [], None
        self._lock = threading.Lock()
        self._sql, self._save = SparkSession.sql, DataFrameWriter.saveAsTable
        monkeypatch.setattr(sink_iceberg, "is_available", lambda spark: True)
        monkeypatch.setattr(SparkSession, "sql", lambda ss, q, *a, **kw: self.sql(ss, q, *a, **kw))
        monkeypatch.setattr(type(spark.range(1)), "writeTo", lambda df, name: _FakeWriter(self, df, name))
        monkeypatch.setattr(DataFrameWriter, "saveAsTable", lambda w, name, *a, **kw: self.append(w, name))

    def arm(self, fail_at):
        self.log.clear()
        self.fail_at = fail_at

    def step(self, kind, table):
        with self._lock:
            self.log.append((kind, table))
            if len(self.log) == self.fail_at:
                raise InjectedCrash(f"injected crash at {kind} {table}")

    def sql(self, session, query, *a, **kw):
        q = query.strip()
        create = re.match(r"CREATE TABLE IF NOT EXISTS (\S+) \((.*?)\) USING iceberg", q, re.S)
        if create:
            name, cols = create.groups()
            self.tables.append(name)
            return self._sql(
                session,
                f"CREATE TABLE IF NOT EXISTS {name} ({cols}) USING parquet "
                f"LOCATION '{self.root / name}'",
            )
        kind = q.split()[0]
        if kind not in ("ALTER", "DELETE", "MERGE"):
            return self._sql(session, query, *a, **kw)
        table = q.split()[2]
        self.step(kind, table)
        if kind == "ALTER":
            return self._sql(session, q)
        if kind == "DELETE":
            return self.rewrite(table, f"NOT ({re.search(r'WHERE (.*)', q, re.S)[1]})")
        src = re.search(r"USING (.*?) s\nON", q, re.S)[1]
        con = duckdb.connect()
        con.register("_t", self.spark.table(table).toArrow())
        con.register("_s", self._sql(session, f"SELECT * FROM {src} s").toArrow())
        con.execute(f"CREATE TABLE {table} AS SELECT * FROM _t")
        con.execute("CREATE TABLE _src AS SELECT * FROM _s")
        execute_merge_in_duckdb(con, q.replace(src, "_src"))
        merged = con.sql(f"SELECT * FROM {table}").arrow()
        schema = self.spark.table(table).schema
        self.spark.createDataFrame(merged, schema).write.insertInto(table, overwrite=True)

    def rewrite(self, table, keep, new=None):
        """Overwrite ``table`` with its rows matching ``keep`` plus ``new``."""
        current = self.spark.table(table)
        rows = current.filter(keep).collect()
        if new is not None:
            if set(new.columns) - set(current.columns):
                raise ValueError(f"{table} has no column {set(new.columns) - set(current.columns)}")
            cols = [F.col(f.name) if f.name in new.columns else F.lit(None).cast(f.dataType)
                    for f in current.schema]
            rows += new.select(*cols).collect()
        self.spark.createDataFrame(rows, current.schema).write.insertInto(table, overwrite=True)

    def create(self, df, table):
        self.step("create", table)
        self.tables.append(table)
        self._save(df.write.option("path", str(self.root / table)), table)

    def append(self, writer, table):
        self.step("append", table)
        if table not in self.tables:
            self.tables.append(table)
            writer = writer.option("path", str(self.root / table))
        self._save(writer.mode("append"), table)

    def snapshot(self, table):
        """Every table of the sink: its columns and sorted rows, the
        lineage's commit_ts left out."""
        out = {}
        for suffix in SUFFIXES:
            name = table + suffix
            if not self.spark.catalog.tableExists(name):
                out[suffix] = None
                continue
            df = self.spark.table(name).drop("commit_ts")
            out[suffix] = (df.columns, sorted(tuple(map(str, r)) for r in df.collect()))
        return out


class _FakeWriter:
    def __init__(self, fake, df, table):
        self.fake, self.df, self.table = fake, df, table

    def partitionedBy(self, *cols):
        return self

    def create(self):
        self.fake.create(self.df, self.table)

    def overwrite(self, condition):
        self.fake.step("overwrite", self.table)
        self.fake.rewrite(self.table, ~condition, self.df)


@pytest.fixture
def iceberg(spark, tmp_path, monkeypatch):
    fake = FakeIceberg(spark, tmp_path, monkeypatch)
    yield fake
    monkeypatch.undo()
    for name in fake.tables:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def _open_iceberg(spark, table, base_pd):
    sink = IcebergMergeSink(spark, table, n_buckets=4)
    spark.createDataFrame(base_pd[TRANSCRIPTS_SCHEMA.names], TRANSCRIPTS_SCHEMA).write.insertInto(table)
    return sink


def _sweep_feed(spark):
    """A base and two gated batches. Batch 0 updates, inserts, deletes,
    brings a stale row and 2 null-key rows; batch 1 brings the new
    column ``tool_meta`` and a null-key row that carries it."""
    base_pd = feedgen.gen_transcripts(n_convs=8, seed=51)
    keys = list(base_pd[KEY_COLS].itertuples(index=False, name=None))
    stale, deleted = keys[0], keys[3]
    base_pd.loc[0, "lsn"] = 10_000  # newer than any change of batch 0
    ch = feedgen.gen_changes("upsert", n_events=40, n_convs=8, seed=51)
    ch = ch[~ch.set_index(KEY_COLS).index.isin([stale, deleted])]
    extra = pd.DataFrame(
        [
            dict(op="U", lsn=101, conv_id=stale[0], turn_idx=stale[1], text="late"),
            dict(op="D", lsn=102, conv_id=deleted[0], turn_idx=deleted[1]),
            dict(op="I", lsn=103, conv_id=None, turn_idx=0, text="no key"),
            dict(op="U", lsn=104, conv_id=None, turn_idx=1, text="no key"),
        ]
    ).assign(commit_ts=feedgen.EPOCH)
    b0 = pd.concat([ch, extra], ignore_index=True)
    b1 = feedgen.gen_changes("evolve", n_events=40, n_convs=8, seed=52)
    b1 = pd.concat([b1, b1.tail(1).assign(conv_id=None)], ignore_index=True)
    b1["lsn"] += 20_000
    batches = []
    for pdf, schema in ((b0, CHANGES_SCHEMA), (b1, CHANGES_SCHEMA_V2)):
        pdf = pdf.assign(turn_idx=pdf.turn_idx.astype("int32"))[schema.names]
        batches.append(spark.createDataFrame(pdf, schema=schema))
    return base_pd, batches


OPTS = dict(audit="fields", fuzzy_gate=True, fuzzy_threshold=50)


def test_iceberg_ledger_read_at_open(spark, iceberg, monkeypatch):
    """The sink reads its ledger once, when it opens: a batch_id in the
    lineage table is a replay and is skipped, and a failing read of the
    ledger raises at open instead of re-applying (and re-writing) a
    batch."""
    batch = spark.createDataFrame(
        feedgen.gen_changes("upsert", n_events=20, n_convs=4, seed=3)
    )
    IcebergMergeSink(spark, "ledger_t", n_buckets=4).apply_merge(batch, batch_id=0)
    reopened = IcebergMergeSink(spark, "ledger_t", n_buckets=4)
    assert reopened.applied_batch_ids() == {0}
    assert reopened.apply_merge(batch, batch_id=0) is None
    real_table = SparkSession.table

    def failing_table(self, name):
        if name == "ledger_t_lineage":
            raise RuntimeError("injected ledger read failure")
        return real_table(self, name)

    monkeypatch.setattr(SparkSession, "table", failing_table)
    with pytest.raises(RuntimeError, match="injected ledger read failure"):
        IcebergMergeSink(spark, "ledger_t", n_buckets=4)


def test_iceberg_fields_audit_keeps_quarantine(spark, iceberg):
    """Every audit mode but "lineage" keeps the quarantined rows, as the
    parquet sinks do: under audit="fields" a batch with null-key rows
    writes them to ``<table>_quarantine``, next to its routed and
    field-audit rows."""
    ch_pd = feedgen.gen_changes("upsert", n_events=20, n_convs=4, seed=3)
    ch_pd.loc[:1, "conv_id"] = None
    sink = IcebergMergeSink(spark, "fields_t", n_buckets=4)
    sink.apply_merge(spark.createDataFrame(ch_pd), batch_id=0, audit="fields")
    assert spark.table("fields_t_quarantine").count() == 2
    assert spark.table("fields_t_routed").count() > 0
    assert spark.catalog.tableExists("fields_t_field_audit")
    # the batch's MERGE source is the staged table: no view is left behind
    views = [t.name for t in spark.catalog.listTables() if t.name.startswith("_changes_batch_")]
    assert views == [], views


def test_iceberg_sink_runs_the_shared_skeleton(spark, iceberg):
    """The Iceberg sink runs the parquet sinks' apply_merge: it reports
    the same seven phases, runs no Spark job under the ``ledger`` or
    ``plan`` label, widens the table before the MERGE of a batch that
    brings a new column, and a replayed batch changes no table."""
    base_pd, batches = _sweep_feed(spark)
    sink = _open_iceberg(spark, "skel_t", base_pd)
    sc = spark.sparkContext
    sc.setJobGroup("iceberg-skeleton", "iceberg-skeleton")
    try:
        for batch_id, batch in enumerate(batches):
            iceberg.arm(None)
            sink.apply_merge(batch, batch_id, **OPTS)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert set(sink.phase_s) == PHASES
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    descs = [store.job(i).description() for i in sc.statusTracker().getJobIdsForGroup("iceberg-skeleton")]
    phases = {str(d.get()).split()[0] for d in descs if d.isDefined()}
    assert "stage" in phases and not {"ledger", "plan"} & phases, phases
    # batch 1's statements: the table gains tool_meta before its MERGE
    assert iceberg.log.index(("ALTER", "skel_t")) < iceberg.log.index(("MERGE", "skel_t"))
    assert spark.table("skel_t").filter(F.col("tool_meta").isNotNull()).count() > 0
    assert "tool_meta" in spark.table("skel_t_quarantine").columns
    before = iceberg.snapshot("skel_t")
    assert before["_staged"][1] == []  # every staged row was published
    assert sink.apply_merge(batches[1], 1, **OPTS) is None
    assert iceberg.snapshot("skel_t") == before


@pytest.mark.parametrize("evolve", [False, True], ids=["plain", "evolve"])
def test_iceberg_crash_point_sweep(spark, iceberg, evolve):
    """Each write or statement of the last batch fails once; the sink is
    then reopened (recovery runs at open) and the stream replays the
    batch. Every table — data, staged, quarantine, routed, field audit
    and lineage (but commit_ts) — must then equal a clean run's. The
    ``evolve`` case sweeps a batch that brings a new column, so its
    ALTERs are swept too."""
    base_pd, batches = _sweep_feed(spark)
    batches = batches if evolve else batches[:1]

    def run(table, fail_at=None):
        sink = _open_iceberg(spark, table, base_pd)
        for batch_id, batch in enumerate(batches):
            if batch_id == len(batches) - 1:
                iceberg.arm(fail_at)
            try:
                sink.apply_merge(batch, batch_id, **OPTS)
            except InjectedCrash:
                sink = IcebergMergeSink(spark, table, n_buckets=4)
                sink.apply_merge(batch, batch_id, **OPTS)
        return iceberg.snapshot(table)

    want = run("clean_t")
    n_steps = len(iceberg.log)
    for fail_at in range(1, n_steps + 1):
        got = run(f"crash{fail_at}_t", fail_at)
        crashed_at = iceberg.log[fail_at - 1]
        assert got == want, f"diverged after a crash at {crashed_at}"


def test_iceberg_ledger_matches_parquet_ledger(spark, tmp_path, iceberg):
    """The Iceberg sink records the same route-level ledger as the
    parquet sink, and its MERGE leaves the same table. One base and one
    gated batch with updates, inserts, deletes, a stale row, a gate
    conflict and 2 null-key rows go through ParquetMergeSink and through
    IcebergMergeSink over the stand-in catalog (``FakeIceberg``): its
    MERGE text is executed in DuckDB and the result written over the
    table, which recaches every plan reading it, as an Iceberg commit
    does. Lineage rows must be equal but for commit_ts, the table must
    equal ParquetMergeSink.read(), and both sinks report the same
    phases."""
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

    sink = _open_iceberg(spark, "ice_t", base_pd)
    iceberg.arm(None)
    sink.apply_merge(batch, batch_id=0, **opts)
    merges = [step for step in iceberg.log if step[0] == "MERGE"]
    assert len(merges) == 1
    cols = list(base_pd.columns)
    assert _canon(spark.table("ice_t").toPandas(), cols) == _canon(
        parquet.read().toPandas(), cols
    )
    assert set(sink.phase_s) == set(parquet.phase_s) == PHASES

    def ledger(pdf):
        pdf = pdf.drop(columns="commit_ts").sort_values("partition_id")
        return [tuple(int(v) if pd.notna(v) else None for v in r)
                for r in pdf.itertuples(index=False, name=None)]

    want = ledger(parquet.lineage().toPandas())
    assert ledger(spark.table("ice_t_lineage").toPandas()) == want
    assert sum(r[8] for r in want) >= 1  # the gate conflict
    assert [r[9] for r in want if r[1] == -1] == [2]  # the null-key rows
    assert spark.table("ice_t_quarantine").count() == 2
