"""Iceberg MERGE sink — the production sink (north_rule: "lake upsert
... exactly-once sink" over Iceberg). It runs the ``sink.py`` skeleton,
so the merge core and the commit rule of the parquet sinks, with tables
for directories. Stage: the batch's row images (``apply_changes``' delta)
go to ``<table>_staged``, and its routed, quarantine and field-audit rows
to their tables, each replacing what an earlier attempt at the batch
wrote. Commit: its lineage rows, collected before any MERGE, go to
``<table>_lineage``, the ledger. Publish: ``MERGE INTO <table>`` from the
batch's staged rows, then their delete; the MERGE only applies rows
behind the LSN guard, so running it again is a no-op. Every table but
the target is partitioned by batch_id, so each write replaces whole
partitions, in one commit.

It activates only with an Iceberg catalog (``is_available``); without
the jar (SURVEY.md §7 risk 1) ``ParquetMergeSink`` is the drop-in. The
table is ``PARTITIONED BY (bucket(N, conv_id))``, so a MERGE touches only
the buckets a batch hits, as the parquet sinks' bucket directories do.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.merge import MergeResult, is_bad
from ..schemas import KEY_COLS, LINEAGE_SCHEMA, TRANSCRIPTS_SCHEMA
from .sink import MergeSink


def is_available(spark: SparkSession) -> bool:
    """True when an Iceberg SparkCatalog is on the classpath+conf."""
    try:
        jvm = spark.sparkContext._jvm
        jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
    except Exception:
        return False
    confs = spark.sparkContext.getConf().getAll()
    return any(k.startswith("spark.sql.catalog.") and "iceberg" in v.lower() for k, v in confs)


def create_table_sql(table: str, n_buckets: int = 256) -> str:
    cols = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in TRANSCRIPTS_SCHEMA)
    return (
        f"CREATE TABLE IF NOT EXISTS {table} (\n  {cols}\n) USING iceberg "
        f"PARTITIONED BY (bucket({n_buckets}, conv_id))\n"
        "TBLPROPERTIES ('write.merge.mode'='copy-on-write',\n"
        "               'write.distribution-mode'='hash')"
    )


def merge_sql(table: str, source: str, cols: list[str]) -> str:
    """The MERGE the engine issues per micro-batch. ``source`` (a table
    or a parenthesized query) holds row images already merged by
    ``apply_changes`` (its ``delta``: key, ``cols``, ``lsn`` and
    ``_op``), so the statement only applies them:
    a 'D' deletes, any other row replaces the whole target row or is
    inserted. The LSN guard makes a replay or a racing writer a no-op.
    Column lists are explicit, never ``*``."""
    on = " AND ".join(f"t.{k} = s.{k}" for k in KEY_COLS)
    sets = ", ".join(f"t.{c} = s.{c}" for c in [*cols, "lsn"])
    ins_cols = [*KEY_COLS, *cols, "lsn"]
    return (
        f"MERGE INTO {table} t\n"
        f"USING {source} s\n"
        f"ON {on}\n"
        f"WHEN MATCHED AND s._op = 'D' AND s.lsn > t.lsn THEN DELETE\n"
        f"WHEN MATCHED AND s.lsn > t.lsn THEN\n"
        f"  UPDATE SET {sets}\n"
        f"WHEN NOT MATCHED AND s._op <> 'D' THEN\n"
        f"  INSERT ({', '.join(ins_cols)}) VALUES ({', '.join(f's.{c}' for c in ins_cols)})"
    )


def evolve_sql(table: str, new_cols: dict[str, str]) -> str:
    """Additive schema evolution (north_star: new tool/metadata columns):
    ALTER ADD COLUMNS; Iceberg back-fills reads with null."""
    cols = ", ".join(f"{c} {t}" for c, t in new_cols.items())
    return f"ALTER TABLE {table} ADD COLUMNS ({cols})"


class IcebergMergeSink(MergeSink):
    """The shared ``apply_merge`` over an Iceberg table. Requires a live
    catalog. The ledger is read once, when the sink opens."""

    def __init__(self, spark: SparkSession, table: str, n_buckets: int = 256):
        if not is_available(spark):
            raise RuntimeError(
                "Iceberg runtime not on classpath — use ParquetMergeSink "
                "(same semantics) or submit with the iceberg-spark-runtime jar"
            )
        super().__init__(spark, n_buckets)
        self.table = table
        self.staged = f"{table}_staged"
        spark.sql(create_table_sql(table, n_buckets))
        self._ledger()
        self._recover_staging()

    def _read_ledger(self) -> set[int]:
        return set(self._batch_ids(f"{self.table}_lineage"))

    def _batch_ids(self, table: str) -> list[int]:
        if not self.spark.catalog.tableExists(table):
            return []
        return [r.batch_id for r in self.spark.table(table).select("batch_id").distinct().collect()]

    def _read_base(self, batch_df: DataFrame, touched: list[int]) -> DataFrame:
        """The table rows the batch's well-formed keys hit."""
        keys = batch_df.filter(~is_bad()).select(*KEY_COLS)
        return self.spark.table(self.table).join(keys, KEY_COLS, "left_semi")

    def _rows(self, res: MergeResult) -> DataFrame:
        return res.delta

    def _widen_schema(self, schema: T.StructType) -> None:
        """Add the batch's new columns to the table before its MERGE names them."""
        self._evolve(self.table, [f for f in schema if f.name != "_op"])

    def _evolve(self, table: str, fields: list[T.StructField]) -> None:
        known = set(self.spark.table(table).columns)
        new = {f.name: f.dataType.simpleString() for f in fields if f.name not in known}
        if new:
            self.spark.sql(evolve_sql(table, new))

    def _stage(self, res: MergeResult, touched: list[int], batch_id: int) -> None:
        self._write(self.staged, self._rows(res), batch_id)

    def _stage_audit(self, name: str, df: DataFrame, batch_id: int) -> None:
        self._write(f"{self.table}_{'quarantine' if name == 'bad' else name}", df, batch_id)

    def _write_ledger(self, ledger, batch_id: int) -> None:
        ledger = self.spark.createDataFrame(ledger, LINEAGE_SCHEMA)
        self._write(f"{self.table}_lineage", ledger, batch_id)

    def _write(self, table: str, df: DataFrame, batch_id: int) -> None:
        """Make ``df`` the batch's rows of ``table`` in one commit: the
        first write creates the table, partitioned by batch_id; a later
        one widens it to ``df``'s columns and replaces the batch's rows."""
        df = df.withColumn("batch_id", F.lit(batch_id).cast("long"))
        if not self.spark.catalog.tableExists(table):
            df.writeTo(table).partitionedBy(F.col("batch_id")).create()
            return
        self._evolve(table, df.schema.fields)
        df.writeTo(table).overwrite(F.col("batch_id") == batch_id)

    def _publish(self, batch_id: int) -> None:
        """MERGE the batch's staged row images into the table, then delete
        them; a publish cut short runs again from the MERGE."""
        if not self.spark.catalog.tableExists(self.staged):
            return  # no batch of this table was ever staged
        meta = (*KEY_COLS, "lsn", "_op", "batch_id")
        cols = [c for c in self.spark.table(self.staged).columns if c not in meta]
        source = f"(SELECT * FROM {self.staged} WHERE batch_id = {batch_id})"
        self.spark.sql(merge_sql(self.table, source, cols))
        self._drop_staged(batch_id)

    def _staged_batch_ids(self) -> list[int]:
        return self._batch_ids(self.staged)

    def _drop_staged(self, batch_id: int) -> None:
        self.spark.sql(f"DELETE FROM {self.staged} WHERE batch_id = {batch_id}")
