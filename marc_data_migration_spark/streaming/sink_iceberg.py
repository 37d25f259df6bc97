"""Iceberg MERGE sink — the production sink (north_rule: "lake upsert
... exactly-once sink" over Iceberg). The merge rules have one
statement, ``operators/merge.apply_changes``, shared with both parquet
sinks: this sink reads the table rows the batch's keys hit, lets
``apply_changes`` compute their new row images, and MERGEs those
images into the table. The ``MERGE INTO`` it issues only applies rows:
replace the whole row, delete, or insert, each behind the LSN guard
that makes a replay or a racing writer a no-op.

The sink activates only when an Iceberg catalog is configured
(``is_available``); without the Iceberg runtime jar (SURVEY.md §7
risk 1) ``ParquetMergeSink`` is the drop-in (same ``apply_merge``
contract and merge core). The generated SQL is unit-tested as text and
executed in DuckDB against ``apply_changes``.

On a real cluster the table is created
``PARTITIONED BY (bucket(N, conv_id))`` so MERGE touches only the
buckets a batch hits — identical I/O shape to the parquet sink's
dynamic-partition-overwrite emulation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.merge import apply_changes, is_bad
from ..plans.lineage import batch_lineage
from ..schemas import KEY_COLS, LINEAGE_SCHEMA


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
    return (
        f"CREATE TABLE IF NOT EXISTS {table} (\n"
        "  conv_id string, turn_idx int, role string, text string,\n"
        "  tool string, ts timestamp, lsn bigint\n"
        f") USING iceberg PARTITIONED BY (bucket({n_buckets}, conv_id))\n"
        "TBLPROPERTIES ('write.merge.mode'='copy-on-write',\n"
        "               'write.distribution-mode'='hash')"
    )


def merge_sql(table: str, source_view: str, cols: list[str]) -> str:
    """The MERGE the engine issues per micro-batch. ``source_view`` holds
    row images already merged by ``apply_changes`` (its ``delta``: key,
    ``cols``, ``lsn`` and ``_op``), so the statement only applies them:
    a 'D' deletes, any other row replaces the whole target row or is
    inserted. The LSN guard makes a replay or a racing writer a no-op.
    Column lists are explicit, never ``*``."""
    on = " AND ".join(f"t.{k} = s.{k}" for k in KEY_COLS)
    sets = ", ".join(f"t.{c} = s.{c}" for c in [*cols, "lsn"])
    ins_cols = [*KEY_COLS, *cols, "lsn"]
    return (
        f"MERGE INTO {table} t\n"
        f"USING {source_view} s\n"
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


class IcebergMergeSink:
    """Same contract and merge core as ParquetMergeSink, over an Iceberg
    table: ``apply_changes`` decides every row, and the MERGE applies
    the row images it computed. Requires a live catalog."""

    def __init__(self, spark: SparkSession, table: str, n_buckets: int = 256):
        if not is_available(spark):
            raise RuntimeError(
                "Iceberg runtime not on classpath — use ParquetMergeSink "
                "(same semantics) or submit with the iceberg-spark-runtime jar"
            )
        self.spark = spark
        self.table = table
        self.n_buckets = n_buckets
        spark.sql(create_table_sql(table, n_buckets))

    def apply_merge(
        self,
        batch_df: DataFrame,
        batch_id: int,
        audit: str = "full",
        **merge_opts,
    ) -> None:
        """run_stream-compatible contract (the merge options
        ParquetMergeSink accepts): ``apply_changes`` merges the batch
        into the table rows its well-formed keys hit, the MERGE applies
        the resulting row images, and the quarantined rows and the
        route-level lineage rows are appended to sibling tables. A
        batch_id already in the lineage table is a checkpoint replay and
        is skipped."""
        lineage_tbl = f"{self.table}_lineage"
        # the first batch creates the ledger table; a failing read of an
        # existing one must raise, not re-apply (and re-append) the batch
        if self.spark.catalog.tableExists(lineage_tbl) and (
            self.spark.table(lineage_tbl).filter(F.col("batch_id") == batch_id).take(1)
        ):
            return  # checkpoint replay — already applied
        keys = batch_df.filter(~is_bad()).select(*KEY_COLS)
        target = self.spark.table(self.table).join(keys, KEY_COLS, "left_semi")
        res = apply_changes(target, batch_df, persist_join=True, **merge_opts)
        view = f"_changes_batch_{batch_id}"
        try:
            quarantined = res.bad.count()
            # collected before the MERGE: its commit makes Spark recache
            # every cached plan that reads the table, the join cache too,
            # and a join recomputed over the merged table routes every
            # applied change as stale (a delete as delete-noop). This
            # collect also fills the cache the MERGE reads.
            ledger = batch_lineage(
                res.routed, batch_id, n_partitions=self.n_buckets, quarantined=quarantined
            ).toArrow()
            res.delta.createOrReplaceTempView(view)
            cols = [c for c in res.delta.columns if c not in (*KEY_COLS, "lsn", "_op")]
            self.spark.sql(merge_sql(self.table, view, cols))
            if audit != "lineage" and quarantined:
                res.bad.withColumn("batch_id", F.lit(batch_id)).write.mode(
                    "append"
                ).saveAsTable(f"{self.table}_quarantine")
            self.spark.createDataFrame(ledger, LINEAGE_SCHEMA).write.mode(
                "append"
            ).saveAsTable(lineage_tbl)
        finally:
            self.spark.catalog.dropTempView(view)
            res.unpersist()
