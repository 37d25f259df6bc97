"""Iceberg MERGE sink — the production sink (north_rule: "lake upsert
... exactly-once sink" over Iceberg). The sandbox's PySpark has no
Iceberg runtime jar (SURVEY.md §7 risk 1), so this module:

- generates the exact ``MERGE INTO`` SQL the engine runs on a real
  cluster (unit-tested as text);
- activates only when an Iceberg catalog is configured
  (``is_available``); otherwise ``ParquetMergeSink`` is the drop-in
  (same ``apply_merge`` contract, same semantics, tested against the
  same oracle).

On a real cluster the table is created
``PARTITIONED BY (bucket(N, conv_id))`` so MERGE touches only the
buckets a batch hits — identical I/O shape to the parquet sink's
dynamic-partition-overwrite emulation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import KEY_COLS


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


def merge_sql(
    table: str,
    source_view: str,
    payload_cols: list[str],
    strategy: str = "replace_and_add",
) -> str:
    """The MERGE the engine issues per micro-batch after max-LSN dedup.
    Field-level merge: non-null source columns overwrite (coalesce),
    the LSN guard makes replays no-ops, D deletes. ``replace_only``
    (M3, record_update.py:878-887) is the same MERGE without the
    WHEN NOT MATCHED insert clause — update-without-insert.
    (Reference semantics M1-M3, record_update.py:843-887.)"""
    if strategy not in ("replace_and_add", "replace_only"):
        raise ValueError(f"unknown strategy: {strategy}")
    on = " AND ".join(f"t.{k} = s.{k}" for k in KEY_COLS)
    sets = ", ".join(f"t.{c} = coalesce(s.{c}, t.{c})" for c in payload_cols)
    ins_cols = ", ".join(KEY_COLS + payload_cols + ["lsn"])
    ins_vals = ", ".join(f"s.{c}" for c in KEY_COLS + payload_cols + ["lsn"])
    sql = (
        f"MERGE INTO {table} t\n"
        f"USING {source_view} s\n"
        f"ON {on}\n"
        f"WHEN MATCHED AND s.op = 'D' AND s.lsn > t.lsn THEN DELETE\n"
        f"WHEN MATCHED AND s.op <> 'D' AND s.lsn > t.lsn AND s.gate_ok THEN\n"
        f"  UPDATE SET {sets}, t.lsn = s.lsn"
    )
    if strategy == "replace_and_add":
        sql += (
            f"\nWHEN NOT MATCHED AND s.op <> 'D' THEN\n"
            f"  INSERT ({ins_cols}) VALUES ({ins_vals})"
        )
    return sql


def evolve_sql(table: str, new_cols: dict[str, str]) -> str:
    """Additive schema evolution (north_star: new tool/metadata columns):
    ALTER ADD COLUMNS; Iceberg back-fills reads with null."""
    cols = ", ".join(f"{c} {t}" for c, t in new_cols.items())
    return f"ALTER TABLE {table} ADD COLUMNS ({cols})"


def prepare_source(
    batch_df: DataFrame,
    target_keys_text: DataFrame,
    fuzzy_gate: bool = False,
    fuzzy_threshold: int = 50,
    require_perfect_match: bool = False,
    dedup_method: str = "agg",
    salt_buckets: int = 0,
) -> tuple[DataFrame, DataFrame]:
    """Build the MERGE source the SQL in :func:`merge_sql` assumes:
    per-key max-LSN deduped changes with a precomputed ``gate_ok``.

    The similarity gate compares incoming vs *existing* text, so it
    cannot live inside the MERGE's WHEN clause (no pandas UDFs in SQL
    MERGE conditions) — instead the target's ``(key, text)`` slice is
    left-joined here and the Arrow UDF computes the gate up front,
    mirroring record_update.py:352-443's lookup-then-compare order.
    Returns ``(source, bad)`` — quarantined rows (null key / unknown
    op) are the caller's to persist, same contract as ParquetMergeSink;
    ``salt_buckets`` as in apply_changes. Runs on plain Spark
    (unit-testable without an Iceberg runtime)."""
    from ..operators.dedup import latest_per_key
    from ..operators.merge import gate_ratio, passes_gate, salted, split_bad

    good, bad = split_bad(batch_df)
    latest = latest_per_key(salted(good, salt_buckets), method=dedup_method)
    if not fuzzy_gate:
        return latest.withColumn("gate_ok", F.lit(True)), bad
    # _t_hit marks a join hit independently of the target text value:
    # a matched row with NULL target text must still be gated (compared
    # against ''), matching operators/merge.py's coalesce semantics —
    # keying the candidate off _t_text.isNotNull() would silently wave
    # those rows through the gate that the parquet sink rejects.
    t = target_keys_text.select(
        *KEY_COLS, F.col("text").alias("_t_text"), F.lit(True).alias("_t_hit")
    )
    j = latest.join(t, KEY_COLS, "left_outer")
    candidate = F.col("_t_hit").isNotNull() & (F.col("op") != "D")
    ratio = gate_ratio(candidate, F.col("text"), F.col("_t_text"))
    ok = passes_gate(ratio, fuzzy_threshold, require_perfect_match)
    return (
        j.withColumn("gate_ok", F.when(candidate, ok).otherwise(F.lit(True))).drop(
            "_t_text", "_t_hit"
        ),
        bad,
    )


class IcebergMergeSink:
    """Same contract as ParquetMergeSink; requires a live catalog."""

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
        strategy: str = "replace_and_add",
        **gate_opts,
    ) -> None:
        """run_stream-compatible contract (same kwargs ParquetMergeSink
        accepts): dedup + gate via prepare_source, MERGE under the
        chosen strategy, quarantine + lineage appended to sibling
        tables, batch_id replay-guarded via the lineage ledger."""
        from ..plans.lineage import batch_lineage

        lineage_tbl = f"{self.table}_lineage"
        # the first batch creates the ledger table; a failing read of an
        # existing one must raise, not re-apply (and re-append) the batch
        if self.spark.catalog.tableExists(lineage_tbl) and (
            self.spark.table(lineage_tbl).filter(F.col("batch_id") == batch_id).take(1)
        ):
            return  # checkpoint replay — already applied
        target = self.spark.table(self.table).select(*KEY_COLS, "text")
        source, bad = prepare_source(batch_df, target, **gate_opts)
        payload_cols = [
            c
            for c in source.columns
            if c not in (*KEY_COLS, "op", "lsn", "commit_ts", "gate_ok")
        ]
        view = f"_changes_batch_{batch_id}"
        source.createOrReplaceTempView(view)
        self.spark.sql(merge_sql(self.table, view, payload_cols, strategy=strategy))
        quarantined = bad.count()
        if audit != "lineage" and quarantined:
            bad.withColumn("batch_id", F.lit(batch_id)).write.mode("append").saveAsTable(
                f"{self.table}_quarantine"
            )
        # minimal ledger row (route granularity needs the join outputs
        # the SQL MERGE keeps engine-side; the parquet sink records the
        # full per-partition breakdown)
        batch_lineage(
            source.select(
                *KEY_COLS, F.col("op"), F.col("lsn"), F.lit("applied").alias("route"),
                F.lit(0).alias("conflict"),
            ),
            batch_id, quarantined=quarantined,
        ).write.mode("append").saveAsTable(lineage_tbl)
