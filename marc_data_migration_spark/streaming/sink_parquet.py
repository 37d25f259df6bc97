"""Exactly-once MERGE sinks over bucketed parquet — operator S7
(SURVEY.md §2.1) where Iceberg jars are unavailable (SURVEY.md §7 risk
1). Both run the ``sink.py`` skeleton with directories and renames for
hooks: the table is hash-bucketed on conv_id into ``bucket=<k>``
directories and a batch reads ONLY the buckets it touches (partition
pruning); every output of batch N is staged in ``_staging_batch_<N>/``;
the commit is one driver-written ledger file, ``lineage/batch-<N>.parquet``
(tmp file + rename: the driver must reach the table's filesystem);
``_publish`` then moves everything staged into place, each step safe to
run again on what is left.

Copy-on-write (:class:`ParquetMergeSink`) stages the new version of every
touched bucket and swaps those bucket directories in: at 100 TB with a
bucket ≈ a few GB, a batch touching 1% of conversations rewrites ~1% of
the table, the I/O shape of an Iceberg copy-on-write MERGE. Merge-on-read
(:class:`MorParquetMergeSink`) stages only the changed rows, a delta.
Schema evolution is additive: ``_table_properties.json`` stores the
schema, a batch appends its new columns there before its rows become
visible, and every scan reads with it, so older files read them as null.
"""

from __future__ import annotations

import json
import os
import shutil

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..operators.merge import MergeResult
from ..schemas import CHANGE_META, KEY_COLS, LINEAGE_SCHEMA, TRANSCRIPTS_SCHEMA
from .sink import MergeSink, bucket_expr

BUCKET_COL = "bucket"
PROPS_FILE = "_table_properties.json"
AUDIT_TABLES = ("lineage", "routed", "bad", "field_audit")


def load_table_properties(path: str) -> dict | None:
    """Persisted table properties ({sink_mode, n_buckets, schema}), or
    None for a path that has never been written. Layout and schema are
    properties of the TABLE, not of the invocation — per-run CLI flags
    must not be able to silently re-bucket the base or read a
    merge-on-read table through the copy-on-write view (stale reads)."""
    p = os.path.join(path, PROPS_FILE)
    if not os.path.isfile(p):
        return None
    with open(p) as fh:
        return json.load(fh)


def open_sink(
    spark: SparkSession,
    path: str,
    sink_mode: str | None = None,
    n_buckets: int | None = None,
) -> "ParquetMergeSink":
    """Open the sink for ``path``: the class follows ``sink_mode``, else
    the persisted table properties, else copy-on-write. The sink's
    ``__init__`` validates explicit arguments against the persisted
    properties (a mismatch raises — re-bucketing is a deliberate
    maintenance rewrite, not a flag); for a brand-new table they set
    them (defaults cow/32)."""
    if sink_mode is None:
        sink_mode = (load_table_properties(path) or {}).get("sink_mode", "cow")
    cls = MorParquetMergeSink if sink_mode == "mor" else ParquetMergeSink
    return cls(spark, path, n_buckets=n_buckets)


class ParquetMergeSink(MergeSink):
    SINK_MODE = "cow"

    def __init__(self, spark: SparkSession, path: str, n_buckets: int | None = None):
        self.path = path
        self.data_path = os.path.join(path, "data")
        self.lineage_path = os.path.join(path, "lineage")
        self.routed_path = os.path.join(path, "routed")
        self.bad_path = os.path.join(path, "bad")
        self.field_audit_path = os.path.join(path, "field_audit")
        n_buckets, self.schema = self._resolve_layout(n_buckets)
        super().__init__(spark, n_buckets)
        self._recover_compaction()
        self._recover_staging()

    def _resolve_layout(
        self, n_buckets: int | None
    ) -> tuple[int, T.StructType | None]:
        """Validate this sink against the table's persisted properties and
        return (n_buckets, schema); the schema is None for a path that is
        not a table yet. n_buckets is a TABLE property: the bucket
        directory layout and the bucket filter in _read_buckets must
        agree, or base rows are silently missed and the LSN idempotence
        guard is bypassed."""
        props = load_table_properties(self.path)
        if props is None or "schema" not in props:
            if any(os.path.isdir(os.path.join(self.path, d)) for d in ("data", "delta")):
                raise ValueError(
                    f"table {self.path} holds data but its {PROPS_FILE} is "
                    "missing or has no schema; the table's schema and layout "
                    "(sink_mode, n_buckets) cannot be read from anywhere else."
                )
            return (32 if n_buckets is None else n_buckets), None
        if props["sink_mode"] != self.SINK_MODE:
            raise ValueError(
                f"table {self.path} has sink_mode={props['sink_mode']!r} but was "
                f"opened as {self.SINK_MODE!r}. Reading a {props['sink_mode']!r} "
                f"table through the {self.SINK_MODE!r} view would return "
                "stale/incorrect state; open it with its own mode (open_sink() "
                "detects it)."
            )
        if n_buckets is not None and n_buckets != props["n_buckets"]:
            raise ValueError(
                f"table {self.path} is bucketed n_buckets={props['n_buckets']}; "
                f"got n_buckets={n_buckets}. Changing bucket count requires a "
                f"full rewrite (init on a fresh path), not a flag."
            )
        return props["n_buckets"], T.StructType.fromJson(props["schema"])

    def _write_props(self, schema: T.StructType) -> None:
        """Persist {sink_mode, n_buckets, schema} atomically (tmp file +
        rename) and adopt ``schema`` as the table schema."""
        os.makedirs(self.path, exist_ok=True)
        tmp = os.path.join(self.path, PROPS_FILE + ".tmp")
        props = {
            "sink_mode": self.SINK_MODE,
            "n_buckets": self.n_buckets,
            "schema": schema.jsonValue(),
        }
        with open(tmp, "w") as fh:
            json.dump(props, fh)
        os.replace(tmp, os.path.join(self.path, PROPS_FILE))
        self.schema = schema

    def _widen_schema(self, schema: T.StructType) -> None:
        """Additive evolution: append the fields of ``schema`` the table
        does not store yet, in arrival order; stored fields keep their
        order and type. apply_merge calls this before ``_stage``, so a
        new column is stored before any row that has it can become
        visible; files written earlier read it as null. Writes only for
        a new table or a grown field set; a delta's ``_op`` is not stored."""
        stored = self.schema.fields if self.schema is not None else []
        known = {f.name for f in stored} | {"_op"}
        new = [f for f in schema.fields if f.name not in known]
        if self.schema is None or new:
            self._write_props(T.StructType(stored + new))

    # -- target state ---------------------------------------------------
    def exists(self) -> bool:
        return os.path.isdir(self.data_path) and any(
            name.startswith(f"{BUCKET_COL}=") for name in os.listdir(self.data_path)
        )

    def init(self, base: DataFrame) -> None:
        self._write_props(base.schema)
        self._write_bucketed(base, self.data_path, self.n_buckets)

    def _write_bucketed(self, df: DataFrame, path: str, n_parts: int) -> None:
        """Overwrite ``path`` with ``df`` in ``bucket=<k>`` directories,
        written by ``n_parts`` tasks. Rows are key-clustered within each
        bucket file: parquet row-group min/max stats on (conv_id,
        turn_idx) let point/range reads skip row groups — the local
        analogue of Iceberg's sort order. The bucket leads the sort: the
        dynamic-partition writer requires its ordering to be prefixed by
        the partition column, else it inserts its own bucket-only sort
        and destroys the key clustering."""
        (
            df.withColumn(BUCKET_COL, bucket_expr(self.n_buckets))
            .repartition(n_parts, BUCKET_COL)
            .sortWithinPartitions(BUCKET_COL, *KEY_COLS)
            .write.mode("overwrite")
            .partitionBy(BUCKET_COL)
            .parquet(path)
        )

    def read(self) -> DataFrame:
        if not self.exists():  # fully-deleted (or never-written) table
            schema = TRANSCRIPTS_SCHEMA if self.schema is None else self.schema
            return self.spark.createDataFrame([], schema)
        return self._read_buckets(None)

    def _read_buckets(self, buckets: list[int] | None) -> DataFrame:
        """Current state of ``buckets`` (None = all) of an existing table."""
        return self._scan(self.data_path, buckets, self.schema).drop(BUCKET_COL)

    def _scan(
        self, path: str, buckets: list[int] | None, schema: T.StructType
    ) -> DataFrame:
        """Rows of the bucketed directory ``path`` read with ``schema``
        plus the partition columns Spark appends, pruned to ``buckets``."""
        df = self.spark.read.schema(schema).parquet(path)
        if buckets is not None:
            # one py4j call (isin makes several per value); IN (NULL) is empty
            df = df.filter(f"{BUCKET_COL} IN ({', '.join(map(str, buckets)) or 'NULL'})")
        return df

    # -- sink hooks: what a batch writes, and when readers see it -------
    def _read_ledger(self) -> set[int]:
        if not os.path.isdir(self.lineage_path):
            return set()
        return {r.batch_id for r in self.lineage().select("batch_id").distinct().collect()}

    def _maintain(self, batch_id: int) -> None:
        self._drop_staged(batch_id)  # left by an attempt that failed before the ledger

    def _read_base(self, batch_df: DataFrame, touched: list[int]) -> DataFrame:
        return self._read_buckets(touched) if self.exists() else self._empty_base(batch_df)

    def _rows(self, res: MergeResult) -> DataFrame:
        """The rows a batch stages: the new version of the touched buckets."""
        return res.final

    def _stage(self, res: MergeResult, touched: list[int], batch_id: int) -> None:
        """Write the new version of the touched buckets to the batch's
        staging ``data/``, plus an empty ``bucket=<k>`` marker for each
        touched bucket the batch emptied (writing over data/ would delete
        the very files the merge plan reads)."""
        staged = os.path.join(self._staging(batch_id), "data")
        self._write_bucketed(self._rows(res), staged, max(len(touched), 1))
        for b in touched:
            os.makedirs(os.path.join(staged, f"{BUCKET_COL}={b}"), exist_ok=True)

    def _publish(self, batch_id: int) -> None:
        """Move each staged audit file into its table, then the sink's rows
        (``_publish_rows``), then drop the staging directory. Each step is
        safe to run again on what is left, so a publish cut short resumes
        where it stopped: it only ever rolls forward."""
        staging = self._staging(batch_id)
        if not os.path.isdir(staging):
            return
        for table in AUDIT_TABLES[1:]:
            src, dst = os.path.join(staging, table), os.path.join(self.path, table)
            if not os.path.isdir(src):
                continue
            os.makedirs(dst, exist_ok=True)
            for name in sorted(os.listdir(src)):
                if name.endswith(".parquet"):
                    os.replace(os.path.join(src, name), os.path.join(dst, name))
        self._publish_rows(staging, batch_id)
        shutil.rmtree(staging, ignore_errors=True)

    def _publish_rows(self, staging: str, batch_id: int) -> None:
        """Swap each staged bucket into data/: drop the live bucket, then
        rename the staged one in (an empty marker: the bucket stays gone)."""
        staged = os.path.join(staging, "data")
        for name in sorted(os.listdir(staged)) if os.path.isdir(staged) else []:
            if not name.startswith(f"{BUCKET_COL}="):
                continue
            src, dst = os.path.join(staged, name), os.path.join(self.data_path, name)
            shutil.rmtree(dst, ignore_errors=True)
            if os.listdir(src):
                os.makedirs(self.data_path, exist_ok=True)
                os.replace(src, dst)

    def _stage_audit(self, name: str, df: DataFrame, batch_id: int) -> None:
        """Stage one audit output; ``_publish`` moves it in after the
        ledger. Coalesced: a long-lived stream otherwise accretes
        shuffle-partition-count tiny files per batch (4.5× on routed)."""
        df.coalesce(8).withColumn("batch_id", F.lit(batch_id)).write.mode(
            "overwrite"
        ).parquet(os.path.join(self._staging(batch_id), name))

    def _write_ledger(self, ledger, batch_id: int) -> None:
        """THE commit: one driver-written file, made visible by one rename."""
        os.makedirs(self.lineage_path, exist_ok=True)
        tmp = os.path.join(self.lineage_path, f".batch-{batch_id}.parquet.tmp")
        pq.write_table(ledger.cast(to_arrow_schema(LINEAGE_SCHEMA)), tmp)
        os.replace(tmp, os.path.join(self.lineage_path, f"batch-{batch_id}.parquet"))

    def _staging(self, batch_id: int) -> str:
        return os.path.join(self.path, f"_staging_batch_{batch_id}")

    def _empty_base(self, batch_df: DataFrame) -> DataFrame:
        payload = [c for c in batch_df.columns if c not in CHANGE_META]
        empty = batch_df.select(*payload, F.col("lsn")).limit(0)
        return empty.select(*KEY_COLS, *[c for c in empty.columns if c not in KEY_COLS])

    def lineage(self) -> DataFrame:
        return self.spark.read.schema(LINEAGE_SCHEMA).parquet(self.lineage_path)

    def routed(self) -> DataFrame:
        return self.spark.read.parquet(self.routed_path)

    def field_audit(self) -> DataFrame:
        """Per-field old→new diff rows (audit='fields' batches only)."""
        return self.spark.read.parquet(self.field_audit_path)

    def compact_audit(self, target_files: int = 8) -> dict[str, int]:
        """Maintenance pass for the append-only side tables: each batch
        appends a few small parquet files to lineage/routed/bad, and a
        long-lived stream accretes thousands (slow listings, tiny
        reads). Rewrites each table into ≤``target_files`` files via a
        staging dir + directory swap (the same commit pattern as the
        data buckets; Iceberg's rewrite_data_files is the production
        analogue). Content is unchanged — the exactly-once ledger reads
        identically afterwards. Returns files-before per table."""
        before: dict[str, int] = {}
        for name in AUDIT_TABLES:
            path = os.path.join(self.path, name)
            if not os.path.isdir(path):
                continue
            files = [f for f in os.listdir(path) if f.endswith(".parquet")]
            before[name] = len(files)
            if len(files) <= target_files:
                continue
            # mergeSchema: ``bad`` stores raw feed rows (split_bad keeps
            # every feed column), so only its files from evolved batches
            # carry tool_meta — sampling one old footer would silently
            # drop that column and its values
            compacted = self.spark.read.option("mergeSchema", "true").parquet(path)
            self._swap_dir(
                path, compacted.coalesce(target_files).write.mode("overwrite").parquet
            )
        return before

    def _swap_dir(self, path: str, write) -> None:
        """Replace directory ``path`` with what ``write(staging)`` writes:
        stage, then ``path → path_old`` and ``staging → path`` (two
        atomic renames), then drop the old copy. _recover_compaction
        undoes a crash between the renames."""
        staging, trash = path + "_compacting", path + "_old"
        write(staging)
        shutil.rmtree(trash, ignore_errors=True)
        if os.path.isdir(path):
            os.replace(path, trash)
        os.replace(staging, path)
        shutil.rmtree(trash, ignore_errors=True)

    def _recover_compaction(self) -> None:
        """Crash recovery for _swap_dir (compact_audit, and compact_data
        on a merge-on-read table): a kill between `path -> path_old` and
        `staging -> path` leaves the table (possibly the exactly-once
        ledger, or the base) missing; restore the original and discard
        the incomplete staging dir. A copy-on-write table never swaps
        data/ this way, so for it that entry is a no-op."""
        for name in (*AUDIT_TABLES, "data"):
            path = os.path.join(self.path, name)
            trash, staging = path + "_old", path + "_compacting"
            if not os.path.isdir(path) and os.path.isdir(trash):
                os.replace(trash, path)
            shutil.rmtree(staging, ignore_errors=True)
            shutil.rmtree(trash, ignore_errors=True)

    def _recover_staging(self) -> None:
        """The shared rule, after an unrenamed ledger tmp file is removed."""
        for name in os.listdir(self.lineage_path) if os.path.isdir(self.lineage_path) else []:
            if name.startswith(".") and name.endswith(".tmp"):
                os.remove(os.path.join(self.lineage_path, name))
        super()._recover_staging()

    def _staged_batch_ids(self) -> list[int]:
        names = os.listdir(self.path) if os.path.isdir(self.path) else []
        return [int(n.rsplit("_", 1)[1]) for n in names if n.startswith("_staging_batch_")]

    def _drop_staged(self, batch_id: int) -> None:
        shutil.rmtree(self._staging(batch_id), ignore_errors=True)


class MorParquetMergeSink(ParquetMergeSink):
    """Merge-on-read variant of the local sink — the Iceberg MoR
    analogue (write.merge.mode='merge-on-read' + positional/equality
    deletes). ``apply_merge`` writes ONLY a per-batch delta file set
    (merged rows for applied upserts + 'D' markers, partitioned by
    bucket) instead of rewriting every touched bucket: write I/O per
    batch is O(batch rows), not O(touched-bucket bytes) — the copy-on-
    write sink's dominant cost and the honest production write shape.

    Readers reconstruct current state last-writer-wins over
    (base ∪ deltas): row_number() over the key ordered by batch seq
    then LSN, drop 'D' winners. Read cost grows with the delta count;
    ``compact_data()`` folds deltas back into the bucketed base
    (rewrite_data_files analogue).

    Only the staged and published rows differ from copy-on-write: the
    delta is staged in ``_staging_batch_<id>/delta``, published to delta/.
    """

    SINK_MODE = "mor"

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        n_buckets: int | None = None,
        auto_compact_deltas: int | None = None,
    ):
        """``auto_compact_deltas`` — scheduled-maintenance knob (Iceberg's
        rewrite_data_files analogue, run inline): at the start of each
        batch, if the published delta count has reached this threshold,
        all deltas are folded into the bucketed base before the batch
        reads the view. Bounds the read-side merge fan-in of a
        long-lived stream at ``threshold`` deltas; None (default)
        leaves compaction to an explicit compact_data() call. An
        operational knob, not a table-layout property — safe to vary
        per run. Must be >= 1."""
        if auto_compact_deltas is not None and auto_compact_deltas < 1:
            raise ValueError("auto_compact_deltas must be >= 1")
        self.auto_compact_deltas = auto_compact_deltas
        self.delta_path = os.path.join(path, "delta")  # recovery publishes deltas
        super().__init__(spark, path, n_buckets)

    # -- merge-on-read view ------------------------------------------------
    def _delta_batch_dirs(self) -> list[str]:
        """Published delta dirs in ASCENDING numeric batch order — the
        order compact_data deletes them in, which is what makes a crash
        mid-deletion safe (see compact_data)."""
        if not os.path.isdir(self.delta_path):
            return []
        names = [n for n in os.listdir(self.delta_path) if n.startswith("batch_id=")]
        return [
            os.path.join(self.delta_path, n)
            for n in sorted(names, key=lambda n: int(n.split("=", 1)[1]))
        ]

    def _has_deltas(self) -> bool:
        # _publish_delta never publishes an empty dir, so existence of a
        # batch dir implies parquet files — no O(total files) walk.
        return bool(self._delta_batch_dirs())

    def exists(self) -> bool:
        """True when base buckets or published deltas hold rows."""
        return super().exists() or self._has_deltas()

    def _read_buckets(self, buckets: list[int] | None) -> DataFrame:
        """Current state = last writer per key over base ∪ deltas.
        Spark 4 plans row_number()=1 as WindowGroupLimit (partial+final)
        so the reconstruction is map-side-limited, not a full sort."""
        parts = []
        if super().exists():
            # the base ranks below every delta batch
            marks = {"_op": F.lit("U"), "batch_id": F.lit(-1)}
            parts.append(self._scan(self.data_path, buckets, self.schema).withColumns(marks))
        if self._has_deltas():
            delta_schema = T.StructType(
                [*self.schema.fields, T.StructField("_op", T.StringType())]
            )
            parts.append(self._scan(self.delta_path, buckets, delta_schema))
        view = parts[0]
        for p in parts[1:]:
            view = view.unionByName(p)
        w = Window.partitionBy(*KEY_COLS).orderBy(
            F.col("batch_id").desc(), F.col("lsn").desc()
        )
        return (
            view.withColumn("_rn", F.row_number().over(w))
            .filter((F.col("_rn") == 1) & (F.col("_op") != "D"))
            .drop("_rn", "_op", "batch_id", BUCKET_COL)
        )

    # -- sink hooks: delta write, published after the ledger ---------------
    def _maintain(self, batch_id: int) -> None:
        """Scheduled maintenance for deltas accumulated by PREVIOUS
        batches, run BEFORE this batch reads the view: folding here both
        bounds the merge fan-in this batch pays and keeps the returned
        MergeResult valid — compacting after the return value was built
        would delete delta files its lazy plans still reference
        (FileNotFound on any post-return evaluation)."""
        super()._maintain(batch_id)
        if (
            self.auto_compact_deltas is not None
            and len(self._delta_batch_dirs()) >= self.auto_compact_deltas
        ):
            self.compact_data()

    def _rows(self, res: MergeResult) -> DataFrame:
        """The batch's delta: its changed rows, each marked by ``_op``."""
        return res.delta

    def _stage(self, res: MergeResult, touched: list[int], batch_id: int) -> None:
        """Stage the delta; it stays invisible to readers until _publish."""
        staged = os.path.join(self._staging(batch_id), "delta")
        self._write_bucketed(self._rows(res), staged, max(len(touched), 1))

    def _publish_rows(self, staging: str, batch_id: int) -> None:
        self._publish_delta(os.path.join(staging, "delta"), batch_id)

    def _publish_delta(self, staged: str, batch_id: int) -> None:
        """Rename the staged delta into delta/ unless it holds no rows
        (an all-stale or all-bad batch publishes nothing)."""
        if any(f.endswith(".parquet") for _, _, fs in os.walk(staged) for f in fs):
            os.makedirs(self.delta_path, exist_ok=True)
            os.replace(staged, os.path.join(self.delta_path, f"batch_id={batch_id}"))

    # -- compaction ----------------------------------------------------------
    def compact_data(self) -> int:
        """Fold all published deltas into the bucketed base (Iceberg
        rewrite_data_files analogue); returns the number of delta
        batches folded. Crash-safe at every window: the staged base is
        written from the MoR view before any swap; restoring the old
        base (init recovery) is correct because the deltas are only
        deleted after the new base is live. Deltas are deleted in
        ASCENDING batch order, so a crash mid-deletion can only leave a
        NEWEST-suffix of deltas on disk — each surviving delta row
        either ties with the folded base value (same last writer) or IS
        the last writer, so the view is unchanged. (Deleting in
        lexicographic order — 'batch_id=10' before 'batch_id=2' — could
        leave an OLD delta alive after newer ones were removed, and its
        batch_id would outrank the folded base: silent regression.)"""
        batches = self._delta_batch_dirs()  # ascending numeric order
        if not batches:
            return 0
        self._swap_dir(
            self.data_path,
            lambda staging: self._write_bucketed(self.read(), staging, self.n_buckets),
        )
        for b in batches:
            shutil.rmtree(b, ignore_errors=True)
        return len(batches)
