"""The exactly-once MERGE skeleton every sink runs — operator S7
(SURVEY.md §2.1). ``MergeSink.apply_merge(batch_df, batch_id)`` is
idempotent per batch_id and per LSN. It runs seven phases; each adds its
seconds to ``phase_s`` and labels its Spark jobs ``<phase> batch <id>``:

1. ``ledger`` — a ledgered batch_id is a replay: ``_publish`` finishes
   what a failed attempt left undone, and the batch is skipped;
2. ``maintain`` — ``_maintain`` drops what a failed attempt left and
   runs the table maintenance due before the batch reads;
3. ``touched`` — one grouped collect yields the buckets the batch's keys
   touch and its quarantine count;
4. ``plan`` — ``_read_base`` reads the rows the batch can hit,
   ``apply_changes`` builds the merge (its join cache is the only thing
   a batch materializes), and ``_widen_schema`` adds new columns;
5. ``stage`` — ``_stage`` writes the batch's rows where no reader sees them;
6. ``commit`` — ``_stage_audit`` writes the routed, bad and field-audit
   rows while the lineage rows are collected from the join cache, then
   ``_write_ledger`` writes them: THE commit;
7. ``publish`` — ``_publish`` makes the staged rows visible.

Recovery (``_recover_staging``, at sink open) publishes a ledgered staged
batch and drops an un-ledgered one. Sinks supply the hooks above plus
``_read_ledger``, ``_rows``, ``_staged_batch_ids`` and ``_drop_staged``:
directories in ``sink_parquet.py``, tables in ``sink_iceberg.py``.
"""

from __future__ import annotations

import time
from collections import Counter
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.merge import MergeResult, apply_changes, is_bad
from ..plans.lineage import batch_lineage


def bucket_expr(n_buckets: int):
    return F.pmod(F.xxhash64(F.col("conv_id")), F.lit(n_buckets)).cast("int")


class MergeSink:
    def __init__(self, spark: SparkSession, n_buckets: int):
        self.spark = spark
        self.n_buckets = n_buckets
        self._applied_ids: set[int] | None = None  # lazy ledger cache
        self.phase_s: Counter[str] = Counter()  # seconds per apply_merge phase

    # -- exactly-once ledger ---------------------------------------------
    def _ledger(self) -> set[int]:
        """The applied-batch ledger, read ONCE per sink and then kept by
        apply_merge: a re-read per batch would scan O(batches²) rows."""
        if self._applied_ids is None:
            self._applied_ids = self._read_ledger()
        return self._applied_ids

    def applied_batch_ids(self) -> set[int]:
        return set(self._ledger())  # copy: callers must not alias the ledger

    # -- MERGE -----------------------------------------------------------
    def apply_merge(
        self,
        batch_df: DataFrame,
        batch_id: int,
        audit: str = "full",
        **merge_opts,
    ) -> MergeResult | None:
        """Idempotently MERGE one change batch. Returns None if the
        batch_id was already applied (checkpoint replay).

        ``audit`` — "full" (default) also persists the per-change routed
        audit + quarantine tables (reference S10 per-record audit logs);
        "fields" additionally writes the per-field old→new diff table
        (reference fields-audit log, record_update.py:626-641) — the
        most detailed and most expensive mode; "lineage" writes only the
        aggregated lineage ledger (always on — it is the exactly-once
        guard and the north_rule metrics table). The ``commit`` entry of
        ``phase_s`` is what an audit mode costs; at maximum-throughput
        tailing the audit is the first thing to shed."""
        if audit not in ("fields", "full", "lineage"):
            raise ValueError(f"unknown audit mode: {audit}")
        with self._phase("ledger", batch_id):
            replay = batch_id in self._ledger()
        if replay:
            # a same-object retry after a failure between the ledger and
            # the publish rolls the complete staged rows forward, as recovery does
            with self._phase("publish", batch_id):
                self._publish(batch_id)
            return None
        with self._phase("maintain", batch_id):
            self._maintain(batch_id)
        with self._phase("touched", batch_id):
            touched, quarantined = self._touched_buckets(batch_df)
        res = None
        try:
            with self._phase("plan", batch_id):
                base = self._read_base(batch_df, touched)
                # persist_join: the staging write evaluates the merge once;
                # routed, lineage and field-audit rows project from the cache
                res = apply_changes(
                    base,
                    batch_df,
                    persist_join=True,
                    field_audit=(audit == "fields"),
                    **merge_opts,
                )
                # a parquet stream onto an un-init'd path creates its table here
                self._widen_schema(self._rows(res).schema)
            with self._phase("stage", batch_id):
                self._stage(res, touched, batch_id)
            with self._phase("commit", batch_id):
                self._commit_lineage_and_audits(res, batch_id, audit, quarantined)
            with self._phase("publish", batch_id):
                self._publish(batch_id)
        finally:
            # also on failure: a retry of a ledgered batch returns early
            # above and would leave the join cache in executor memory
            if res is not None:
                res.unpersist()
        return res

    @contextmanager
    def _phase(self, name: str, batch_id: int):
        """Run one step of apply_merge as phase ``name``: time it and label
        its Spark jobs (pool threads inherit the label), then restore the
        caller's job description."""
        sc = self.spark.sparkContext
        caller = sc.getLocalProperty("spark.job.description")
        sc.setLocalProperty("spark.job.description", f"{name} batch {batch_id}")
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phase_s[name] += time.perf_counter() - t0
            sc.setLocalProperty("spark.job.description", caller)

    def _maintain(self, batch_id: int) -> None:
        """Drop what a failed attempt left; run maintenance due (none)."""

    def _touched_buckets(self, batch_df: DataFrame) -> tuple[list[int], int]:
        """(the buckets the batch's well-formed keys touch, its quarantined
        row count) from one grouped collect over the batch as it arrives,
        neither cached nor re-keyed. A quarantined row falls in the NULL
        group and touches no bucket (xxhash64(NULL) is 42, a real bucket)."""
        b = F.when(~is_bad(), bucket_expr(self.n_buckets)).alias("b")
        counts = {r.b: r["count"] for r in batch_df.groupBy(b).count().collect()}
        return [k for k in counts if k is not None], counts.get(None, 0)

    def _commit_lineage_and_audits(
        self, res: MergeResult, batch_id: int, audit: str, quarantined: int
    ) -> None:
        """Write the audit outputs, each in its own thread (one Spark job
        each; ``bad`` reads the batch, the rest project from the join
        cache), while the ledger record is collected from the cache, then
        commit the batch by writing its ledger. A failure here precedes
        the ledger: the batch replays and writes its audits again."""
        with ThreadPoolExecutor(max_workers=3) as pool:

            def submit(name: str, df: DataFrame):
                # wrapped per output: each wrapper copies this thread's job
                # group and phase label at wrap time, into a copy of its own
                stage = inheritable_thread_target(self.spark)(self._stage_audit)
                return pool.submit(stage, name, df, batch_id)

            pending = []
            if audit in ("full", "fields"):
                pending.append(submit("routed", res.routed))
            if audit == "fields" and res.field_diffs is not None:
                pending.append(submit("field_audit", res.field_diffs))
            if audit != "lineage" and quarantined:
                pending.append(submit("bad", res.bad))
            ledger = batch_lineage(
                res.routed, batch_id, n_partitions=self.n_buckets, quarantined=quarantined
            ).toArrow()
        for f in pending:
            f.result()
        self._write_ledger(ledger, batch_id)  # THE commit
        # now: a same-object retry after a failed publish must take the
        # replay branch, which finishes the publish
        self._ledger().add(batch_id)

    def _recover_staging(self) -> None:
        """A staged batch in the ledger is complete (everything is staged
        before the ledger), so it is published; one that is not is
        dropped, and the replay stages it again over an untouched table."""
        for bid in sorted(self._staged_batch_ids()):
            if bid in self._ledger():
                self._publish(bid)
            else:
                self._drop_staged(bid)
