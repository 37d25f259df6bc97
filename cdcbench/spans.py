"""Spans and per-layer probes for the traced run.

Spans are recorded only around public calls, from the benchmark's own
code: ``run_stream`` is the root span, and :class:`TracingSink`, passed as
``run_stream``'s ``sink``, records a child span around each traced
``apply_merge``. Spans stay in memory and are written to the run's
detail file at the end.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager

from pyspark.sql import functions as F

from marc_data_migration_spark.operators.dedup import latest_per_key
from marc_data_migration_spark.operators.merge import apply_changes
from marc_data_migration_spark.plans.lineage import batch_lineage

# Routes the two workloads can produce (merge.apply_changes); every one is
# reported, zeros included, so the metric set is the same on every run.
ROUTES = (
    "updated", "fuzzy-updated", "unmodified", "non-updated",
    "deleted", "delete-noop", "stale",
)
FUZZY_THRESHOLD = 50  # apply_changes' default


class Tracer:
    def __init__(self, trace_id: str):
        self.trace_id = trace_id
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str, parent: dict | None = None, **attrs):
        rec = {
            "trace": self.trace_id, "id": len(self.spans), "name": name,
            "parent": parent["id"] if parent else None, **attrs,
        }
        self.spans.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["dur_s"] = rec["end"] - rec["start"]

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _parquet_files(root: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


def abba(batch_ids: list[int]) -> set[int]:
    """The traced half of ``batch_ids`` in an A-B-B-A pattern (positions
    1 and 2 of every 4), so a steady drift in batch time, such as the JIT
    settling, cancels between traced and untraced batches."""
    return {b for i, b in enumerate(batch_ids) if i % 4 in (1, 2)}


class TracingSink:
    """Delegates ``apply_merge`` to the wrapped sink. Batches in ``traced``
    get a span, the number of Spark jobs they ran (one job group per
    batch) and the parquet files they wrote; the others pass straight
    through, so traced and untraced batches interleave in one drain and
    their durations give the tracing overhead."""

    def __init__(self, sink, tracer: Tracer, root: dict, lake: str, traced: set[int]):
        self.sink = sink
        self.tracer = tracer
        self.root = root
        self.lake = lake
        self.traced = traced
        self.sc = sink.spark.sparkContext

    def apply_merge(self, batch_df, batch_id: int, **merge_opts):
        if batch_id not in self.traced:
            return self.sink.apply_merge(batch_df, batch_id, **merge_opts)
        before = _parquet_files(self.lake)
        group = f"cdcbench-batch-{batch_id}"
        self.sc.setJobGroup(group, group)
        try:
            with self.tracer.span("sink.apply_merge", self.root, batch_id=batch_id) as s:
                res = self.sink.apply_merge(batch_df, batch_id, **merge_opts)
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        s["spark_jobs"] = len(self.sc.statusTracker().getJobIdsForGroup(group))
        new = {p: n for p, n in _parquet_files(self.lake).items() if p not in before}
        s["files_written"] = len(new)
        s["bytes_written"] = sum(new.values())
        return res


def probe_layers(live, probe, w, tracer: Tracer) -> dict[str, float]:
    """Call each public layer function on ``probe`` (the feed's next
    chunk, never applied) against ``live`` (the table after the drain),
    forcing each with a noop write. The last timed chunk itself would be
    all stale against the live table, so the gate would score nothing."""
    m: dict[str, float] = {}
    probe = probe.persist()
    live = live.persist()
    m["dedup.rows_in"] = probe.count()
    live.count()

    with tracer.span("dedup.latest_per_key") as s:
        noop_write(latest_per_key(probe))
    m["dedup.latest_per_key_s"] = s["dur_s"]
    m["dedup.rows_out"] = latest_per_key(probe).count()

    def merge(gate: bool, span: str):
        with tracer.span(span) as s:
            res = apply_changes(
                live, probe, fuzzy_gate=gate, field_audit=(w.audit == "fields"),
                persist_join=True,
            )
            noop_write(res.final)
        return res, s["dur_s"]

    res, merge_s = merge(w.fuzzy_gate, "merge.apply_changes")
    routes = {r["route"]: r["count"] for r in res.routed.groupBy("route").count().collect()}
    for r in ROUTES:
        m[f"merge.route.{r}"] = routes.get(r, 0)
    m["merge.rows_joined"] = res.cached.count()
    m["merge.rows_applied"] = sum(
        routes.get(r, 0) for r in ("updated", "fuzzy-updated", "non-updated", "deleted")
    )
    scored = res.routed.filter(F.col("ratio").isNotNull()).count()
    passed = res.routed.filter(F.col("ratio") >= FUZZY_THRESHOLD).count()

    with tracer.span("lineage.batch_lineage") as s:
        lineage = batch_lineage(res.routed, batch_id=-2, n_partitions=w.n_buckets)
        noop_write(lineage)
    m["lineage.batch_lineage_s"] = s["dur_s"]
    m["lineage.rows_per_batch"] = lineage.count()
    res.unpersist()

    gate_s = 0.0
    if w.fuzzy_gate:
        # The gate's cost (normalize_text, the Arrow transfer and the
        # token_sort_ratio UDF) is the program's own merge with the gate
        # on minus the same merge with it off, on the same inputs: the
        # median over three on/off pairs, run on, off, off, on, on, off
        # so that a drift cancels. Each merge's cached join is dropped
        # before the next, so none reads another's cache.
        on, off = [merge_s], []
        for gate in (False, False, True, True, False):
            res, t = merge(gate, "merge.apply_changes" + ("" if gate else ".gate_off"))
            res.unpersist()
            (on if gate else off).append(t)
        merge_s = statistics.median(on)
        gate_s = statistics.median(a - b for a, b in zip(on, off))
    # the UDF runs on every row of the merge's full outer join
    shipped = m["merge.rows_joined"] if w.fuzzy_gate else 0
    m["merge.apply_changes_s"] = merge_s
    m["similarity.token_sort_ratio_s"] = gate_s
    m["similarity.rows_shipped"] = shipped
    m["similarity.rows_scored"] = scored
    m["similarity.scored_share"] = scored / shipped if shipped else 0.0
    m["similarity.pass_share"] = passed / scored if scored else 0.0
    m["merge.self_s"] = merge_s - m["dedup.latest_per_key_s"] - gate_s

    for df in (live, probe):
        df.unpersist()
    return m


def stream_metrics(progress: list[dict], drain_s: float) -> dict[str, float]:
    """Stream-layer costs from StreamingQuery.recentProgress (ms → s)."""
    data = [p["durationMs"] for p in progress if p["numInputRows"] > 0]

    def med(key):
        return statistics.median(d.get(key, 0) for d in data) / 1000

    return {
        "stream.trigger_overhead_s": statistics.median(
            d["triggerExecution"] - d.get("addBatch", 0) for d in data
        ) / 1000,
        "stream.wal_commit_s": med("walCommit"),
        "stream.commit_offsets_s": med("commitOffsets"),
        "stream.latest_offset_s": med("latestOffset"),
        "stream.start_stop_s": drain_s
        - sum(p["durationMs"]["triggerExecution"] for p in progress) / 1000,
    }


def sink_metrics(tracer: Tracer, batch_events: int, touched: list[int], delta_dirs: int):
    spans = tracer.named("sink.apply_merge")
    return {
        "sink.apply_merge_s": statistics.median(s["dur_s"] for s in spans),
        "sink.spark_jobs_per_batch": statistics.mean(s["spark_jobs"] for s in spans),
        "sink.touched_buckets_per_batch": statistics.mean(touched),
        "sink.bytes_written_per_event": statistics.mean(
            s["bytes_written"] / batch_events for s in spans
        ),
        "sink.files_written_per_batch": statistics.mean(s["files_written"] for s in spans),
        "sink.delta_dirs_at_end": delta_dirs,
    }
