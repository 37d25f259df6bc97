"""Per-phase wall-time profile of one end-to-end stream run — where a
micro-batch's time actually goes (touched-bucket collect / base read /
merge / staging write / audit staging + ledger commit / publish of the
staged audits and buckets or delta), summed across batches. Used to
pick stream-path optimization targets; results land in
BENCH/BASELINE.md.

Usage: python tools/profile_stream.py [n_events] [n_batches] [audit]
"""

from __future__ import annotations

import os
import sys
import time
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TIMES: dict[str, float] = defaultdict(float)
CALLS: dict[str, int] = defaultdict(int)


def _timed(obj, name: str, label: str | None = None, when=lambda *a: True):
    fn = getattr(obj, name)
    lab = label or name

    def wrap(*a, **kw):
        if not when(*a):
            return fn(*a, **kw)
        t0 = time.perf_counter()
        try:
            return fn(*a, **kw)
        finally:
            TIMES[lab] += time.perf_counter() - t0
            CALLS[lab] += 1

    setattr(obj, name, wrap)


def main() -> None:
    n_events = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    audit = sys.argv[3] if len(sys.argv) > 3 else "full"

    os.environ["STREAM_AUDIT"] = audit
    os.environ["BENCH_STREAM_EVENTS"] = str(n_events)

    import bench
    from marc_data_migration_spark.streaming import sink_parquet as sp
    from marc_data_migration_spark.operators import merge as merge_mod

    _timed(sp.ParquetMergeSink, "_touched_buckets", "touched-bucket collect")
    # a batch's pruned base read; the run's final read() passes None
    _timed(sp.ParquetMergeSink, "_read_buckets", when=lambda sink, buckets: buckets is not None)
    _timed(sp.ParquetMergeSink, "_stage", "staging write")
    _timed(sp.ParquetMergeSink, "_commit_lineage_and_audits")  # audits staged + ledger file
    _timed(sp.ParquetMergeSink, "_publish", "publish: audits + buckets/delta")
    _timed(sp.ParquetMergeSink, "_ledger")
    _timed(sp.ParquetMergeSink, "apply_merge", "apply_merge_total")
    _timed(merge_mod, "apply_changes")
    # sink_parquet imported apply_changes by name at module load, so
    # patching merge_mod alone never intercepts the sink's calls —
    # rebind the sink module's global to the wrapper too.
    sp.apply_changes = merge_mod.apply_changes

    out = bench.stream_e2e_run(
        int(os.environ.get("SPARK_GRAFT_CPUS", "32")), n_events, n_batches, "cow"
    )
    print(out)
    tracked = sum(v for k, v in TIMES.items() if k != "apply_merge_total")
    rows = sorted(TIMES.items(), key=lambda kv: -kv[1])
    for k, v in rows:
        print(f"{k:32s} {v:8.2f}s  x{CALLS[k]}")
    tot = TIMES.get("apply_merge_total", 0.0)
    print(f"{'(apply_merge untracked rest)':32s} {tot - tracked:8.2f}s")


if __name__ == "__main__":
    main()
