"""CDC benchmark from WAL tail to committed table, for one workload and
one seed, in one fresh Spark process at local[nproc].

    python3 cdcbench/run.py --workload gated_reconcile --seed 1 --seconds 10 --trace 0

A run generates a seeded feed and stages it as one parquet file per
micro-batch, initializes the sink, drains a fixed number of untimed
warm-up batches through ``run_stream``, then stages the timed chunks and
drains them with a second ``run_stream`` on the same checkpoint. This is
a closed-loop backlog drain: ``maxFilesPerTrigger=1``, so which events
land in each batch never depends on timing. ``--seconds`` sets the size
of that backlog from the workload's nominal batch time. After the timed
window the run replays the feed in DuckDB and compares it with the
sink's table, lineage ledger and routed audit.

The command forks the run and waits for it. It adopts the run's orphaned
descendants (it is their subreaper), and once the run has ended it kills
and reaps every process still below it, so nothing the run started
outlives the command.

The last line of standard output is one JSON object: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Details (every batch, the CPU control, spans) go to
``.bench_work/detail-<workload>-<seed>-trace<t>.json``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "marc_data_migration_spark"
WORK_ROOT = os.path.join(ROOT, ".bench_work")
# Fits the driver heap of a 4-CPU, 15 GB machine; session.py's default
# (48g) is sized for a large host.
DRIVER_MEM = "2g"
# A fixed heap and young generation, so heap resizing is not part of a
# batch's time. C1 only (TieredStopAtLevel=1): with C2 the JVM spent
# 75-100 CPU-seconds compiling in a one-minute run on 4 CPUs, competing
# with the task threads, and batch times were still falling after the
# warm-up; with C1 it spends 8-16 CPU-seconds and batch times are flat
# from the second batch on.
JVM_OPTS = f"-Xms{DRIVER_MEM} -Xmn512m -XX:TieredStopAtLevel=1"
# Full reads after one untimed read: at least READ_MIN, and more until
# READ_BUDGET_S has passed, since a short read is mostly fixed job overhead.
READ_MIN = 5
READ_BUDGET_S = 2.0
MTIME_BASE = 1_700_000_000  # staged chunk i gets mtime MTIME_BASE + i
CONTROL_ITERS = 20  # matmuls per process in each CPU-control leg
TMPFS_SIZE = "3g"  # a cap; tmpfs holds only the pages the run writes
PR_SET_CHILD_SUBREAPER = 36  # linux/prctl.h


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def mount_ram(work: str) -> bool:
    """Mount a tmpfs on ``work``, inside the checkout, for the lake, feed,
    checkpoint and Spark's local dir. The block device's latency is
    erratic: on disk the same five trickle seeds spread 2.3k-3.4k
    events/s, on RAM 3.3k-3.5k. Returns False, leaving ``work`` a plain
    directory, where mounting is not permitted."""
    os.makedirs(work, exist_ok=True)
    try:
        done = subprocess.run(
            ["mount", "-t", "tmpfs", "-o", f"size={TMPFS_SIZE},mode=0700", "tmpfs", work],
            capture_output=True,
        )
    except OSError:
        return False
    return done.returncode == 0


def release_stale_mounts() -> None:
    """Unmount and remove work directories left by a run that was killed.
    A directory whose owning process (the name's last field) is still
    alive belongs to a concurrent run and is left alone."""
    if not os.path.isdir(WORK_ROOT):
        return
    for name in os.listdir(WORK_ROOT):
        path = os.path.join(WORK_ROOT, name)
        if not os.path.isdir(path) or pid_alive(name.rsplit("-", 1)[-1]):
            continue
        if os.path.ismount(path):
            subprocess.run(["umount", "-l", path], check=False)
        shutil.rmtree(path, ignore_errors=True)


def pid_alive(pid: str) -> bool:
    try:
        os.kill(int(pid), 0)
    except (ValueError, ProcessLookupError):
        return False
    except PermissionError:  # alive, owned by another user
        pass
    return True


def same_storage(on_ram: bool) -> bool:
    """The first run in a checkout records where its work directory
    lives (RAM or disk); a later run that lands elsewhere fails, so one
    set of runs never mixes the two (disk is slower and noisier)."""
    kind = "tmpfs" if on_ram else "disk"
    marker = os.path.join(WORK_ROOT, "storage")
    if not os.path.exists(marker):
        with open(marker, "w") as fh:
            fh.write(kind)
    with open(marker) as fh:
        first = fh.read().strip()
    if first != kind:
        print(f"cdcbench: work directory is on {kind}, but earlier runs in this "
              f"checkout used {first}; remove {marker} to start a new set",
              file=sys.stderr)
    return first == kind


def pin_environment(work: str) -> None:
    """Noise controls that must be set before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    prev = os.environ.get("PYTHONPATH")
    # UDF workers import the package by name; without the checkout on
    # their path the gate fails with ModuleNotFoundError.
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + prev if prev else "")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = tmp
    sys.path.insert(0, ROOT)


def cpu_control() -> dict:
    """Pure-CPU throughput at 1 process and at nproc processes
    (scripts/cpu_scaling_control.py), recorded in the detail file so a
    noisy set can be traced to a throttled phase of the machine."""
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    import cpu_scaling_control as ctl

    n = os.cpu_count() or 1
    t1 = ctl.run_level(1, CONTROL_ITERS)
    tn = ctl.run_level(n, CONTROL_ITERS * n)
    return {"t1_s": t1, f"t{n}_s": tn, "efficiency": t1 / tn}


def cpu_ticks() -> list[int]:
    """System-wide CPU ticks: user, nice, system, idle, iowait, irq,
    softirq, steal."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def feed_digest(feed_dir: str) -> str:
    """sha256 over the staged chunk files in order: equal for equal seeds
    in any process, different for different seeds."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(feed_dir)):
        with open(os.path.join(feed_dir, name), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


class Bench:
    def __init__(self, workload, seed: int, seconds: float, trace: bool, work: str):
        self.w = workload
        self.seed = seed
        self.trace = trace
        self.work = work
        self.n_timed = max(3, round(seconds / workload.nominal_batch_s))
        self.ckpt = os.path.join(work, "ckpt")
        self.detail: dict = {
            "workload": workload.name, "seed": seed, "trace": int(trace),
            "timed_batches": self.n_timed, "batch_events": workload.batch_events,
        }
        self.merge_opts = {"audit": workload.audit, "fuzzy_gate": workload.fuzzy_gate}

    # -- setup ---------------------------------------------------------------
    def _stage(self, chunks, feed_dir: str, start_at: int) -> list[str]:
        from marc_data_migration_spark.streaming.stream import stage_feed_chunks

        paths = stage_feed_chunks(
            [c.drop(columns="edit_class") for c in chunks], feed_dir, start_at
        )
        # The file source orders files by modification time; distinct
        # times keep the batch order fixed even when writes share a tick.
        for i, p in enumerate(paths, start=start_at):
            os.utime(p, (MTIME_BASE + i, MTIME_BASE + i))
        return paths

    def _new_sink(self, path: str):
        from marc_data_migration_spark.streaming.sink_parquet import (
            MorParquetMergeSink,
            ParquetMergeSink,
        )

        cls = MorParquetMergeSink if self.w.sink == "mor" else ParquetMergeSink
        return cls(self.spark, path, n_buckets=self.w.n_buckets)

    def _conv_buckets(self):
        """Sink bucket of each base conversation, from the sink's own
        bucket_expr."""
        import numpy as np
        import pandas as pd

        from marc_data_migration_spark.streaming.sink_parquet import bucket_expr
        from feed import conv_name

        n = self.w.base_convs
        convs = pd.DataFrame({"c": np.arange(n), "conv_id": [conv_name(c) for c in range(n)]})
        out = np.empty(n, dtype=np.int64)
        for r in self.spark.createDataFrame(convs).select(
            "c", bucket_expr(self.w.n_buckets).alias("b")
        ).collect():
            out[r["c"]] = r["b"]
        return out

    def setup(self) -> None:
        """setup_s = session start + feed staging + sink.init + warm-up,
        each measured once, cold JVM included: the session and the
        warm-up cannot be repeated in one process, and repeating staging
        and sink.init would add about 4 s to a run for the smallest parts
        of set-up."""
        from marc_data_migration_spark.session import get_spark
        from marc_data_migration_spark.streaming.stream import run_stream
        from feed import FeedGenerator

        w = self.w
        n = os.cpu_count() or 1
        t0 = time.perf_counter()
        self.spark = get_spark(
            f"cdcbench-{w.name}",
            parallelism=n,
            shuffle_partitions=n,
            extra_conf={
                "spark.local.dir": os.path.join(self.work, "spark-local"),
                "spark.driver.extraJavaOptions": f"{JVM_OPTS} -XX:-UsePerfData "
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')}",
            },
        )
        session_s = time.perf_counter() - t0

        # Generating the feed is the benchmark's own work: untimed.
        t0 = time.perf_counter()
        gen = FeedGenerator(w, self.seed, self._conv_buckets() if w.keys == "window" else None)
        base = gen.base_table()
        base_path = os.path.join(self.work, "base.parquet")
        base.to_parquet(base_path, index=False)
        self.warm = [gen.next_chunk() for _ in range(w.warmup_batches)]
        self.timed = [gen.next_chunk() for _ in range(self.n_timed)]
        self.probe = gen.next_chunk()
        self.gen, self.base = gen, base
        self.detail["generate_s"] = time.perf_counter() - t0

        self.feed_dir = os.path.join(self.work, "feed")
        self.lake = os.path.join(self.work, "lake")
        t0 = time.perf_counter()
        self._stage(self.warm, self.feed_dir, 0)
        stage_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        self.sink = self._new_sink(self.lake)
        self.sink.init(self.spark.read.parquet(base_path))
        init_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        q = run_stream(self.spark, self.feed_dir, self.sink, self.ckpt, **self.merge_opts)
        warmup_s = time.perf_counter() - t0
        self.detail["warmup_batch_s"] = [
            p["durationMs"]["triggerExecution"] / 1000 for p in q.recentProgress
        ]

        t0 = time.perf_counter()
        self._stage(self.timed, self.feed_dir, w.warmup_batches)
        stage_timed_s = time.perf_counter() - t0

        self.detail["feed_sha256"] = feed_digest(self.feed_dir)
        self.setup_parts = {
            "setup.session_s": session_s,
            "setup.stage_feed_s": stage_s + stage_timed_s,
            "setup.sink_init_s": init_s,
            "setup.warmup_s": warmup_s,
        }
        self.detail["setup"] = self.setup_parts

    # -- timed window --------------------------------------------------------
    def drain(self, sink):
        from marc_data_migration_spark.streaming.stream import run_stream

        ticks0 = cpu_ticks()
        t0 = time.perf_counter()
        q = run_stream(self.spark, self.feed_dir, sink, self.ckpt, **self.merge_opts)
        drain_s = time.perf_counter() - t0
        ticks = [b - a for a, b in zip(ticks0, cpu_ticks())]
        # where the machine's CPU went during the drain; steal is time the
        # hypervisor gave to other guests
        self.detail["drain_cpu_share"] = {
            name: ticks[i] / max(sum(ticks), 1)
            for i, name in ((0, "user"), (2, "system"), (3, "idle"), (4, "iowait"), (7, "steal"))
        }
        progress = [json.loads(p.json) for p in q.recentProgress]
        self.detail["batches"] = [
            {"batch": p["batchId"], "rows": p["numInputRows"], "ms": p["durationMs"]}
            for p in progress
        ]
        return drain_s, progress

    def end_to_end(self) -> dict[str, float]:
        drain_s, progress = self.drain(self.sink)
        events = sum(len(c) for c in self.timed)
        batch_s = [
            p["durationMs"]["triggerExecution"] / 1000
            for p in progress if p["numInputRows"] > 0
        ]
        from spans import noop_write

        noop_write(self.sink.read())
        reads = []
        while len(reads) < READ_MIN or sum(reads) < READ_BUDGET_S:
            t0 = time.perf_counter()
            noop_write(self.sink.read())
            reads.append(time.perf_counter() - t0)
        self.detail.update(
            drain_s=drain_s, batch_samples=len(batch_s), reads_s=reads, jvm=self._jvm_times()
        )
        return {
            "events_per_s": events / drain_s,
            "batch_p50_s": statistics.median(batch_s),
            "read_s": statistics.median(reads),
            "setup_s": sum(self.setup_parts.values()),
        }

    def _jvm_times(self) -> dict[str, float]:
        """Cumulative JVM GC and JIT-compile seconds, to tell a slow run's
        cause from a slow machine's."""
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        gc = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
        return {"gc_s": gc / 1000, "jit_s": mf.getCompilationMXBean().getTotalCompilationTime() / 1000}

    def per_layer(self) -> dict[str, float]:
        from marc_data_migration_spark.schemas import CHANGES_SCHEMA
        from marc_data_migration_spark.streaming.sink_parquet import bucket_expr
        from spans import Tracer, TracingSink, abba, probe_layers, sink_metrics, stream_metrics

        w = self.w
        tracer = Tracer(f"{w.name}-{self.seed}")
        timed_ids = list(range(w.warmup_batches, w.warmup_batches + self.n_timed))
        traced = abba(timed_ids)
        with tracer.span("stream.run_stream") as root:
            wrapper = TracingSink(self.sink, tracer, root, self.lake, traced)
            drain_s, progress = self.drain(wrapper)
        m = stream_metrics(progress, drain_s)

        dur = {p["batchId"]: p["durationMs"]["triggerExecution"] for p in progress
               if p["numInputRows"] > 0}
        on = [d for b, d in dur.items() if b in traced]
        off = [d for b, d in dur.items() if b not in traced]
        # events per batch are equal, so the rate ratio is a duration ratio
        m["trace.overhead_share"] = 1 - statistics.mean(off) / statistics.mean(on)

        touched = []
        for s in tracer.named("sink.apply_merge"):
            chunk = os.path.join(self.feed_dir, f"chunk-{s['batch_id']:06d}.parquet")
            touched.append(
                self.spark.read.parquet(chunk)
                .select(bucket_expr(w.n_buckets)).distinct().count()
            )
        delta = os.path.join(self.lake, "delta")
        delta_dirs = len(os.listdir(delta)) if os.path.isdir(delta) else 0
        m.update(sink_metrics(tracer, w.batch_events, touched, delta_dirs))

        probe_path = os.path.join(self.work, "probe.parquet")
        self.probe.drop(columns="edit_class").to_parquet(probe_path, index=False)
        probe = self.spark.read.schema(CHANGES_SCHEMA).parquet(probe_path)
        m.update(probe_layers(self.sink.read(), probe, w, tracer))
        m.update(self.setup_parts)
        self.detail["spans"] = tracer.spans
        return m

    # -- correctness ---------------------------------------------------------
    def check(self) -> tuple[int, int, bool]:
        """Replay in DuckDB and compare; returns (attempted, failed, ok)."""
        from pyspark.sql import functions as F

        from marc_data_migration_spark.functions.normalize import normalize_text
        from marc_data_migration_spark.functions.similarity import token_sort_ratio
        from feed import CLASS_NAMES, IDENTICAL, LIGHT, UNRELATED
        from replay import Replay, lineage_counts

        chunks = self.warm + self.timed
        replay = Replay(self.base, self.w.fuzzy_gate)
        want = [replay.apply(c) for c in chunks]
        want_n, want_fp = replay.fingerprint()
        replay.close()

        routed: dict[int, dict[str, int]] = {}
        for r in self.sink.routed().groupBy("batch_id", "route").count().collect():
            routed.setdefault(r["batch_id"], {})[r["route"]] = r["count"]
        cols = ["rows_applied", "rows_inserted", "rows_updated", "rows_deleted", "conflict_count"]
        lineage = {
            r["batch_id"]: {c: r[c] for c in cols}
            for r in self.sink.lineage().groupBy("batch_id")
            .agg(*[F.sum(c).alias(c) for c in cols]).collect()
        }
        ledger = self.sink.applied_batch_ids()
        bad_batches = [
            i for i, routes in enumerate(want)
            if i not in ledger
            or routed.get(i) != routes
            or lineage.get(i) != lineage_counts(routes)
        ]

        fp_col = F.conv(
            F.substring(F.md5(F.concat_ws(
                "|", "conv_id", F.col("turn_idx").cast("string"),
                F.col("lsn").cast("string"), "text",
            )), 1, 15), 16, 10,
        ).cast("decimal(38,0)")
        got = self.sink.read().agg(F.count("*").alias("n"), F.sum(fp_col).alias("fp")).first()
        got_n, got_fp = int(got["n"]), str(got["fp"] or 0)
        state_ok = (got_n, got_fp) == (want_n, want_fp)

        # The generator's edit classes must land in the gate's ratio bands
        # (identical 100, light 50-99, unrelated < 50) through the same
        # normalize_text + token_sort_ratio path the merge uses. Only the
        # gated workload uses the classes.
        bands = {IDENTICAL: (100, 100), LIGHT: (50, 99), UNRELATED: (0, 49)}
        seen, bands_ok = {}, True
        if self.w.fuzzy_gate:
            pairs = self.spark.createDataFrame(self.gen.class_samples()).select(
                "edit_class",
                token_sort_ratio(normalize_text(F.col("new")), normalize_text(F.col("old")))
                .alias("r"),
            )
            seen = {
                r["edit_class"]: (r["lo"], r["hi"])
                for r in pairs.groupBy("edit_class")
                .agg(F.min("r").alias("lo"), F.max("r").alias("hi")).collect()
            }
            bands_ok = all(
                k in seen and bands[k][0] <= seen[k][0] and seen[k][1] <= bands[k][1]
                for k in bands
            )

        failed = len(bad_batches)
        if not (state_ok and bands_ok):
            failed = max(failed, 1)
        self.detail["check"] = {
            "bad_batches": bad_batches,
            "want_routes": want,
            "got_routes": [routed.get(i) for i in range(len(chunks))],
            "state": {"want": [want_n, want_fp], "got": [got_n, got_fp]},
            "class_ratio_ranges": {CLASS_NAMES[k]: v for k, v in seen.items()},
        }
        return len(chunks), failed, failed == 0

    def close(self) -> None:
        """Stop Spark and wait for the JVM (and with it the Python
        workers) to exit. The gateway JVM exits when its stdin closes, so
        it ends even when stopping the session fails."""
        spark = getattr(self, "spark", None)
        if spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        try:
            spark.stop()
            gateway.shutdown()
        finally:
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"cdcbench: {PACKAGE} is not in {ROOT}; nothing to run", file=sys.stderr)
        return 2
    from feed import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"cdcbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    release_stale_mounts()
    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    on_ram = mount_ram(work)
    try:
        become_subreaper()
        pid = os.fork()
        if pid == 0:
            run_child(args, WORKLOADS[args.workload], work, on_ram)  # never returns
        return supervise(pid)
    finally:
        if on_ram:
            subprocess.run(["umount", "-l", work], check=False)
        shutil.rmtree(work, ignore_errors=True)


def become_subreaper() -> None:
    """Make this process the one that adopts its orphaned descendants
    (Linux PR_SET_CHILD_SUBREAPER), so a process whose parent has exited,
    such as a Python worker of the JVM or multiprocessing's resource
    tracker, stays visible to :func:`reap_descendants`."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        err = ctypes.get_errno()
        raise OSError(err, f"prctl(PR_SET_CHILD_SUBREAPER): {os.strerror(err)}")


def supervise(pid: int) -> int:
    """Wait for the run in process ``pid``, then stop and reap every
    process it left behind. SIGTERM and SIGINT are passed on to the run,
    which stops Spark on its way out."""
    def forward(signum, _frame):
        try:
            os.kill(pid, signal.SIGTERM)
        except ProcessLookupError:
            pass

    signal.signal(signal.SIGTERM, forward)
    signal.signal(signal.SIGINT, forward)
    _, status = os.waitpid(pid, 0)
    # the PID may be reused from here on; the reaping below is brief
    signal.signal(signal.SIGTERM, signal.SIG_IGN)
    signal.signal(signal.SIGINT, signal.SIG_IGN)
    code = os.waitstatus_to_exitcode(status)
    left = reap_descendants()
    if left:
        print(f"cdcbench: killed {len(left)} leftover process(es): {left}", file=sys.stderr)
    return code if code >= 0 else 128 - code


def reap_descendants(grace_s: float = 2.0, timeout_s: float = 30.0) -> list[str]:
    """Reap every descendant of this process, giving each ``grace_s`` to
    exit by itself (multiprocessing's resource tracker ends once the run
    has closed its pipe) and then SIGKILLing it, until none is left.
    Returns the command lines of those it had to kill."""
    killed: dict[int, str] = {}
    start = time.monotonic()
    end = start + timeout_s
    while True:
        while True:  # reap whatever has exited
            try:
                if os.waitpid(-1, os.WNOHANG)[0] == 0:
                    break
            except ChildProcessError:
                break
        left = descendants(os.getpid())
        if not left:
            return list(killed.values())
        if time.monotonic() > end:
            raise RuntimeError(f"cdcbench: processes {left} survived SIGKILL")
        if time.monotonic() - start < grace_s:
            time.sleep(0.05)
            continue
        for p in left:
            killed.setdefault(p, cmdline(p))
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def descendants(root: int) -> list[int]:
    """PIDs of every process below ``root`` in the process tree, from
    /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:  # exited meanwhile
            continue
        # field 4 is the parent; field 2, the command, may hold spaces and ")"
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    found, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), [])
        found += kids
        todo += kids
    return found


def cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace").strip()[:120]
    except OSError:
        return "?"


def run_child(args, workload, work: str, on_ram: bool) -> None:
    """The run itself, in the forked child: prints the result line and
    leaves the process with its exit code, never returning to ``main``."""
    code = 1
    try:
        code = run(args, workload, work, on_ram)
    except SystemExit as e:
        code = e.code if isinstance(e.code, int) else 1
    except BaseException:
        import traceback

        traceback.print_exc()
    finally:
        sys.stdout.flush()
        sys.stderr.flush()
        os._exit(code)


def run(args, workload, work: str, on_ram: bool) -> int:
    # SIGTERM unwinds through the finally below, which stops Spark
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    bench = Bench(workload, args.seed, args.seconds, bool(args.trace), work)
    bench.detail["work_on_tmpfs"] = on_ram
    phases = bench.detail["phase_s"] = {}
    try:
        if not same_storage(on_ram):
            return 3
        pin_environment(work)
        t0 = time.perf_counter()
        control_before = cpu_control()
        phases["control"] = time.perf_counter() - t0
        bench.setup()
        phases["setup"] = time.perf_counter() - t0 - phases["control"]
        t0 = time.perf_counter()
        metrics = bench.per_layer() if args.trace else bench.end_to_end()
        phases["measure"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        attempted, failed, ok = bench.check()
        phases["check"] = time.perf_counter() - t0
    finally:
        bench.close()
    bench.detail["cpu_control"] = {"before": control_before, "after": cpu_control()}

    out = {
        "correct": ok,
        "attempted": attempted,
        "failed": failed,
        "metrics": with_units(metrics, "per_layer" if args.trace else "end_to_end"),
    }
    bench.detail["result"] = out
    for k, v in out["metrics"].items():
        print(f"{k} = {v['value']:.6g} {v['unit']}", file=sys.stderr)
    if "batch_samples" in bench.detail:
        print(f"batch_p50_s over {bench.detail['batch_samples']} batches", file=sys.stderr)
    detail = os.path.join(WORK_ROOT, f"detail-{args.workload}-{args.seed}-trace{args.trace}.json")
    with open(detail, "w") as fh:
        json.dump(bench.detail, fh, indent=1, default=str)
    print(json.dumps(out))
    return 0 if ok else 1


def with_units(metrics: dict[str, float], kind: str) -> dict[str, dict]:
    """Attach each metric's unit from BENCHMARK.json. The metric names
    must be exactly the ones it declares for ``kind``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        units = {m["name"]: m["unit"] for m in json.load(fh)[kind]}
    if set(metrics) != set(units):
        raise RuntimeError(f"metrics differ from BENCHMARK.json {kind}: "
                           f"{sorted(set(metrics) ^ set(units))}")
    return {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}


if __name__ == "__main__":
    sys.exit(main())
