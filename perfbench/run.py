"""CDC ingest benchmark: closed-loop workloads against ``CDCPipeline`` and
``HashBucketParquetTable``, gated on an independent DuckDB oracle.

Run from the repository root:

    python3 perfbench/run.py --workload trickle_cow --seed 1 --seconds 20 --trace 0

One writer applies a fixed number of epochs, one after another
(``CDCPipeline.run`` on one epoch's parquet), and waits for each commit.
The count is set per workload so that the measured phase lasts about
``--seconds`` on the machine the benchmark was tuned on; it does not
follow the program's speed, so every run does the same work and the
reads see the same lake. ``--trace 0`` measures the end-to-end
metrics; ``--trace 1`` runs the same workload with every layer wrapped in
spans (see ``spans.py``) and reports the per-layer metrics. The last line
of standard output is one JSON object; the lines before it are a readable
table with units and sample counts and the run record. The exit code is 1
when the correctness gate fails and 2 when the program is missing.
See ``perfbench/README.md`` for workloads and metrics.
"""

from __future__ import annotations

import argparse
import concurrent.futures
import contextlib
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass

from oracle import LWWOracle, arrow_rows, row_checksum
from spans import Tracer

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))


@dataclass(frozen=True)
class Workload:
    mode: str  # lake write mode: "cow" or "mor"
    keys: int  # rows in the bootstrap snapshot
    buckets: int
    epoch_events: int
    epochs: int  # epochs generated and applied by every run, traced or not
    lookups_per_epoch: int  # lookups after each commit
    final_lookups: int  # lookups after the last commit
    final_feeds: int  # feeds over the last commits, read after the loop
    feed_per_epoch: bool  # one read_changes(prev, cur) after each commit


WORKLOADS = {
    "trickle_cow": Workload("cow", keys=10000, buckets=64, epoch_events=12, epochs=5,
                            lookups_per_epoch=0, final_lookups=4,
                            final_feeds=3, feed_per_epoch=False),
    "mor_feed_mix": Workload("mor", keys=4000, buckets=32, epoch_events=1000, epochs=3,
                             lookups_per_epoch=2, final_lookups=0,
                             final_feeds=0, feed_per_epoch=True),
}

LOOKUP_KEYS = 8
SETUP_REPEATS = 3
DIFF_REPEATS = 3
WARM_UP_KEYS = 2000  # rows of the warm-up lake

E2E_UNITS = {
    "setup_s": "s", "events_per_cpu_s": "1/s", "commit_cpu_p50_s": "s", "feed_cpu_p50_s": "s",
    "lookup_cpu_p50_s": "s", "diff_cpu_s": "s", "write_amp": "ratio",
}
WALL_UNITS = {
    "setup_wall_s": "s", "events_per_s": "1/s", "commit_p50_s": "s", "feed_p50_s": "s",
    "lookup_p50_s": "s", "diff_s": "s",
}

LAYER_UNITS = {
    "session.start_s": "s",
    "checkpoint.bookkeeping_s": "s", "checkpoint.lineage_write_s": "s", "checkpoint.marker_s": "s",
    "fs.calls": "count", "fs.s": "s",
    "lake.upsert_s": "s", "lake.upsert_jobs": "count", "lake.upsert_stages": "count",
    "lake.upsert_tasks": "count", "lake.upsert_shuffle_bytes": "bytes",
    "lake.upsert_executor_run_s": "s", "lake.buckets_touched": "count",
    "lake.files_written": "count", "lake.bytes_written": "bytes",
    "lake.rows_rewritten_per_row_changed": "ratio",
    "lake.read_changes_s": "s", "lake.read_changes_stages": "count", "lake.lookup_s": "s",
    "lake.lookup_buckets_read": "count", "lake.deltas_pending": "count",
    "lake.compact_deltas_s": "s",
    "canonicalize.s": "s", "canonicalize.rows": "count",
    "lww.s": "s", "lww.rows_in": "count", "lww.rows_out": "count", "lww.shuffle_bytes": "bytes",
    "lww.task_skew": "ratio",
    "digest.arrow_s": "s", "digest.jvm_s": "s", "digest.compute_s": "s", "digest.serde_s": "s",
    "diff.s": "s", "diff.stages": "count", "diff.shuffle_bytes": "bytes", "diff.rows_out": "count",
    "pipeline.apply_epoch_self_s": "s", "spark.jobs": "count", "spark.stages": "count",
    "spark.tasks": "count",
    "scaling.events_per_s_local1": "1/s", "scaling.efficiency_1_to_n": "ratio",
    "trace.overhead_s": "s",
}


def p50(xs):
    return statistics.median(xs)


def loadavg() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, all CPUs, since boot."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def program_cpu_s(jvm_pid: int | None) -> float:
    """CPU time (user + system) of the program: this driver process, plus
    its JVM and the JVM's Python workers, with their reaped children, less
    the JVM's JIT compiler threads (``jit_cpu_s``). The generator's
    processes are not counted. Unlike wall time this does not grow when
    other guests take the host's CPUs."""

    def stat(pid: int, children: bool) -> int:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except FileNotFoundError:
            return 0
        return sum(int(x) for x in f[11:15 if children else 13])

    total = stat(os.getpid(), children=False)
    if jvm_pid is None:
        return total / os.sysconf("SC_CLK_TCK")
    total += sum(stat(p, children=True) for p in (jvm_pid, *descendants(jvm_pid)))
    return total / os.sysconf("SC_CLK_TCK") - jit_cpu_s(jvm_pid)


def jit_cpu_s(jvm_pid: int) -> float:
    """CPU time of the JVM's JIT compiler threads. It is not counted as an
    operation's: the compilers work in the background on code that ran
    earlier, at times that differ from run to run, and a long-running
    writer stops paying them once its code is compiled. On a fresh JVM
    they take more CPU per commit than the commit itself. The JVM keeps
    these threads alive (``-XX:-UseDynamicNumberOfCompilerThreads``), so
    their sum only grows."""
    total = 0
    for tid in thread_ids(jvm_pid):
        try:
            with open(f"/proc/{jvm_pid}/task/{tid}/comm") as fh:
                if not fh.read().startswith(("C1 CompilerThre", "C2 CompilerThre")):
                    continue
            with open(f"/proc/{jvm_pid}/task/{tid}/stat") as fh:
                total += sum(int(x) for x in fh.read().rsplit(")", 1)[1].split()[11:13])
        except FileNotFoundError:  # the thread or the JVM has exited
            continue
    return total / os.sysconf("SC_CLK_TCK")


def vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def wait_gone(pid: int, timeout: float) -> None:
    deadline = time.monotonic() + timeout
    while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
        time.sleep(0.1)
    if os.path.exists(f"/proc/{pid}"):
        os.kill(pid, 9)


def thread_ids(pid: int) -> list[str]:
    """The threads of ``pid``; none once it has exited."""
    try:
        return os.listdir(f"/proc/{pid}/task")
    except FileNotFoundError:
        return []


def descendants(pid: int) -> list[int]:
    out = []
    for tid in thread_ids(pid):
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                kids = [int(k) for k in fh.read().split()]
        except FileNotFoundError:
            continue
        for k in kids:
            out += [k, *descendants(k)]
    return out


def tree_sha256() -> str:
    """sha256 over the package and benchmark sources (path + bytes)."""
    h = hashlib.sha256()
    files = sorted(glob.glob("bcdc2bcdc_spark/**/*.py", recursive=True)
                   + glob.glob("perfbench/*.py"))
    for f in files:
        h.update(f.encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def manifest(lake_path: str) -> dict:
    """The lake's current manifest, read without going through the table."""
    with open(os.path.join(lake_path, "_table.json")) as fh:
        return json.load(fh)


def bucket_entries(meta: dict) -> dict:
    keys = set(meta.get("buckets", {})) | set(meta.get("deltas", {}))
    return {
        b: (meta.get("buckets", {}).get(b),
            tuple(e["gen"] for e in meta.get("deltas", {}).get(b, [])))
        for b in keys
    }


def new_files(lake_path: str, seen: set[str], rows: bool) -> tuple[int, int, int]:
    """(files, bytes, rows) of data files in generations not in ``seen``;
    adds them to ``seen``. Rows come from parquet footers when asked."""
    import pyarrow.parquet as pq

    files = size = nrows = 0
    data = os.path.join(lake_path, "data")
    for gen in sorted(set(os.listdir(data)) - seen):
        seen.add(gen)
        for f in glob.glob(os.path.join(data, gen, "*", "*.parquet")):
            files += 1
            size += os.path.getsize(f)
            if rows:
                nrows += pq.read_metadata(f).num_rows
    return files, size, nrows


def op_counts(table) -> dict[str, int]:
    counts = {"ADD": 0, "UPDATE": 0, "DELETE": 0}
    for op in table.column("op").to_pylist():
        counts[op] += 1
    return counts


class Run:
    def __init__(self, args):
        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
        self.inputs = os.path.join(self.work, "inputs")
        self.tracer = None
        self.attempted = 0
        self.failed_ops: set[int] = set()  # ids of operations that raised or failed the oracle
        self.errors: list[str] = []
        self.epochs: list[dict] = []  # per applied epoch
        self.feeds: list[dict] = []  # {op, epoch, wall, cpu, ops}
        self.lookups: list[dict] = []  # {op, epoch (None = final), keys, wall, cpu, sum}
        self.layer: dict[str, float] = {}

    # -- set-up -----------------------------------------------------------

    def environ(self) -> None:
        """Process environment for Spark; set before the package is imported
        (``session`` reads it at import)."""
        os.makedirs(os.path.join(self.work, "tmp"), exist_ok=True)
        env = os.environ
        env["SPARK_GRAFT_CPUS"] = str(self.cpus)
        env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
        env["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        env["TMPDIR"] = os.path.join(self.work, "tmp")

    def setup(self):
        a, wl = self.args, self.wl
        c0, t0 = self.cpu(), time.perf_counter()
        # the load generator runs in its own process beside the start-up
        with open(os.path.join(self.work, "gen.log"), "w") as log:
            gen = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "gen.py"), "--out", self.inputs,
                 "--seed", str(a.seed), "--keys", str(wl.keys), "--epochs", str(wl.epochs),
                 "--epoch-events", str(wl.epoch_events)],
                stdout=log, stderr=subprocess.STDOUT,
            )
        try:
            from bcdc2bcdc_spark.session import get_spark

            s0 = time.perf_counter()
            self.spark = get_spark("perfbench", extra_conf=self.java_opts())
            self.jvm_proc = self.spark.sparkContext._gateway.proc
            self.layer["session.start_s"] = time.perf_counter() - s0
            w0 = time.perf_counter()
            self.warm_up()
            self.warmup_s = time.perf_counter() - w0
            # the base snapshot is complete before the log is generated
            marker = os.path.join(self.inputs, "base", "_SUCCESS")
            while not os.path.exists(marker) and gen.poll() is None:
                time.sleep(0.05)
            if gen.poll():
                raise RuntimeError(self.gen_failure())
            ready, ready_cpu = time.perf_counter() - t0, self.cpu() - c0
            boots, lakes = [], []  # (wall, cpu) per bootstrap
            for i in range(SETUP_REPEATS):
                b0, bc0 = time.perf_counter(), self.cpu()
                lakes.append(self.bootstrap(f"lake-{i}"))
                boots.append((time.perf_counter() - b0, self.cpu() - bc0))
            status = gen.wait(timeout=170)
        except BaseException:
            # stop the generator and its JVM before giving up
            procs = [gen.pid, *descendants(gen.pid)]
            for pid in procs:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, 9)
            gen.wait()
            for pid in procs:
                wait_gone(pid, 30)
            raise
        with contextlib.suppress(FileNotFoundError), open(os.path.join(self.inputs, "jvm.pid")) as fh:
            wait_gone(int(fh.read()), 30)
        if status != 0:
            raise RuntimeError(self.gen_failure())
        with open(os.path.join(self.inputs, "gen.json")) as fh:
            gen_record = json.load(fh)
        for lake in lakes[:-1]:
            shutil.rmtree(lake.path)
        self.table = lakes[-1]
        # set-up: session start, warm-up and base snapshot written, plus
        # the median bootstrap; the rest of the log is generated meanwhile
        self.setup_s = ready_cpu + p50([c for _w, c in boots])
        self.setup_wall_s = ready + p50([w for w, _c in boots])
        self.bootstrap_s = boots
        self.gen_s = gen_record["gen_s"]

    def gen_failure(self) -> str:
        """The generator's last output lines (the work directory, and its
        log with it, is removed at exit)."""
        with open(os.path.join(self.work, "gen.log")) as fh:
            return "input generation failed:\n" + "".join(fh.readlines()[-5:])

    def warm_up(self) -> None:
        """Run each measured operation on a small throwaway lake while the
        generator works: a fresh JVM compiles the write and read paths on
        first use, which a long-running writer pays once, not per commit.
        Two commits of the workload's epoch size make the per-event code hot
        enough for the optimising compiler; with one, the first measured
        commit still cost ~1.5x the later ones."""
        from pyspark.sql import functions as F

        from bcdc2bcdc_spark.operators import diff as diff_mod
        from bcdc2bcdc_spark.schema import EVENTS_SCHEMA, REPOS_SCHEMA
        from bcdc2bcdc_spark.sources.lake import HashBucketParquetTable

        spark, wl = self.spark, self.wl
        rows = [(f"warm/r{i % 40}", f"f{i}.py", f"{i:040d}", "py", f"v{i}")
                for i in range(min(wl.keys, WARM_UP_KEYS))]
        base = spark.createDataFrame(rows, REPOS_SCHEMA)
        table = HashBucketParquetTable(spark, os.path.join(self.work, "lake-warm-up"),
                                       n_buckets=wl.buckets, write_mode=wl.mode)
        table.init(base)
        pipe = self.pipeline(table, "ckpt-warm-up")
        ops = ("UPDATE", "DELETE", "ADD")
        for epoch in range(2):
            events = []
            for i in range(wl.epoch_events):
                seq = epoch * wl.epoch_events + i
                # keys spread over the buckets, one in eight new
                repo, path = (rows[seq * 7919 % len(rows)][:2] if i % 8
                              else ("warm/new", f"n{seq}.py"))
                commit = f"{len(rows) + seq:040d}"  # above every base commit
                events.append((repo, path, commit, "", f"w{seq}", ops[i % 3], seq))
            pipe.run(spark.createDataFrame(events, EVENTS_SCHEMA)
                     .withColumn("epoch", F.lit(epoch).cast("long")))
        lookup_keys = spark.createDataFrame([r[:2] for r in rows[:LOOKUP_KEYS]],
                                            "repo string, path string")
        reads = (
            lambda: table.read_changes(1, 2).toArrow(),
            lambda: table.lookup(lookup_keys).toArrow(),
            lambda: diff_mod.snapshot_diff(table.read(), base).toArrow(),
        )
        # the reads compile independently: overlap them
        with concurrent.futures.ThreadPoolExecutor(len(reads)) as pool:
            for fut in [pool.submit(r) for r in reads]:
                fut.result()
        shutil.rmtree(table.path)

    def java_opts(self) -> dict:
        # fixed JIT compiler threads: see jit_cpu_s
        opts = (f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} -XX:-UsePerfData"
                " -XX:-UseDynamicNumberOfCompilerThreads")
        return {"spark.driver.extraJavaOptions": opts}

    def pipeline(self, table, checkpoints: str):
        from bcdc2bcdc_spark.generator import IGNORED_REPOS
        from bcdc2bcdc_spark.plans.checkpoint import CheckpointStore
        from bcdc2bcdc_spark.plans.pipeline import CDCPipeline

        return CDCPipeline(table=table, ignore_repos=IGNORED_REPOS,
                           checkpoints=CheckpointStore(os.path.join(self.work, checkpoints)))

    def apply(self, pipe, epoch: int) -> None:
        """One closed-loop step: ``CDCPipeline.run`` on one epoch's parquet."""
        from pyspark.sql import functions as F

        from bcdc2bcdc_spark.schema import EVENTS_SCHEMA

        batch = self.spark.read.schema(EVENTS_SCHEMA).parquet(
            os.path.join(self.inputs, "events", f"epoch={epoch}"))
        pipe.run(batch.withColumn("epoch", F.lit(epoch).cast("long")))

    def bootstrap(self, name: str):
        from bcdc2bcdc_spark.schema import REPOS_SCHEMA
        from bcdc2bcdc_spark.sources.lake import HashBucketParquetTable

        table = HashBucketParquetTable(self.spark, os.path.join(self.work, name),
                                       n_buckets=self.wl.buckets, write_mode=self.wl.mode)
        table.init(self.spark.read.schema(REPOS_SCHEMA).parquet(os.path.join(self.inputs, "base")))
        return table

    # -- measured phase ---------------------------------------------------

    def span(self, name):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def cpu(self) -> float:
        return program_cpu_s(getattr(self, "jvm_proc", None) and self.jvm_proc.pid)

    @property
    def failed(self) -> int:
        return len(self.failed_ops)

    def new_op(self) -> int:
        self.attempted += 1
        return self.attempted - 1

    def timed(self, name, fn):
        """Run one operation; returns (result, wall, cpu, op id), with Nones
        when it raised (counted as failed)."""
        op = self.new_op()
        c0, t0 = self.cpu(), time.perf_counter()
        try:
            with self.span(name):
                out = fn()
        except Exception as exc:  # a failed operation is a result, not a crash
            self.failed_ops.add(op)
            self.errors.append(f"{name}: {type(exc).__name__}: {exc}"[:500])
            return None, None, None, op
        return out, time.perf_counter() - t0, self.cpu() - c0, op

    def measure(self, oracle):
        from bcdc2bcdc_spark.operators import diff as diff_mod
        from bcdc2bcdc_spark.schema import REPOS_SCHEMA

        a, wl, table, spark = self.args, self.wl, self.table, self.spark
        pipe = self.pipeline(table, "ckpt")
        draws = iter(range(1 << 20))

        def keyset():
            keys = oracle.sample_keys(a.seed, next(draws), LOOKUP_KEYS)
            return keys, spark.createDataFrame(keys, "repo string, path string")

        def do_lookups(n, epoch):
            for _ in range(n):
                keys, kdf = keyset()
                res, wall, cpu, op = self.timed("lookup", lambda: table.lookup(kdf).toArrow())
                if res is not None:
                    self.lookups.append({"op": op, "epoch": epoch, "keys": keys, "wall": wall,
                                         "cpu": cpu, "sum": row_checksum(arrow_rows(res))})

        def do_feed(epoch, s0, s1):
            res, wall, cpu, op = self.timed("feed", lambda: table.read_changes(s0, s1).toArrow())
            if res is not None:
                self.feeds.append({"op": op, "epoch": epoch, "wall": wall, "cpu": cpu,
                                   "ops": op_counts(res)})

        stats = oracle.epoch_stats()
        seen = set(os.listdir(os.path.join(table.path, "data")))
        prev_meta = manifest(table.path)
        if self.tracer:
            self.tracer.patch()
        # a fixed epoch count, traced or not: the work, the lake the reads
        # see and the traced run's counters do not depend on the speed
        for k in range(wl.epochs):
            _, wall, cpu, _op = self.timed("epoch", lambda: self.apply(pipe, k))
            if wall is None:
                break
            meta = manifest(table.path)
            files, size, rows = new_files(table.path, seen, rows=self.tracer is not None)
            before, after = bucket_entries(prev_meta), bucket_entries(meta)
            touched = sum(1 for b in set(before) | set(after) if before.get(b) != after.get(b))
            info = stats[k]
            self.epochs.append({
                "epoch": k, "wall": wall, "cpu": cpu, "events": info["events"],
                "payload_bytes": info["payload_bytes"], "seq0": prev_meta["commit_seq"],
                "seq1": meta["commit_seq"], "files": files, "bytes": size, "rows": rows,
                "buckets_touched": touched,
            })
            if wl.feed_per_epoch and meta["commit_seq"] > prev_meta["commit_seq"]:
                do_feed(k, prev_meta["commit_seq"], meta["commit_seq"])
            do_lookups(wl.lookups_per_epoch, k)
            prev_meta = meta
        if wl.final_feeds:
            committed = [e for e in self.epochs if e["seq1"] > e["seq0"]]
            for e in committed[-wl.final_feeds:]:
                do_feed(e["epoch"], e["seq0"], e["seq1"])
        do_lookups(wl.final_lookups, None)
        self.deltas_pending = sum(len(v) for v in manifest(table.path).get("deltas", {}).values())
        base = spark.read.schema(REPOS_SCHEMA).parquet(os.path.join(self.inputs, "base"))
        self.diffs = []  # (wall, cpu, op counts, op id)
        for _ in range(DIFF_REPEATS):
            res, wall, cpu, op = self.timed(
                "diff", lambda: diff_mod.snapshot_diff(table.read(), base).toArrow())
            if res is not None:
                self.diffs.append((wall, cpu, op_counts(res), op))
        self.timed("compact", table.compact_deltas)
        if self.tracer:
            self.tracer.unpatch()
            self.trace_overhead_s = self.tracer.overhead_s
        # the final read is an operation the gate checks, but is not timed
        self.final_op = self.new_op()
        self.final = arrow_rows(table.read().toArrow())
        # memory, recorded but not gated: peak RSS follows how much the run
        # allocated before the JVM's first collections, and the heap live
        # after a full collection keeps soft-referenced caches in some runs
        self.jit_cpu_s = jit_cpu_s(self.jvm_proc.pid)
        self.peak_rss_mb = (vm_hwm_kb(os.getpid()) + vm_hwm_kb(self.jvm_proc.pid)) / 1024.0
        mgmt = spark._jvm.java.lang.management.ManagementFactory
        mgmt.getMemoryMXBean().gc()
        # heap pools' usage as of that collection; allocations after it
        # by Spark's own threads do not count
        self.retained_heap_mb = sum(
            pool.getCollectionUsage().getUsed() for pool in mgmt.getMemoryPoolMXBeans()
            if pool.getType().toString() == "Heap memory" and pool.getCollectionUsage()
        ) / (1 << 20)

    # -- correctness gate (outside the timed region) -------------------------

    def check(self, oracle):
        """Mark each checked operation whose result differs from the oracle
        as failed; an operation counts once."""

        def fail(op, msg):
            self.failed_ops.add(op)
            self.errors.append(msg)

        feeds = {f["epoch"]: f for f in self.feeds}
        self.rows_changed = 0
        for e in self.epochs:
            want = oracle.apply_epoch(e["epoch"])
            self.rows_changed += sum(want.values())
            feed = feeds.get(e["epoch"])
            if feed and feed["ops"] != want:
                fail(feed["op"], f"feed of epoch {e['epoch']}: {feed['ops']} != oracle {want}")
            for lk in self.lookups:
                if lk["epoch"] == e["epoch"] and lk["sum"] != oracle.state_checksum(lk["keys"]):
                    fail(lk["op"], f"lookup after epoch {e['epoch']} differs from oracle")
        for lk in self.lookups:
            if lk["epoch"] is None and lk["sum"] != oracle.state_checksum(lk["keys"]):
                fail(lk["op"], "final lookup differs from oracle")
        want_diff = oracle.diff_counts("state", "base")
        for _wall, _cpu, ops, op in self.diffs:
            if ops != want_diff:
                fail(op, f"snapshot_diff {ops} != oracle {want_diff}")
        got, want = row_checksum(self.final), oracle.state_checksum()
        if got != want:
            fail(self.final_op, f"final lake {got} != oracle {want}")

    # -- traced extras ----------------------------------------------------

    def probes(self):
        """Time each fused layer alone into a ``noop`` sink, on epoch 0's
        input (inside the upsert they share one write job). Each layer's
        input is staged as parquet and cached, so that no probe's plan
        matches a cached plan and reads the cache instead of computing."""
        from bcdc2bcdc_spark.functions import digest
        from bcdc2bcdc_spark.functions.canonicalize import canonicalize_events
        from bcdc2bcdc_spark.operators.lww import lww_dedup
        from bcdc2bcdc_spark.schema import EVENTS_SCHEMA

        spark, tr = self.spark, self.tracer
        staged = []

        def stage(df, name):
            path = os.path.join(self.work, "probe", name)
            df.write.parquet(path)
            staged.append(spark.read.schema(df.schema).parquet(path).cache())
            return staged[-1], staged[-1].count()

        ev, _ = stage(spark.read.schema(EVENTS_SCHEMA).parquet(
            os.path.join(self.inputs, "events", "epoch=0")), "events")
        canon, n_canon = stage(canonicalize_events(ev), "canon")
        winners, n_winners = stage(lww_dedup(canon), "winners")

        def sink(make, name):
            walls = []
            for _ in range(3):
                with tr.span(name):
                    t0 = time.perf_counter()
                    make().write.format("noop").mode("overwrite").save()
                    walls.append(time.perf_counter() - t0)
            return p50(walls)

        cols = ["lang", "content"]
        out = {
            "canonicalize.s": sink(lambda: canonicalize_events(ev), "probe.canonicalize"),
            "lww.s": sink(lambda: lww_dedup(canon), "probe.lww"),
            "digest.arrow_s": sink(lambda: digest.with_row_digest(winners, cols, impl="arrow"),
                                   "probe.digest_arrow"),
            "digest.jvm_s": sink(lambda: digest.with_row_digest(winners, cols, impl="jvm"),
                                 "probe.digest_jvm"),
        }
        frame = winners.select(*cols).toPandas()
        walls = []
        for _ in range(3):
            t0 = time.perf_counter()
            digest.pd_row_digest(frame, cols)
            walls.append(time.perf_counter() - t0)
        out["digest.compute_s"] = p50(walls)
        # the Arrow boundary: batches to and from the Python workers
        out["digest.serde_s"] = out["digest.arrow_s"] - out["digest.compute_s"]
        out["canonicalize.rows"] = n_canon
        out["lww.rows_in"] = n_canon
        out["lww.rows_out"] = n_winners
        for df in staged:
            df.unpersist()
        return out

    def local1_leg(self):
        """Events/s of the traced run's epochs again on one core, in the same
        JVM: stop the session, start it at local[1], bootstrap, apply. Both
        sides leave out their first epoch, which pays for warm-up. Indicative."""
        from bcdc2bcdc_spark.session import get_spark

        self.spark.stop()
        self.spark = get_spark("perfbench-local1", master="local[1]", extra_conf=self.java_opts())
        pipe = self.pipeline(self.bootstrap("lake-local1"), "ckpt-local1")
        walls = []
        for e in self.epochs:
            t0 = time.perf_counter()
            self.apply(pipe, e["epoch"])
            walls.append(time.perf_counter() - t0)
        return sum(e["events"] for e in self.epochs[1:]) / sum(walls[1:])

    def layer_metrics(self) -> dict:
        """Every per-layer metric of a traced run."""
        tr = self.tracer
        keysets = [lk["keys"] for lk in self.lookups]
        bexpr = self.table.bucket_expr()
        lookup_buckets = sum(
            self.spark.createDataFrame(ks, "repo string, path string").select(bexpr).distinct().count()
            for ks in keysets)
        probes = self.probes()
        counters = tr.read_counters()
        # the spans and their counters, for reading a run layer by layer
        self.trace_out = {"spans": tr.spans, "counters": counters}
        zero = {"jobs": 0, "stages": 0, "tasks": 0, "shuffle_read_bytes": 0,
                "shuffle_write_bytes": 0, "executor_run_s": 0.0, "output_bytes": 0,
                "stage_ids": []}

        def spans(name):
            return [s for s in tr.spans if s["name"] == name]

        def wall(name):
            return sum(s["end"] - s["start"] for s in spans(name))

        def count(name, field):
            return sum(counters.get(s["tag"], zero)[field] for s in spans(name))

        eps = self.epochs
        m = dict(self.layer)
        m.update(probes)
        m.update({
            "checkpoint.bookkeeping_s": wall("checkpoint.bookkeeping"),
            "checkpoint.lineage_write_s": wall("checkpoint.write_lineage_rows"),
            "checkpoint.marker_s": wall("checkpoint.commit"),
            "fs.calls": len(spans("fs")),
            "fs.s": wall("fs"),
            "lake.upsert_s": wall("lake.upsert"),
            "lake.upsert_jobs": count("lake.upsert", "jobs"),
            "lake.upsert_stages": count("lake.upsert", "stages"),
            "lake.upsert_tasks": count("lake.upsert", "tasks"),
            "lake.upsert_shuffle_bytes": count("lake.upsert", "shuffle_write_bytes"),
            "lake.upsert_executor_run_s": count("lake.upsert", "executor_run_s"),
            "lake.buckets_touched": sum(e["buckets_touched"] for e in eps),
            "lake.files_written": sum(e["files"] for e in eps),
            "lake.bytes_written": sum(e["bytes"] for e in eps),
            "lake.rows_rewritten_per_row_changed":
                sum(e["rows"] for e in eps) / max(self.rows_changed, 1),
            "lake.read_changes_s": wall("feed"),
            "lake.read_changes_stages": count("feed", "stages"),
            "lake.lookup_s": wall("lookup"),
            "lake.lookup_buckets_read": lookup_buckets,
            "lake.deltas_pending": self.deltas_pending,
            "lake.compact_deltas_s": wall("compact"),
            "lww.shuffle_bytes": count("probe.lww", "shuffle_write_bytes") // 3,
            "lww.task_skew": tr.task_skew(counters.get(spans("probe.lww")[-1]["tag"], zero)["stage_ids"]),
            "diff.s": p50([s["end"] - s["start"] for s in spans("diff")]),
            "diff.stages": count("diff", "stages") // DIFF_REPEATS,
            "diff.shuffle_bytes": count("diff", "shuffle_write_bytes") // DIFF_REPEATS,
            "diff.rows_out": sum(self.diffs[-1][2].values()),
            "pipeline.apply_epoch_self_s": sum(tr.self_time(s) for s in spans("pipeline.apply_epoch")),
            "trace.overhead_s": self.trace_overhead_s,
        })
        roots = [s for s in tr.spans if s["parent"] is None and s["tag"]
                 and not s["name"].startswith("probe.")]
        for field in ("jobs", "stages", "tasks"):
            m[f"spark.{field}"] = sum(counters.get(s["tag"], zero)[field] for s in roots)
        # last: the one-core leg restarts the session, dropping its counters
        eps_1 = self.local1_leg()
        eps_n = sum(e["events"] for e in eps[1:]) / sum(e["wall"] for e in eps[1:])
        m["scaling.events_per_s_local1"] = eps_1
        m["scaling.efficiency_1_to_n"] = eps_n / (self.cpus * eps_1)
        return m

    # -- metrics ----------------------------------------------------------

    def e2e_metrics(self) -> dict:
        """name -> (value, samples). Times are the program's CPU seconds."""
        commits = [e["cpu"] for e in self.epochs]
        events = sum(e["events"] for e in self.epochs)
        return {
            "setup_s": (self.setup_s, SETUP_REPEATS),
            "events_per_cpu_s": (events / sum(commits), len(commits)),
            "commit_cpu_p50_s": (p50(commits), len(commits)),
            "feed_cpu_p50_s": (p50([f["cpu"] for f in self.feeds]), len(self.feeds)),
            "lookup_cpu_p50_s": (p50([lk["cpu"] for lk in self.lookups]), len(self.lookups)),
            "diff_cpu_s": (p50([d[1] for d in self.diffs]), len(self.diffs)),
            "write_amp": (sum(e["bytes"] for e in self.epochs)
                          / sum(e["payload_bytes"] for e in self.epochs), len(commits)),
        }

    def wall_metrics(self) -> dict:
        """The same operations in wall-clock seconds: what a caller waits.
        Printed and recorded, not gated (see README)."""
        commits = [e["wall"] for e in self.epochs]
        return {
            "setup_wall_s": (self.setup_wall_s, SETUP_REPEATS),
            "events_per_s": (sum(e["events"] for e in self.epochs) / sum(commits), len(commits)),
            "commit_p50_s": (p50(commits), len(commits)),
            "feed_p50_s": (p50([f["wall"] for f in self.feeds]), len(self.feeds)),
            "lookup_p50_s": (p50([lk["wall"] for lk in self.lookups]), len(self.lookups)),
            "diff_s": (p50([d[0] for d in self.diffs]), len(self.diffs)),
        }

    @property
    def cpus(self) -> int:
        return len(os.sched_getaffinity(0))

    def stop_spark(self):
        spark = getattr(self, "spark", None)
        if spark is None:
            return
        proc = spark.sparkContext._gateway.proc
        try:
            spark.stop()
            spark.sparkContext._gateway.shutdown()
        finally:
            # the JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "bcdc2bcdc_spark", "plans", "pipeline.py")):
        print("perfbench: run from the repository root; bcdc2bcdc_spark/ not found",
              file=sys.stderr)
        return 2
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run = Run(args)
    run.environ()
    sys.path.insert(0, ROOT)
    from bcdc2bcdc_spark.generator import IGNORED_REPOS

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": run.cpus, "SPARK_GRAFT_CPUS": str(run.cpus),
        "tree_sha256": tree_sha256(), "loadavg_1m_before": loadavg(),
    }
    steal0 = steal_s()
    phases, t = {}, time.perf_counter()

    def phase(name):
        nonlocal t
        phases[name] = time.perf_counter() - t
        t += phases[name]

    try:
        run.setup()
        phase("setup")
        oracle = LWWOracle(run.inputs, IGNORED_REPOS)
        if args.trace:
            run.tracer = Tracer(run.spark)
        run.measure(oracle)
        phase("measure")
        run.check(oracle)
        # a run that failed may lack the samples a metric needs
        correct = run.failed == 0
        e2e, wall = (run.e2e_metrics(), run.wall_metrics()) if correct else ({}, {})
        phase("check")
        layers = run.layer_metrics() if args.trace and correct else {}
        phase("layers")
    finally:
        record["loadavg_1m_after"] = loadavg()
        record["cpu_steal_s"] = steal_s() - steal0
        try:
            run.stop_spark()
        finally:
            shutil.rmtree(run.work, ignore_errors=True)
        phase("stop")
        record["phase_s"] = phases
    record.update(commits=[(e["wall"], e["cpu"]) for e in run.epochs],
                  peak_rss_mb=getattr(run, "peak_rss_mb", None),
                  retained_heap_mb=getattr(run, "retained_heap_mb", None))
    record.update(epochs_applied=len(run.epochs), gen_s=getattr(run, "gen_s", None),
                  bootstrap_s=getattr(run, "bootstrap_s", None),
                  warmup_s=getattr(run, "warmup_s", None),
                  jit_cpu_s=getattr(run, "jit_cpu_s", None), errors=run.errors)
    units = {**E2E_UNITS, **WALL_UNITS}
    print(f"{'metric' + (' (traced)' if args.trace else ''):36} {'value':>14} {'unit':>6} {'n':>4}")
    for name, (value, n) in {**e2e, **wall}.items():
        print(f"{name:36} {value:14.6g} {units[name]:>6} {n:>4}")
    # not gated: it is 0 on every run that passes the gate
    print(f"{'ops_failed_ratio':36} {run.failed / run.attempted:14.6g} {'ratio':>6} "
          f"{run.attempted:>4}")
    for name, value in layers.items():
        print(f"{name:36} {value:14.6g} {LAYER_UNITS[name]:>6}")
    # tracing overhead: traced minus untraced, against the last untraced
    # run of the same workload and seed in this checkout
    ref = os.path.join(ROOT, ".perfbench_out", f"{args.workload}-s{args.seed}.json")
    if not args.trace and correct:
        os.makedirs(os.path.dirname(ref), exist_ok=True)
        with open(ref, "w") as fh:
            json.dump({k: v for k, (v, _n) in {**e2e, **wall}.items()}, fh)
    elif args.trace and correct:
        os.makedirs(os.path.dirname(ref), exist_ok=True)
        with open(ref.replace(".json", "-trace.json"), "w") as fh:
            json.dump(run.trace_out, fh)
        if os.path.exists(ref):
            with open(ref) as fh:
                untraced = json.load(fh)
            for name, (value, _n) in {**e2e, **wall}.items():
                print(f"{'overhead.' + name:36} {value - untraced.get(name, value):14.6g} "
                      f"{units[name]:>6}")
    print("run-record: " + json.dumps(record))
    if args.trace:
        metrics = {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, (v, _n) in e2e.items()}
    print(json.dumps({"correct": correct, "attempted": run.attempted, "failed": run.failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
