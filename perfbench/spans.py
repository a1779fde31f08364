"""Spans and Spark work counters, recorded from outside the package.

``Tracer.patch`` replaces public functions and methods of the package's
layers with wrappers that open a span around each call; nothing in the
package is edited. A span holds (id, name, parent, start, end). Every span
that may launch Spark jobs also adds a Spark job tag for its lifetime, so
after the run the jobs, stages, tasks, shuffle bytes, executor run time and
output bytes of each span are read from the Spark driver's status store (which
Spark keeps even with the UI disabled).
"""

from __future__ import annotations

import functools
import itertools
import statistics
import sys
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping
        self._stack: list[int] = []
        self._ids = itertools.count(1)
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, spark_jobs: bool = True):
        o0 = time.perf_counter()
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        tag = f"perfbench-span-{sid}"
        if spark_jobs:
            self.sc.addJobTag(tag)
        self._stack.append(sid)
        start = time.perf_counter()
        self.overhead_s += start - o0
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            if spark_jobs:
                self.sc.removeJobTag(tag)
            self.spans.append(
                {"id": sid, "name": name, "parent": parent, "start": start,
                 "end": end, "tag": tag if spark_jobs else None}
            )
            self.overhead_s += time.perf_counter() - end

    # -- patching ---------------------------------------------------------

    def _wrapper(self, orig, name: str, spark_jobs: bool):
        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name, spark_jobs):
                return orig(*args, **kwargs)

        return wrapper

    def rebind(self, orig, new) -> None:
        """Point every package module's binding of ``orig`` at ``new``
        (``from x import f`` copies the name into the importing module)."""
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("bcdc2bcdc_spark"):
                continue
            for key, val in list(vars(mod).items()):
                if val is orig:
                    self._patches.append((mod, key, orig))
                    setattr(mod, key, new)

    def wrap_function(self, module, attr: str, name: str) -> None:
        orig = getattr(module, attr)
        self.rebind(orig, self._wrapper(orig, name, spark_jobs=True))

    def wrap_method(self, cls, attr: str, name: str, spark_jobs: bool = True):
        orig = cls.__dict__[attr]
        self._patches.append((cls, attr, orig))
        setattr(cls, attr, self._wrapper(orig, name, spark_jobs))

    def patch(self) -> None:
        """Wrap the public surface of every measured layer."""
        from bcdc2bcdc_spark.functions import canonicalize, digest
        from bcdc2bcdc_spark.operators import diff, lww
        from bcdc2bcdc_spark.plans import checkpoint, pipeline
        from bcdc2bcdc_spark.sources import fs, lake

        for attr in ("run", "apply_epoch", "prepare_batch"):
            self.wrap_method(pipeline.CDCPipeline, attr, f"pipeline.{attr}")
        for attr in ("commit", "write_lineage_rows", "is_committed",
                     "acquire_writer_lock", "release_writer_lock"):
            self.wrap_method(checkpoint.CheckpointStore, attr, f"checkpoint.{attr}",
                             spark_jobs=False)
        orig_lme = checkpoint.lineage_metrics_epochs

        def lineage_metrics_epochs(*args, **kwargs):
            # lazy: the bookkeeping job runs at the caller's collect()
            with self.span("checkpoint.lineage_metrics_epochs"):
                df = orig_lme(*args, **kwargs)
            collect = df.collect

            def timed_collect():
                with self.span("checkpoint.bookkeeping"):
                    return collect()

            df.collect = timed_collect
            return df

        self.rebind(orig_lme, functools.wraps(orig_lme)(lineage_metrics_epochs))
        for attr in ("list_files", "file_sizes", "list_subdirs", "remove_dir",
                     "remove_file", "dir_age_s", "exists", "read_json",
                     "write_json_atomic"):
            self.wrap_method(fs.LocalFS, attr, "fs", spark_jobs=False)
        for attr in ("init", "upsert", "read", "read_changes", "lookup", "compact_deltas"):
            self.wrap_method(lake.HashBucketParquetTable, attr, f"lake.{attr}")
        self.wrap_function(canonicalize, "canonicalize_events", "canonicalize.canonicalize_events")
        self.wrap_function(lww, "lww_dedup", "lww.lww_dedup")
        self.wrap_function(digest, "with_row_digest", "digest.with_row_digest")
        self.wrap_function(diff, "snapshot_diff", "diff.snapshot_diff")

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- analysis ---------------------------------------------------------

    def self_time(self, span: dict) -> float:
        """Duration minus the part of it covered by direct child spans."""
        kids = sorted(
            (s["start"], s["end"]) for s in self.spans if s["parent"] == span["id"]
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (span["end"] - span["start"]) - covered

    def read_counters(self) -> dict[str, dict]:
        """Spark work per span tag, after draining the listener bus.

        Returns ``tag -> {jobs, stages, tasks, shuffle_read_bytes,
        shuffle_write_bytes, executor_run_s, output_bytes, stage_ids}``;
        a span's counters include the jobs of its child spans. Skipped
        stages (reused shuffle output) are not counted."""
        jvm, jsc = self.sc._jvm, self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        conv = jvm.scala.jdk.javaapi.CollectionConverters
        stages = {}
        no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        for sd in conv.asJava(store.stageList(jvm.java.util.ArrayList(), False, False,
                                              no_quantiles, jvm.java.util.ArrayList())):
            if sd.status().toString() == "SKIPPED":
                continue
            stages[(sd.stageId(), sd.attemptId())] = {
                "tasks": sd.numCompleteTasks(),
                "executor_run_s": sd.executorRunTime() / 1000.0,
                "shuffle_read_bytes": sd.shuffleReadBytes(),
                "shuffle_write_bytes": sd.shuffleWriteBytes(),
                "output_bytes": sd.outputBytes(),
            }
        self._stages = stages
        attempts: dict[int, list] = {}
        for sid, att in stages:
            attempts.setdefault(sid, []).append((sid, att))
        out: dict[str, dict] = {}
        for jd in conv.asJava(store.jobsList(jvm.java.util.ArrayList())):
            tags = [t for t in conv.asJava(jd.jobTags()) if t.startswith("perfbench-span-")]
            stage_keys = [k for s in conv.asJava(jd.stageIds()) for k in attempts.get(s, [])]
            for tag in tags:
                acc = out.setdefault(tag, {"jobs": 0, "stage_keys": set()})
                acc["jobs"] += 1
                acc["stage_keys"].update(stage_keys)
        for acc in out.values():
            keys = acc.pop("stage_keys")
            acc["stage_ids"] = sorted(keys)
            acc["stages"] = len(keys)
            for field in ("tasks", "executor_run_s", "shuffle_read_bytes",
                          "shuffle_write_bytes", "output_bytes"):
                acc[field] = sum(stages[k][field] for k in keys)
        return out

    def task_skew(self, stage_keys) -> float:
        """max ÷ median task executor run time over the given stages'
        reduce-side stage (the one reading the most shuffle bytes); call
        after ``read_counters``."""
        jvm, jsc = self.sc._jvm, self.sc._jsc.sc()
        conv = jvm.scala.jdk.javaapi.CollectionConverters
        best = max(stage_keys, key=lambda k: self._stages[k]["shuffle_read_bytes"], default=None)
        if best is None:
            return 1.0
        runs = [
            t.taskMetrics().get().executorRunTime()
            for t in conv.asJava(jsc.statusStore().taskList(best[0], best[1], 1 << 30))
            if t.taskMetrics().isDefined()
        ]
        if not runs:
            return 1.0
        return max(runs) / max(statistics.median(runs), 1)
