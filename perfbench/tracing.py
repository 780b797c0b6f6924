"""Spans around calls into the program's layers, and Spark's own
per-job accounting, for the traced run.

Everything here lives in the benchmark: in a traced run the public
functions listed in `LAYER_CALLS` are wrapped with a span recorder
(the untraced run wraps nothing), spans are kept in memory, and the
runner writes them out at exit. A span's self time is its duration
minus the durations of its direct children; spans never overlap
except by nesting, because every op runs on the main thread.

Spark metrics come from the status store over py4j after the op's
timer has stopped: each op runs in its own job group, and the jobs of
that group give the stages, tasks and executor times of the op.
"""

from __future__ import annotations

import functools
import sys
import time
from collections import Counter
from contextlib import contextmanager

#: (module, attribute path, span name): the program's layer boundaries.
#: Module-level functions are replaced wherever a taps_spark module
#: imported them by name, so calls made through any import path count.
LAYER_CALLS = (
    ("taps_spark.io.tables", "load_table", "io.tables.load"),
    ("taps_spark.io.jdbc", "fetch_table_stats", "io.jdbc.stats"),
    ("taps_spark.io.jdbc", "JdbcEndpoint.plan", "io.jdbc.plan"),
    ("taps_spark.io.jdbc", "JdbcEndpoint.write", "io.jdbc.write"),
    ("taps_spark.io.jdbc", "JdbcEndpoint.tables", "io.jdbc.catalog"),
    ("taps_spark.transfer.operation", "ParquetEndpoint.read", "io.sinks.read"),
    ("taps_spark.transfer.operation", "ParquetEndpoint.write", "io.sinks.write"),
    ("taps_spark.transfer.verify", "verify_or_raise", "transfer.verify"),
    ("taps_spark.transfer.manifest", "TransferManifest.set_watermark", "transfer.manifest"),
    ("taps_spark.transfer.manifest", "TransferManifest.mark_complete", "transfer.manifest"),
)

#: Stage fields summed per op (StageData accessor → metric key, scale).
_STAGE_FIELDS = (
    ("numTasks", "tasks", 1),
    ("numFailedTasks", "failed_tasks", 1),
    ("executorRunTime", "executor_run_s", 1e-3),
    ("executorCpuTime", "executor_cpu_s", 1e-9),
    ("jvmGcTime", "jvm_gc_s", 1e-3),
    ("shuffleWriteBytes", "shuffle_write_bytes", 1),
    ("shuffleReadBytes", "shuffle_read_bytes", 1),
    ("memoryBytesSpilled", "spill_bytes", 1),
    ("diskBytesSpilled", "spill_bytes", 1),
    ("inputRecords", "input_records", 1),
)


class Tracer:
    """Span recorder. Disabled, `span` records nothing and `install`
    is never called, so the untraced run executes the same calls with
    no wrappers in between."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        #: [name, start, end, parent index or None, op index]
        self.spans: list[list] = []
        self.overhead_s = 0.0
        self.op_index: int | None = None
        self._stack: list[int] = []
        self._restore: list[tuple[object, str, object]] = []
        #: Called inside `io.tables.load` spans to count the jobs the
        #: load started; set by the runner to a py4j job-count probe.
        self.job_count = None
        self.schema_jobs: Counter = Counter()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = [name, time.perf_counter(), None, self._stack[-1] if self._stack else None, self.op_index]
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield rec
        finally:
            rec[2] = time.perf_counter()
            self._stack.pop()

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            probe = tracer.job_count if name == "io.tables.load" else None
            before = tracer.probe(probe)
            with tracer.span(name) as rec:
                out = fn(*args, **kwargs)
            if probe is not None:
                tracer.schema_jobs[tracer.op_index] += tracer.probe(probe) - before
            if name == "io.jdbc.plan":
                rec.append(int(out.options.get("numPartitions", 1)))
            return out

        return traced

    def probe(self, probe) -> int:
        """Call a py4j probe, charging its time to the tracer."""
        if probe is None:
            return 0
        t = time.perf_counter()
        try:
            return probe()
        finally:
            self.overhead_s += time.perf_counter() - t

    def install(self) -> None:
        """Wrap every call in LAYER_CALLS (traced runs only)."""
        import importlib

        for mod_name, path, name in LAYER_CALLS:
            mod = importlib.import_module(mod_name)
            if "." in path:
                cls_name, attr = path.split(".")
                owner = getattr(mod, cls_name)
                original = owner.__dict__[attr]
                self._restore.append((owner, attr, original))
                setattr(owner, attr, self._wrap(original, name))
                continue
            original = getattr(mod, path)
            wrapped = self._wrap(original, name)
            for m_name, m in list(sys.modules.items()):
                if m_name.startswith("taps_spark") and getattr(m, path, None) is original:
                    self._restore.append((m, path, original))
                    setattr(m, path, wrapped)

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._restore):
            setattr(owner, attr, original)
        self._restore.clear()

    def self_times(self) -> list[float]:
        """Self time of every span, index-aligned with `spans`."""
        out = [s[2] - s[1] for s in self.spans]
        for s in self.spans:
            if s[3] is not None:
                out[s[3]] -= s[2] - s[1]
        return out


def spark_op_metrics(spark, group: str, with_pull_source: bool) -> dict[str, float]:
    """Jobs, stages and executor totals of one op's job group, read
    from Spark's status store. Skipped stages (shuffle output reused)
    did no work and are left out."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out: Counter = Counter()
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        if info is None:
            continue
        out["jobs"] += 1
        for stage_id in info.stageIds:
            try:
                sd = store.lastStageAttempt(stage_id)
            except Exception:  # evicted or never submitted: nothing ran
                continue
            if sd.status().toString() not in ("COMPLETE", "FAILED"):
                continue
            out["stages"] += 1
            stage: Counter = Counter()
            for accessor, key, scale in _STAGE_FIELDS:
                stage[key] += getattr(sd, accessor)() * scale
            out.update(stage)
            if with_pull_source and _reads_pull_source(sc, store, stage_id):
                out["pull_source_task_s"] += stage["executor_run_s"]
                out["pull_source_partitions"] += stage["tasks"]
    return dict(out)


def _reads_pull_source(sc, store, stage_id: int) -> bool:
    graph = store.operationGraphForStage(stage_id)
    dot = sc._jvm.org.apache.spark.ui.scope.RDDOperationGraph.makeDotFile(graph)
    return "BatchScan taps_pull" in dot
