"""Benchmark of taps_spark: one workload per process, one Spark
session, one closed-loop client (the next op starts when the previous
one has returned).

    python3 perfbench/run.py --workload query --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the inputs into
`$CARGO_TARGET_DIR/perfbench` (default `.bench_build/perfbench`); later
runs reuse them. A run then starts Spark on local[2], builds the
workload's fixtures, runs a fixed number of warm-up passes at the
measured scale, and measures whole passes until `--seconds` have
passed (at least three). A pass runs every op of the workload once, in
a seed-chosen order.

`--trace 0` prints the end-to-end metrics; `--trace 1` wraps the
program's layer calls with spans, reads Spark's per-job accounting
after every op, and prints the per-layer metrics instead. Both write
the per-pass wall/CPU curve (and, traced, every span) to
`.../perfbench/traces/`. The last stdout line is the result object;
the line before it holds sample counts, per-op medians and the host
weather at start and end.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import host  # noqa: E402
from tracing import Tracer, spark_op_metrics  # noqa: E402
from workloads import (  # noqa: E402
    WORKLOADS,
    TransferBench,
    crash_chunk,
    digest_frame,
    digest_value,
    pass_order,
)

#: Spark task slots (local[CPUS]): half of the 4-core host it was tuned on.
CPUS = 2
#: Inputs: TPC-H-like tables at this scale factor (lineitem 12k rows).
SCALE = 0.002
#: Fixed warm-up work, in passes, at the measured scale.
WARMUP_PASSES = {"query": 4, "transfer": 3}
MIN_PASSES = 3

END_TO_END = {
    "setup_s": "s",
    "peak_pss_mb": "MB",
    "pass_cpu_s": "s",
    "pass_s": "s",
    "op_geomean_s": "s",
}
PER_LAYER = {
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.cache_leaks": "count",
    "io.tables.load_calls": "count",
    "io.tables.load_s": "s",
    "io.tables.schema_jobs": "count",
    "spark.plan_s": "s",
    "spark.action_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.jvm_gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.input_records": "count",
    "spark.core_busy_share": "share",
    "io.pull_source.task_s": "s",
    "io.pull_source.partitions": "count",
    "io.jdbc.write_s": "s",
    "io.jdbc.plan_s": "s",
    "io.jdbc.stats_calls": "count",
    "io.jdbc.read_partitions": "count",
    "io.jdbc.catalog_s": "s",
    "io.sinks.read_s": "s",
    "io.sinks.write_s": "s",
    "transfer.verify.compare_s": "s",
    "transfer.chunks": "count",
    "transfer.manifest.flushes": "count",
    "transfer.manifest.flush_s": "s",
    "transfer.reshipped_rows": "rows",
    "transfer.read_amplification": "ratio",
    "transfer.push_rows_per_s": "rows/s",
    "transfer.pull_rows_per_s": "rows/s",
    "transfer.resume_pull_rows_per_s": "rows/s",
    "session.start_s": "s",
    "setup.fixtures_s": "s",
    "setup.warmup_s": "s",
    "run.drift_ratio": "ratio",
    "trace.overhead_share": "share",
    "trace.unaccounted_share": "share",
}

#: Span name → per-layer metric that sums the span's self time.
SELF_TIME = {
    "queries.build": "queries.build_s",
    "io.tables.load": "io.tables.load_s",
    "spark.plan": "spark.plan_s",
    "spark.action": "spark.action_s",
    "io.jdbc.write": "io.jdbc.write_s",
    "io.jdbc.plan": "io.jdbc.plan_s",
    "io.jdbc.stats": "io.jdbc.plan_s",
    "io.sinks.write": "io.sinks.write_s",
    "io.jdbc.catalog": "io.jdbc.catalog_s",
    "io.sinks.read": "io.sinks.read_s",
    "transfer.verify": "transfer.verify.compare_s",
    "transfer.manifest": "transfer.manifest.flush_s",
}
#: Span name → per-layer metric that counts the spans.
SPAN_COUNT = {
    "io.tables.load": "io.tables.load_calls",
    "io.jdbc.stats": "io.jdbc.stats_calls",
    "transfer.manifest": "transfer.manifest.flushes",
}


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


class Run:
    """One workload in one process: session, fixtures, warm-up and the
    measured passes, with every op's outcome kept for the report."""

    def __init__(self, args, data_dir: str, work_dir: str, reference: dict) -> None:
        self.args = args
        self.workload = args.workload
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.reference = reference
        self.tracer = Tracer(bool(args.trace))
        self.ops: list[dict] = []
        self.passes: list[dict] = []
        self.setup: dict[str, float] = {}
        self.spark = None
        self.transfer: TransferBench | None = None

    # ----------------------------------------------------------- set-up

    def start(self) -> None:
        from taps_spark.session import get_spark

        t = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.setup["session.start_s"] = time.perf_counter() - t

        t = time.perf_counter()
        if self.workload == "transfer":
            import pyarrow.parquet as pq

            rows = {
                name: pq.ParquetFile(os.path.join(self.data_dir, f"{name}.parquet")).metadata.num_rows
                for name in ("orders", "lineitem")
            }
            keys = pq.read_table(os.path.join(self.data_dir, "orders.parquet"), columns=["o_orderkey"])
            self.transfer = TransferBench(
                self.data_dir, self.work_dir, rows, keys.column(0).to_pylist()
            )
            self.transfer.reset(self.spark)  # boots (creates) the Derby database
        else:
            from taps_spark.queries import all_queries

            self.queries = all_queries()
        if self.tracer.enabled:
            sc = self.spark.sparkContext
            self.tracer.job_count = lambda: len(sc.statusTracker().getJobIdsForGroup(self._group))
            self.tracer.install()
        self.setup["setup.fixtures_s"] = time.perf_counter() - t

    # -------------------------------------------------------------- ops

    def _query(self, name: str) -> tuple[str | None, int]:
        """Build, plan and force one registry query; returns the error
        (None when the digest matches) and the jobs the build ran."""
        tracer = self.tracer
        with tracer.span("queries.build"):
            df = self.queries[name](self.spark, self.data_dir)
        build_jobs = tracer.probe(tracer.job_count) if tracer.enabled else 0
        dg = digest_frame(df)
        with tracer.span("spark.plan"):
            dg._jdf.queryExecution().executedPlan()
        with tracer.span("spark.action"):
            row = dg.collect()[0]
        got, want = digest_value(row), self.reference.get(name)
        return (None if got == want else f"digest {got} != reference {want}"), build_jobs

    def _transfer(self, name: str, pass_no: int) -> tuple[str | None, int]:
        """Run one transfer leg; returns the error and the rows moved."""
        if name == "resume_pull":
            at = crash_chunk(self.args.seed, pass_no, self.transfer.n_chunks())
            rows, errors = self.transfer.resume_pull(self.spark, at)
        else:
            rows, errors = getattr(self.transfer, name)(self.spark)
        return "; ".join(errors) or None, rows

    def run_op(self, name: str, pass_no: int, phase: str) -> dict:
        sc = self.spark.sparkContext
        index = len(self.ops)
        self._group = f"perfbench-op-{index}"
        sc.setJobGroup(self._group, name)
        self.tracer.op_index = index
        build_jobs = rows = 0
        t = time.perf_counter()
        with self.tracer.span("op"):
            try:
                if self.workload == "transfer":
                    error, rows = self._transfer(name, pass_no)
                else:
                    error, build_jobs = self._query(name)
            except Exception as e:  # a failed op is counted, the run goes on
                error = f"{type(e).__name__}: {str(e).splitlines()[0][:300]}"
        wall = time.perf_counter() - t
        # CacheManager guard: nothing an op cached may reach the next op.
        leaks = self.spark._jsparkSession.sharedState().cacheManager().numCachedEntries()
        if leaks:
            self.spark.catalog.clearCache()
        rec = {
            "op": name, "pass": pass_no, "phase": phase, "wall_s": wall, "ok": error is None,
            "error": error, "rows": rows, "cache_leaks": leaks, "build_jobs": build_jobs,
        }
        if self.tracer.enabled:
            t = time.perf_counter()
            rec["spark"] = spark_op_metrics(
                self.spark, self._group, with_pull_source=name == "scan_python_datasource"
            )
            rec["harvest_s"] = time.perf_counter() - t
            self.tracer.overhead_s += rec["harvest_s"]
            if name == "resume_pull":
                rec["resume"] = dict(self.transfer.last)
        if error:
            print(f"perfbench: {phase} pass {pass_no} {name} failed: {error}", file=sys.stderr)
        self.ops.append(rec)
        return rec

    def run_pass(self, phase: str) -> dict:
        pass_no = len(self.passes)
        cpu0, t0 = host.tree_cpu_s(os.getpid()), time.perf_counter()
        recs = [self.run_op(name, pass_no, phase) for name in pass_order(self.workload, self.args.seed, pass_no)]
        harvest = sum(r.get("harvest_s", 0.0) for r in recs)
        p = {
            "pass": pass_no,
            "phase": phase,
            "wall_s": time.perf_counter() - t0 - harvest,
            "cpu_s": host.tree_cpu_s(os.getpid()) - cpu0,
            "ops": [len(self.ops) - len(recs) + i for i in range(len(recs))],
        }
        self.passes.append(p)
        if self.transfer is not None:
            self.tracer.op_index = None  # the reset belongs to no op
            self.transfer.reset(self.spark)
        return p

    def warm_and_measure(self, warmup: int, seconds: float) -> None:
        t = time.perf_counter()
        for _ in range(warmup):
            self.run_pass("warmup")
        self.setup["setup.warmup_s"] = time.perf_counter() - t
        self.measure_start = time.perf_counter()
        done = 0
        while done < MIN_PASSES or time.perf_counter() - self.measure_start < seconds:
            self.run_pass("measure")
            done += 1
        self.measure_wall = time.perf_counter() - self.measure_start

    def stop(self) -> None:
        """Stop Spark and wait for the JVM (and the Python workers it
        forked) to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.tracer.uninstall()
        started = host.tree_pids(os.getpid())[1:]
        self.spark.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Exception:  # the JVM is stopped below either way
            pass
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        # Python workers outlive the JVM only by moments; end and await
        # any that are left, reparented or not.
        for pid in started:
            try:
                os.kill(pid, signal.SIGTERM)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + 30
        while any(os.path.exists(f"/proc/{pid}") for pid in started) and time.monotonic() < deadline:
            try:
                os.waitpid(-1, os.WNOHANG)  # reap our own children
            except ChildProcessError:
                pass
            time.sleep(0.05)

    # ---------------------------------------------------------- metrics

    def measured(self) -> list[dict]:
        return [p for p in self.passes if p["phase"] == "measure"]

    def end_to_end(self, setup_s: float, peak_pss_mb: float) -> dict[str, float]:
        passes = self.measured()
        by_op: dict[str, list[float]] = {}
        for p in passes:
            for i in p["ops"]:
                by_op.setdefault(self.ops[i]["op"], []).append(self.ops[i]["wall_s"])
        medians = [statistics.median(v) for v in by_op.values()]
        return {
            "setup_s": setup_s,
            "peak_pss_mb": peak_pss_mb,
            "pass_cpu_s": statistics.median(p["cpu_s"] for p in passes),
            "pass_s": statistics.median(p["wall_s"] for p in passes),
            "op_geomean_s": math.exp(statistics.fmean(math.log(m) for m in medians)),
        }

    def per_layer(self) -> dict[str, float]:
        tracer = self.tracer
        self_times = tracer.self_times()
        op_pass = {i: r["pass"] for i, r in enumerate(self.ops)}
        per_pass: dict[int, Counter] = {p["pass"]: Counter() for p in self.measured()}
        for span, own in zip(tracer.spans, self_times):
            c = per_pass.get(op_pass.get(span[4]))
            if c is None:
                continue
            name = span[0]
            if name in SELF_TIME:
                c[SELF_TIME[name]] += own
            if name in SPAN_COUNT:
                c[SPAN_COUNT[name]] += 1
            if name == "io.jdbc.plan" and len(span) > 5:
                c["io.jdbc.read_partitions"] += span[5]
            if name != "op":
                c["accounted_s"] += own
        for p in self.measured():
            c = per_pass[p["pass"]]
            for i in p["ops"]:
                r = self.ops[i]
                c["queries.build_jobs"] += r["build_jobs"]
                c["queries.cache_leaks"] += r["cache_leaks"]
                c["io.tables.schema_jobs"] += tracer.schema_jobs[i]
                for key, v in r.get("spark", {}).items():
                    if key.startswith("pull_source_"):
                        c["io.pull_source." + key[len("pull_source_"):]] += v
                    else:
                        c["spark." + key] += v
                if r["op"] in ("push", "pull", "resume_pull"):
                    c[f"transfer.{r['op']}_rows_per_s"] = r["rows"] / r["wall_s"]
                for key, v in r.get("resume", {}).items():
                    c["transfer." + key] += v
            c["spark.core_busy_share"] = c["spark.executor_run_s"] / (p["wall_s"] * CPUS)
            c["trace.unaccounted_share"] = 1 - c["accounted_s"] / p["wall_s"]
        out = {
            name: statistics.median(per_pass[p][name] for p in per_pass)
            for name in PER_LAYER
        }
        out.update({k: v for k, v in self.setup.items() if k in PER_LAYER})
        out["run.drift_ratio"] = drift_ratio([p["wall_s"] for p in self.measured()])
        out["trace.overhead_share"] = tracer.overhead_s / (
            self.setup["setup.warmup_s"] + self.measure_wall
        )
        return out


def drift_ratio(walls: list[float]) -> float:
    """Median of the last third of the measured passes over the median
    of the first third: near 1 when the window sits on the flat part
    of the warm-up curve."""
    k = max(1, len(walls) // 3)
    return statistics.median(walls[-k:]) / statistics.median(walls[:k])


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=SCALE, help="input scale factor")
    p.add_argument("--warmup", type=int, default=None, help="warm-up passes")
    p.add_argument("--reference", default=os.path.join(HERE, "reference.json"))
    return p.parse_args(argv)


def spark_env(work_dir: str) -> None:
    """Keep Spark, the JVM and the Python workers inside `work_dir`
    and give the workers the program on their path."""
    os.environ.update(
        SPARK_GRAFT_CPUS=str(CPUS),
        SPARK_GRAFT_DRIVER_MEM="2g",
        SPARK_LOCAL_DIRS=work_dir,
        TMPDIR=work_dir,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={work_dir}",
        PYSPARK_SUBMIT_ARGS="--conf spark.ui.showConsoleProgress=false pyspark-shell",
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
    )
    tempfile.tempdir = None  # re-read TMPDIR


def main(argv: list[str] | None = None) -> int:
    started = time.perf_counter() - process_age_s()
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import taps_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    with open(args.reference) as f:
        reference = json.load(f).get(f"{args.scale:g}", {})

    build = datagen.build_dir(ROOT)
    data_dir = datagen.data_dir(ROOT, args.scale)
    t = time.perf_counter()
    built = datagen.ensure(data_dir, args.scale)
    built_s = time.perf_counter() - t if built else 0.0
    os.makedirs(os.path.join(build, "tmp"), exist_ok=True)
    work_dir = tempfile.mkdtemp(prefix="run-", dir=os.path.join(build, "tmp"))
    spark_env(work_dir)

    weather = {"start": host.weather()}
    warmup = WARMUP_PASSES[args.workload] if args.warmup is None else args.warmup
    run = Run(args, data_dir, work_dir, reference)
    try:
        with host.PeakPss(os.getpid()) as pss:
            run.start()
            run.warm_and_measure(warmup, args.seconds)
            setup_s = run.measure_start - started - built_s
        metrics = run.end_to_end(setup_s, pss.peak_mb)
        if args.trace:
            metrics = run.per_layer()
    finally:
        run.stop()
        shutil.rmtree(work_dir, ignore_errors=True)
    weather["end"] = host.weather()

    units = PER_LAYER if args.trace else END_TO_END
    failed = sum(not r["ok"] for r in run.ops)
    trace_file = os.path.join(
        build, "traces", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    )
    os.makedirs(os.path.dirname(trace_file), exist_ok=True)
    with open(trace_file, "w") as f:
        json.dump(
            {
                "workload": args.workload, "seed": args.seed, "scale": args.scale,
                "setup": run.setup, "setup_s": setup_s, "input_build_s": built_s,
                "passes": run.passes, "ops": run.ops, "weather": weather,
                "spans": run.tracer.spans, "metrics": metrics,
            },
            f,
        )
    op_walls: dict[str, list[float]] = {}
    for r in run.ops:
        if r["phase"] == "measure":
            op_walls.setdefault(r["op"], []).append(r["wall_s"])
    print(json.dumps({"detail": {
        "measured_passes": len(run.measured()),
        "op_samples": {k: len(v) for k, v in op_walls.items()},
        "op_median_s": {k: statistics.median(v) for k, v in op_walls.items()},
        "pass_wall_s": [p["wall_s"] for p in run.passes],
        "pss_at_peak_mb": pss.at_peak,
        "weather": weather,
        "trace_file": os.path.relpath(trace_file, ROOT),
    }}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(run.ops),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
