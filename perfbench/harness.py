"""One benchmark run: session, fixtures, warm-up, timed phase, trace.

The loop is closed with one client: a single driver process runs
``local[cores]`` and each op starts when the previous one (and its
output check) has ended. End-to-end metrics come from the untraced
timed phase. With tracing on, the session is then restarted in the
same JVM with Spark's event log enabled, the op is repeated with every
layer call under its own job group, and the event log is parsed into
per-layer metrics.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager

from perfbench import eventlog

HEAP = "3g"  # driver heap: local mode runs every task in this JVM
# Ops before the timed phase. The JIT needs about twice as many to settle,
# which the run-time budget does not allow (see README.md).
WARMUP_OPS = 4

END_TO_END = {
    "setup_s": "s",
    "op_p50_vs_duckdb": "ratio",
    "run_vs_duckdb": "ratio",
    "cpu_vs_duckdb": "ratio",
    "peak_rss_mb": "MB",
    "ok_frac": "frac",
}

STAGE_FIELDS = {
    "stage.count": ("stages", "count"),
    "task.count": ("tasks", "count"),
    "stage.failed_tasks": ("failed_tasks", "count"),
    "stage.executor_run_s": ("executor_run_s", "s"),
    "stage.executor_cpu_s": ("executor_cpu_s", "s"),
    "stage.shuffle_write_mb": ("shuffle_write_mb", "MB"),
    "stage.shuffle_read_mb": ("shuffle_read_mb", "MB"),
    "stage.spill_mb": ("spill_mb", "MB"),
    "stage.peak_exec_mem_mb": ("peak_exec_mem_mb", "MB"),
}

# Every per-layer metric, with its unit. A workload reports the layers
# it runs; a layer it does not run reports 0.
PER_LAYER = {
    "session.start_s": "s",
    "fixture.build_s": "s",
    "jvm.jit_compile_s": "s",
    "jvm.gc_s": "s",
    "mem.jvm_peak_mb": "MB",
    "mem.driver_peak_mb": "MB",
    "trace.overhead_frac": "frac",
    "trace.op_p50_s": "s",
    "op.jobs_wall_s": "s",
    "other_s": "s",
    "stage.slot_busy_frac": "frac",
    **{name: unit for name, (_, unit) in STAGE_FIELDS.items()},
    "io_ops.scan_s": "s",
    "io_ops.format_s": "s",
    "io_ops.write_commit_s": "s",
    "io_ops.files_written": "count",
    "io_ops.output_bytes_per_row": "bytes",
    "pipeline.extract_s": "s",
    "sample.exact_n_s": "s",
    "pipeline.preset.spark_sql_s": "s",
    "pipeline.preset.spark_indexed_s": "s",
    "pipeline.preset.spark_df_s": "s",
    "pipeline.preset.spark_single_s": "s",
    "pipeline.preset.spark_chunked_s": "s",
    "pipeline.files_written": "count",
    "pipeline.largest.format_s": "s",
    "pipeline.largest.write_commit_s": "s",
    "pipeline.jobs_per_op": "count",
    "pipeline.single_task_stage_frac": "frac",
    "pivotbench.export_s": "s",
    "dedup.signatures_s": "s",
    "dedup.candidates_s": "s",
    "dedup.verify_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.verified_pairs": "count",
    "dedup.survivors": "count",
    "dedup.verify_yield": "frac",
    "op.p50_s": "s",
    "op.run_s": "s",
    "op.cpu_s": "s",
    "anchor.duckdb_p50_s": "s",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def median(values) -> float:
    return float(statistics.median(values))


class Spans:
    """Times named layer calls and, when tracing, labels their Spark
    jobs with a job group ``"<iteration>:<layer>"``.

    Nested spans restore the enclosing group on exit. Layers whose
    name starts with ``op`` make up the op; ``probe/...`` layers are
    extra calls the trace makes around it.
    """

    def __init__(self, spark=None):
        self.sc = spark.sparkContext if spark is not None else None
        self.iteration = 0
        self.times: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self._stack: list[str] = []

    def _set_group(self, layer: str | None) -> None:
        if self.sc is None:
            return
        if layer is None:
            self.sc.setLocalProperty(eventlog.GROUP_PROPERTY, None)
        else:
            self.sc.setJobGroup(f"{self.iteration}:{layer}", layer)

    @contextmanager
    def __call__(self, layer: str):
        self._stack.append(layer)
        self._set_group(layer)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.times[self.iteration][layer] += time.perf_counter() - t0
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def layer_medians(self) -> dict[str, float]:
        per_layer: dict[str, list[float]] = defaultdict(list)
        for times in self.times.values():
            for layer, t in times.items():
                per_layer[layer].append(t)
        return {layer: median(ts) for layer, ts in per_layer.items()}


class ProcessStats:
    """CPU seconds and memory high-water mark of the JVM and this
    Python driver from ``/proc``; JIT and GC time from the JDK's
    public management beans."""

    def __init__(self, spark):
        jvm = spark.sparkContext._jvm
        self._mgmt = jvm.java.lang.management.ManagementFactory
        self.pids = [int(jvm.java.lang.ProcessHandle.current().pid()), os.getpid()]
        self._tick = os.sysconf("SC_CLK_TCK")

    def cpu_s(self, driver_only: bool = False) -> float:
        total = 0
        for pid in self.pids[1:] if driver_only else self.pids:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            total += int(fields[11]) + int(fields[12])  # utime + stime
        return total / self._tick

    def reset_peaks(self) -> None:
        """Restart each process's VmHWM from its current RSS, so the
        peaks cover only what runs after this call."""
        for pid in self.pids:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")

    def peaks_mb(self) -> tuple[float, float]:
        """VmHWM of the JVM and of this driver, in MB."""
        peaks = []
        for pid in self.pids:
            with open(f"/proc/{pid}/status") as fh:
                kb = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
            peaks.append(kb / 1024)
        return tuple(peaks)

    def jit_s(self) -> float:
        return self._mgmt.getCompilationMXBean().getTotalCompilationTime() / 1000

    def gc_s(self) -> float:
        return sum(b.getCollectionTime() for b in self._mgmt.getGarbageCollectorMXBeans()) / 1000


def session_conf(work: str, event_dir: str | None) -> dict[str, str]:
    conf = {
        "spark.driver.memory": HEAP,
        # A fixed-size heap keeps heap growth out of the timed phase;
        # no perf-data file is written outside the work directory.
        "spark.driver.extraJavaOptions": (
            f"-Xms{HEAP} -XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
        ),
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_dir is not None:
        conf.update({
            "spark.eventLog.enabled": "true",
            # The default zstd codec needs a Python module that is not
            # installed; plain JSON lines are parsed directly.
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def start_session(work: str, cores: int, event_dir: str | None = None):
    from convert_parquet_to_csv_spark import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_conf=session_conf(work, event_dir),
    )


def stop_jvm() -> None:
    """End the Spark JVM this process launched and wait for it: it
    exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def run_op(workload, spans: Spans, index: int, stats=None) -> tuple[float, float, bool]:
    """One op into a fresh output path, then its check and cleanup.
    Returns the op's wall seconds, its CPU seconds (when ``stats`` is
    given) and whether its output passed the check."""
    out = os.path.join(workload.work, "out", f"op-{index}")
    workload.spark.catalog.clearCache()
    ok, cpu = False, 0.0
    cpu0 = stats.cpu_s() if stats else 0.0
    t0 = time.perf_counter()
    try:
        with spans("op"):
            result = workload.op(out, spans)
        elapsed = time.perf_counter() - t0
        cpu = stats.cpu_s() - cpu0 if stats else 0.0
        ok = workload.check(out, result)
    except Exception:  # noqa: BLE001 — a failed op is counted, the run goes on
        elapsed = time.perf_counter() - t0
        traceback.print_exc()
    finally:
        shutil.rmtree(out, ignore_errors=True)
        workload.spark.catalog.clearCache()
    if not ok:
        log(f"op {index} failed its check")
    return elapsed, cpu, ok


def run_anchor(workload, stats=None) -> tuple[float, float]:
    """The workload's same-box DuckDB reference query: wall seconds, and
    CPU seconds of this process, where DuckDB runs. The JVM's CPU in
    the meantime (JIT, GC) is not DuckDB's work."""
    cpu0 = stats.cpu_s(driver_only=True) if stats else 0.0
    t0 = time.perf_counter()
    workload.anchor()
    return time.perf_counter() - t0, (stats.cpu_s(driver_only=True) - cpu0 if stats else 0.0)


def warm_up(workload, spans: Spans) -> None:
    """``WARMUP_OPS`` ops, then the anchor once."""
    times = [run_op(workload, spans, -1 - i)[0] for i in range(WARMUP_OPS)]
    run_anchor(workload)
    log(f"warm-up ops: {' '.join(f'{t:.2f}' for t in times)}")


def timed_phase(workload, spans: Spans, n_ops: int, stats: ProcessStats) -> dict:
    """``n_ops`` ops, each bracketed by anchor runs: anchor, op, anchor,
    op, ..., anchor. An op is compared with the mean of the anchors
    right before and after it, so box-wide slowdowns that outlast one
    op cancel in the ratios."""
    jit0, gc0 = stats.jit_s(), stats.gc_s()
    t0 = time.perf_counter()
    ops, anchors, oks = [], [run_anchor(workload, stats)], 0
    for i in range(n_ops):
        spans.iteration = i
        t, cpu, ok = run_op(workload, spans, i, stats)
        ops.append((t, cpu))
        anchors.append(run_anchor(workload, stats))
        oks += ok
    run_s = time.perf_counter() - t0
    log("timed op/anchor: " + " ".join(f"{t:.3f}/{a:.3f}" for (t, _), (a, _) in zip(ops, anchors)))
    op_s, op_cpu = zip(*ops)
    bracket = [
        ((a0 + a1) / 2, (c0 + c1) / 2) for (a0, c0), (a1, c1) in zip(anchors, anchors[1:])
    ]
    anchor_s, anchor_cpu = zip(*bracket)
    return {
        "run_s": run_s,
        "times": list(op_s),
        "op_cpu_s": sum(op_cpu),
        "anchor_p50_s": median(a for a, _ in anchors),
        "op_p50_vs_duckdb": median(t / a for t, a in zip(op_s, anchor_s)),
        "run_vs_duckdb": sum(op_s) / sum(anchor_s),
        "cpu_vs_duckdb": sum(op_cpu) / sum(anchor_cpu),
        "ok": oks,
        "jit_s": stats.jit_s() - jit0,
        "gc_s": stats.gc_s() - gc0,
    }


def _sum_groups(profiles) -> dict:
    """Stage totals over several job groups; peak memory is the max."""
    acc: dict[str, float] = defaultdict(float)
    intervals = []
    for prof in profiles:
        for attr, _ in STAGE_FIELDS.values():
            if attr == "peak_exec_mem_mb":
                acc[attr] = max(acc[attr], prof.peak_exec_mem_mb)
            else:
                acc[attr] += getattr(prof, attr)
        acc["jobs"] += prof.jobs
        acc["single_task_stages"] += prof.single_task_stages
        intervals.extend(prof.job_intervals)
    acc["jobs_wall_s"] = eventlog.GroupProfile(job_intervals=intervals).jobs_wall_s
    return acc


def _layers_of(groups: dict) -> dict[int, dict[str, eventlog.GroupProfile]]:
    """``{iteration: {layer: profile}}`` from ``"<iteration>:<layer>"``
    group ids; unlabelled jobs are left out."""
    out: dict[int, dict] = defaultdict(dict)
    for group_id, prof in groups.items():
        it, sep, layer = group_id.partition(":")
        if sep:
            out[int(it)][layer] = prof
    return out


def trace_metrics(groups: dict, op_wall: list[float], cores: int) -> dict:
    """Per-op stage totals from the event log, reconciled with op wall
    time: ``other_s`` is the part of an op no Spark job covers (driver
    work, planning, gaps between jobs)."""
    by_iter = _layers_of(groups)
    ops = [
        _sum_groups(p for layer, p in by_iter[i].items() if layer.startswith("op"))
        for i in range(len(op_wall))
    ]
    if any(op["jobs"] == 0 for op in ops):
        raise RuntimeError("a traced op has no jobs in the event log")
    out = {name: median(op[attr] for op in ops) for name, (attr, _) in STAGE_FIELDS.items()}
    out["op.jobs_wall_s"] = median(op["jobs_wall_s"] for op in ops)
    out["other_s"] = median(w - op["jobs_wall_s"] for w, op in zip(op_wall, ops))
    out["stage.slot_busy_frac"] = median(
        op["executor_run_s"] / (cores * op["jobs_wall_s"]) for op in ops
    )
    harness = _sum_groups(
        p for it in by_iter.values() for layer, p in it.items()
        if layer.startswith("harness/pipeline.") or layer == "harness/pivotbench.export"
    )
    if harness["jobs"]:
        out["pipeline.jobs_per_op"] = harness["jobs"]
        out["pipeline.single_task_stage_frac"] = harness["single_task_stages"] / harness["stages"]
    return out


def traced_phase(workload, work: str, cores: int) -> dict:
    """Restart the session with the event log on, repeat the op with
    each layer labelled, and parse the log."""
    event_dir = os.path.join(work, "events")
    os.makedirs(event_dir, exist_ok=True)
    workload.spark.stop()
    spark = workload.spark = start_session(work, cores, event_dir)
    spans = Spans(spark)
    op_wall, oks, n_iter = [], 0, workload.trace_iterations
    for i in range(n_iter):
        spans.iteration = i
        t, _, ok = run_op(workload, spans, 1000 + i)
        op_wall.append(t)
        oks += ok
        workload.probe(spans)
    spans.iteration = n_iter
    oks += workload.trace_once(spans)
    layers = spans.layer_medians()
    log("traced layer medians: " + ", ".join(f"{k}={v:.3f}" for k, v in sorted(layers.items())))
    spark.stop()
    (log_file,) = [os.path.join(event_dir, f) for f in os.listdir(event_dir)]
    groups = eventlog.parse_file(log_file)
    for gid, p in sorted(groups.items()):
        log(f"group {gid!r}: jobs={p.jobs} stages={p.stages} tasks={p.tasks} "
            f"failed={p.failed_tasks} run={p.executor_run_s:.2f}s cpu={p.executor_cpu_s:.2f}s "
            f"shuffle_w={p.shuffle_write_mb:.1f}MB shuffle_r={p.shuffle_read_mb:.1f}MB "
            f"spill={p.spill_mb:.1f}MB peak={p.peak_exec_mem_mb:.1f}MB wall={p.jobs_wall_s:.2f}s")
    metrics = trace_metrics(groups, op_wall, cores)
    metrics["trace.op_p50_s"] = median(op_wall)
    metrics.update(workload.layer_metrics(layers))
    return {"metrics": metrics, "ok": oks, "attempted": n_iter + 1}


def run(workload_cls, seed: int, seconds: int, trace: bool, work: str, t_start: float) -> dict:
    cores = len(os.sched_getaffinity(0))
    t = time.perf_counter()
    spark = start_session(work, cores)
    session_start_s = time.perf_counter() - t
    workload = workload_cls(spark, work, seed, cores)
    t = time.perf_counter()
    workload.build()
    fixture_build_s = time.perf_counter() - t
    log(f"session {session_start_s:.2f}s, fixtures {fixture_build_s:.2f}s")
    # The expected output is known before the first op, so every op,
    # warm-up included, is checked against it.
    verified = workload.verify_once()
    spans = Spans()
    warm_up(workload, spans)
    stats = ProcessStats(spark)
    setup_s = time.perf_counter() - t_start
    # Memory peaks cover the timed phase only, not fixtures or warm-up.
    stats.reset_peaks()
    log("RSS at the start of the timed phase: jvm %.0f MB, driver %.0f MB" % stats.peaks_mb())
    # A traced run reports no end-to-end metrics; its short untraced
    # block is the reference for the tracing overhead.
    n_ops = (
        workload.trace_iterations if trace
        else max(workload.min_ops, round(seconds / workload.nominal_op_s))
    )
    phase = timed_phase(workload, spans, n_ops, stats)
    jvm_peak_mb, driver_peak_mb = stats.peaks_mb()
    attempted, ok = n_ops, phase["ok"] if verified else 0
    if trace:
        traced = traced_phase(workload, work, cores)
        attempted += traced["attempted"]
        ok += traced["ok"]
        metrics = {name: 0.0 for name in PER_LAYER}
        metrics.update({
            "session.start_s": session_start_s,
            "fixture.build_s": fixture_build_s,
            "jvm.jit_compile_s": phase["jit_s"],
            "jvm.gc_s": phase["gc_s"],
            "mem.jvm_peak_mb": jvm_peak_mb,
            "mem.driver_peak_mb": driver_peak_mb,
        })
        metrics.update(traced["metrics"])
        metrics.update({
            "op.p50_s": median(phase["times"]),
            "op.run_s": phase["run_s"],
            "op.cpu_s": phase["op_cpu_s"],
            "anchor.duckdb_p50_s": phase["anchor_p50_s"],
        })
        metrics["trace.overhead_frac"] = metrics["trace.op_p50_s"] / metrics["op.p50_s"] - 1
        units = PER_LAYER
    else:
        workload.spark.stop()
        metrics = {
            "setup_s": setup_s,
            "op_p50_vs_duckdb": phase["op_p50_vs_duckdb"],
            "run_vs_duckdb": phase["run_vs_duckdb"],
            "cpu_vs_duckdb": phase["cpu_vs_duckdb"],
            "peak_rss_mb": jvm_peak_mb + driver_peak_mb,
            "ok_frac": ok / attempted,
        }
        units = END_TO_END
    workload.duckdb.close()
    unknown = set(metrics) - set(units)
    if unknown:
        raise RuntimeError(f"unreported metric names: {sorted(unknown)}")
    return {
        "correct": verified and ok == attempted,
        "attempted": attempted,
        "failed": attempted - ok,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }
