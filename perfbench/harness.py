"""The closed loop: set up a workload, run ops until the time is up,
check every op, and turn the samples into metrics.

Untraced runs (``trace=False``) make exactly the calls a user would and
report the end-to-end metrics. Traced runs add spans, per-op status-store
reads between ops, and isolated single-layer calls after the loop, and
report the per-layer metrics.
"""

from __future__ import annotations

import os
import subprocess
import threading
import time
import traceback
from dataclasses import dataclass
from typing import Any

from spans import SparkStats, Tracer
from workloads import WORKLOADS, WrongOutput, median

SETUP_REPS = 5   # setup_s is the median of this many set-ups in one run

END_TO_END_UNITS = {
    "setup_s": "s",
    "op_s_p50": "s",
    "rows_per_s": "1/s",
    "cold_op_ratio": "ratio",
    "peak_rss_mb": "MB",
}

SPARK_COUNTERS = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.jvm_gc_s": "s", "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB", "spark.spill_mb": "MB",
    "spark.input_mb": "MB", "spark.input_records": "count",
    "spark.core_util": "ratio", "driver.gap_s": "s",
    "sql.scan_time_s": "s", "sql.broadcast_collect_s": "s",
    "sql.broadcast_build_s": "s", "sql.python_bytes_sent_mb": "MB",
    "sql.python_bytes_returned_mb": "MB", "cache.stored_mb": "MB",
}

# Every per-layer metric, on every workload: a layer the workload does not
# load reads 0.
PER_LAYER_UNITS = {
    "stats.token_id_histogram_s": "s",
    "stats.token_id_histogram_arrow_s": "s",
    "stats.column_stats_s": "s",
    "checks.consistency_violations_s": "s",
    "checks.duplicate_rows_s": "s",
    "checks.referential_violations_s": "s",
    "checks.drift_from_histogram_s": "s",
    "verdicts.validate_corpus_s": "s",
    "verdicts.finalise_summary_s": "s",
    "verdicts.overlap_ratio": "ratio",
    "checkpoint.partition_fingerprints_s": "s",
    "checkpoint.manifest_io_s": "s",
    "jobs.outputs_write_s": "s",
    "resume.rows_read_per_row_revalidated": "ratio",
    "resume.revalidated_sources": "count",
    "infer.distinct_s": "s",
    "infer.repeated_s": "s",
    "normalise.distinct_s": "s",
    "normalise.repeated_s": "s",
    **{f"curate.{s}_s": "s" for s in (
        "input", "exact_dedup", "near_dedup", "semantic_dedup",
        "semantic_decontaminated", "decontaminated", "quality", "chunks")},
    "dedup.minhash_candidates_s": "s",
    "dedup.near_dup_clusters_s": "s",
    "similarity.semantic_dedup_s": "s",
    "similarity.semantic_decontaminate_s": "s",
    "decontaminate.contaminated_docs_s": "s",
    **SPARK_COUNTERS,
    "leaked_rdds_per_op": "count",
    "failed_op_ratio": "ratio",
    "traced.op_s_p50": "s",
}

# per-layer metrics that always describe the workload itself, never a probe
OWN_METRICS = {*SPARK_COUNTERS, "leaked_rdds_per_op", "failed_op_ratio",
               "traced.op_s_p50"}


# --------------------------------------------------------------------------
# host noise and memory
# --------------------------------------------------------------------------

def calibration_kernel() -> float:
    """Fixed single-threaded CPU workload (~0.5 s on an idle core), the
    same loop as the repository's suite bench uses for its calibration."""
    import numpy as np

    x = np.arange(1_500_000, dtype=np.float64)
    for _ in range(40):
        x = np.sqrt(x * 1.0001 + 1.0)
    return float(x[0])


def host_noise() -> dict[str, float]:
    """Recorded next to every run; never used to scale a metric."""
    t = time.perf_counter()
    calibration_kernel()
    calib = time.perf_counter() - t
    with open("/proc/loadavg") as f:
        load1, load5, load15 = (float(v) for v in f.read().split()[:3])
    return {"calibration_single_core_s": calib, "loadavg_1m": load1,
            "loadavg_5m": load5, "loadavg_15m": load15}


def _proc_tree_rss_kb(root: int) -> int:
    """RSS of ``root`` plus all its descendants (the JVM and the Python
    workers it forks), from /proc."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
            with open(f"/proc/{entry}/statm") as f:
                pages = int(f.read().split()[1])
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        pid = int(entry)
        children.setdefault(ppid, []).append(pid)
        rss[pid] = pages * (os.sysconf("SC_PAGE_SIZE") // 1024)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(children.get(pid, []))
    return total


class RssSampler:
    """Background sampler of the JVM tree's RSS between ``start_op`` and
    ``end_op``, which returns the op's peak in MB."""

    def __init__(self, pid: int, interval: float = 0.2) -> None:
        self.pid = pid
        self.interval = interval
        self.active = threading.Event()
        self._peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.is_set():
            if self.active.wait(self.interval):
                self._sample()
                self._stop.wait(self.interval)

    def _sample(self) -> None:
        self._peak_kb = max(self._peak_kb, _proc_tree_rss_kb(self.pid))

    def start_op(self) -> None:
        self._peak_kb = 0
        self._sample()
        self.active.set()

    def end_op(self) -> float:
        self.active.clear()
        self._sample()
        return self._peak_kb / 1024.0

    def close(self) -> None:
        self._stop.set()
        self.active.set()
        self._thread.join(timeout=5)


# --------------------------------------------------------------------------
# Spark session
# --------------------------------------------------------------------------

def prepare_environment(checkout: str, run_dir: str) -> None:
    """Point Spark, the JVM and Python's tempfile at ``run_dir`` and make
    the checkout's package importable in the Python workers the JVM forks
    (they inherit this process's environment, not its ``sys.path``)."""
    import tempfile

    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (checkout, os.environ.get("PYTHONPATH")) if p)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "SPARK_GRAFT_CONSOLE_PROGRESS": "false",
        "SPARK_DRIVER_MEMORY": "3g",
        # a fixed number of glibc malloc arenas, so the JVM's native memory
        # does not depend on how many threads happened to allocate at once
        "MALLOC_ARENA_MAX": "2",
        # the small JVM spark-submit runs to build the driver command
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    })
    tempfile.tempdir = tmp


def start_spark(root: str):
    """A local[4] session whose scratch files all stay under ``root``.

    The driver JVM runs the serial collector from a fixed 256 MB initial
    heap: its heap then grows only when the live data needs it. G1 (the
    default) grows the heap when collections take a large share of wall
    time, so its RSS followed the host's CPU speed and differed by
    hundreds of MB between runs of the same code."""
    from polars_genson_spark.session import get_spark

    tmp = os.path.join(root, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return get_spark(
        app_name="perfbench",
        master="local[4]",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(root, "warehouse"),
            "spark.local.dir": os.path.join(root, "spark-local"),
            "spark.driver.extraJavaOptions":
                (f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
                 "-XX:-UsePerfData -XX:+UseSerialGC -Xms256m"),
        },
    )


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it started) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


# --------------------------------------------------------------------------
# the closed loop
# --------------------------------------------------------------------------

@dataclass
class Loop:
    """Samples of one closed loop."""

    setup_s: list[float]
    op_s: dict[int, float]          # successful ops only; op 0 is cold
    rss_mb: dict[int, float]        # peak RSS of each successful op
    attempted: int
    failed: int
    errors: list[str]
    leaks: list[int]
    spark: list[dict[str, float]]   # traced: status-store counters per warm op
    layers: dict[str, list[float]]  # traced: Workload.op_layers per warm op

    @property
    def warm(self) -> list[float]:
        return [t for i, t in self.op_s.items() if i > 0]

    @property
    def warm_rss_mb(self) -> list[float]:
        return [m for i, m in self.rss_mb.items() if i > 0]


def closed_loop(spark, wl, seconds, tracer, stats, sampler, setup_reps,
                warm_ops, plant_wrong=False) -> Loop:
    """Set up ``setup_reps`` times, then run ops one after another until
    ``seconds`` have passed since the first op and ``warm_ops`` ops after
    the cold one succeeded. Every op's output is checked; after each
    op the harness releases what it owns and counts the persistent RDDs
    the op left behind."""
    setup_s = []
    for rep in range(setup_reps):
        if rep:
            wl.reset()
        t = time.perf_counter()
        wl.setup()
        setup_s.append(time.perf_counter() - t)
    wl.prepare_expected()
    if plant_wrong:
        wl.plant_wrong_expected()

    lp = Loop(setup_s, {}, {}, 0, 0, [], [], [], {})
    start = time.perf_counter()
    while (time.perf_counter() - start < seconds
           or len(lp.op_s) - (0 in lp.op_s) < warm_ops):
        i = lp.attempted
        wl.before_op(i)
        base = persistent_rdds(spark)
        if stats:
            stats.mark()
        tracer.op = i
        result, err = None, None
        sampler.start_op()
        wall0 = time.time() * 1e3
        t0 = time.perf_counter()
        try:
            with tracer.span("op"):
                result = wl.op(i)
        except Exception:
            err = traceback.format_exc(limit=3)
        dt = time.perf_counter() - t0
        wall1 = time.time() * 1e3
        rss_mb = sampler.end_op()
        tracer.op = None
        lp.attempted += 1
        if err is None:
            try:
                wl.check(i, result)
            except WrongOutput as e:
                err = f"wrong output: {e}"
        if err is None:
            lp.op_s[i] = dt
            lp.rss_mb[i] = rss_mb
            if stats and i > 0:
                sm = stats.collect(wall0, wall1)
                lp.spark.append(sm)
                for k, v in wl.op_layers(result, sm).items():
                    lp.layers.setdefault(k, []).append(v)
        else:
            lp.failed += 1
            lp.errors.append(f"{wl.name} op {i}: {err}")
            if lp.failed >= 3:
                break  # the run is wrong already; stop burning the budget
        if result is not None:
            wl.release(result)
        lp.leaks.append(persistent_rdds(spark) - base)
    return lp


def run_workload(
    spark, name: str, seed: int, seconds: float, trace: bool, sizes,
    workdir: str, plant_wrong: bool = False,
) -> dict[str, Any]:
    """Run one workload and return its report: ``correct``, ``attempted``,
    ``failed``, ``metrics`` ({name: {value, unit}}) and ``detail``."""
    tracer = Tracer(trace)
    sampler = RssSampler(jvm_pid())
    wl = WORKLOADS[name](spark, seed, sizes, workdir, tracer)
    stats = SparkStats(spark) if trace else None
    try:
        lp = closed_loop(spark, wl, seconds, tracer, stats, sampler,
                         SETUP_REPS, wl.warm_ops, plant_wrong)
        # the same op positions in every run: warm-up still speeds ops up
        # after the cold one, so a longer run would lower the median
        op_p50 = median(lp.warm[:wl.warm_ops])
        detail = {
            "ops": lp.attempted,
            "warm_ops": len(lp.warm[:wl.warm_ops]),
            "op_s": list(lp.op_s.values()),
            "cold_op_s": lp.op_s.get(0, 0.0),
            "op_peak_rss_mb": list(lp.rss_mb.values()),
            "setup_s_samples": lp.setup_s,
            "failed_op_ratio": lp.failed / lp.attempted,
            "leaked_rdds_per_op": sum(lp.leaks) / len(lp.leaks),
            "errors": lp.errors[:5],
        }
        attempted, failed = lp.attempted, lp.failed
        if trace:
            metrics = layer_metrics(wl, tracer, lp)
            metrics["traced.op_s_p50"] = op_p50
            detail["spans"] = tracer.export()
            detail["spark_per_op"] = lp.spark
            for probe_cls in wl.probes:
                pm, plp, ptracer = run_probe(spark, probe_cls, seed, sizes,
                                             workdir, sampler, plant_wrong)
                for k, v in pm.items():  # layers the main workload bypasses
                    if k not in OWN_METRICS and not metrics[k]:
                        metrics[k] = v
                attempted += plp.attempted
                failed += plp.failed
                detail["errors"] += plp.errors[:5]
                detail[f"probe.{probe_cls.name}"] = {
                    "ops": plp.attempted, "op_s": list(plp.op_s.values()),
                    "leaked_rdds_per_op": pm["leaked_rdds_per_op"],
                    "setup_s": plp.setup_s, "spans": ptracer.export(),
                    "spark_per_op": plp.spark,
                }
            units = PER_LAYER_UNITS
        else:
            metrics = {
                "setup_s": median(lp.setup_s),
                "op_s_p50": op_p50,
                "rows_per_s": wl.rows_per_op / op_p50 if op_p50 else 0.0,
                # the first op over a warm one: a one-shot job's start-up
                # penalty. Both ops run at the same host speed, which a
                # single cold op in seconds follows too closely to gate on.
                "cold_op_ratio": lp.op_s.get(0, 0.0) / op_p50 if op_p50 else 0.0,
                "peak_rss_mb": median(lp.warm_rss_mb[:wl.warm_ops]),
            }
            units = END_TO_END_UNITS
    finally:
        tracer.close()
        sampler.close()
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        "detail": detail,
    }


def run_probe(spark, probe_cls, seed, sizes, workdir, sampler, plant_wrong):
    """A traced run's short closed loop over another job shape (one set-up,
    a cold op and ``probe_cls.probe_warm_ops`` warm ops), so that layers
    the main workload bypasses still get per-layer numbers."""
    tracer = Tracer(True)
    wl = probe_cls(spark, seed, sizes, workdir, tracer)
    try:
        lp = closed_loop(spark, wl, 0, tracer, SparkStats(spark), sampler, 1,
                         probe_cls.probe_warm_ops, plant_wrong)
        return layer_metrics(wl, tracer, lp), lp, tracer
    finally:
        tracer.close()
        wl.reset()


def layer_metrics(wl, tracer, lp: Loop) -> dict[str, float]:
    out = dict.fromkeys(PER_LAYER_UNITS, 0.0)
    for key in SPARK_COUNTERS:
        out[key] = median([s[key] for s in lp.spark])
    for name in {s["name"] for s in tracer.spans}:
        if f"{name}_s" in out:
            out[f"{name}_s"] = median(tracer.op_seconds(name))
    for key, vals in lp.layers.items():
        out[key] = median(vals)
    out.update(wl.isolated_layers())
    out["leaked_rdds_per_op"] = sum(lp.leaks) / len(lp.leaks)
    out["failed_op_ratio"] = lp.failed / lp.attempted
    return out
