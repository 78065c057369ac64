"""Run isolation, the Spark session's lifetime, op accounting, metrics.

Each run works in a fresh directory inside the checkout, removed at exit
(also on failure).  Spark's local dirs, the JVM's and Python's temp dirs and
the SQL warehouse all point into it, so nothing is read from or left in
``/tmp`` and no run sees another run's files.
"""

from __future__ import annotations

import importlib
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass, field

import numpy as np

from perfbench import procfs
from perfbench.trace import COUNTERS, Tracer

# local[nproc], capped so that a large host keeps the run's memory small
CORES = min(len(os.sched_getaffinity(0)), 4)

END_TO_END = {
    "setup_s": "s",
    "mem_mb": "MB",
    "throughput_per_s": "1/s",
    "latency_s_p50": "s",
    "slow_op_s": "s",
}

# Every traced run prints all of these; a layer a workload does not reach
# reads 0 there (the "predict flat" column of the README's table).
PER_LAYER = {
    "session.start_s": "s",
    "sources.materialize_s": "s",
    "sources.scan_s": "s",
    "index_build.build_s": "s",
    "index_build.bytes_per_row": "B",
    "index_build.relation_s": "s",
    "index_build.relation_jobs": "count",
    "range_query.plan_s": "s",
    "range_query.exec_s": "s",
    "range_query.exec_jobs": "count",
    "plans.files_planned": "count",
    "plans.rows_scanned_per_returned": "1",
    "knn.plan_s": "s",
    "knn.exec_s": "s",
    "knn.jobs": "count",
    "mutations.insert_s": "s",
    "mutations.delete_s": "s",
    "mutations.compact_s": "s",
    "mutations.jobs": "count",
    "plans.fs.files_per_bucket_max": "count",
    "plans.fs.bytes_per_live_row": "B",
    "spatial_join.pip_s": "s",
    "spatial_join.pip_rows": "count",
    "tiling.assign_s": "s",
    "tiling.reencode_s": "s",
    "tiling.codec_calls_per_image": "1",
    "tiling.bytes_out_per_in": "1",
    "pipeline.agg_s": "s",
    "spatial_join.self_join_plan_s": "s",
    "spatial_join.self_join_exec_s": "s",
    "spatial_join.self_join_pairs": "count",
    "knn.join_plan_s": "s",
    "knn.join_exec_s": "s",
    "knn.join_jobs": "count",
    "memory.pss_peak_mb": "MB",
    "memory.jvm_heap_live_mb": "MB",
    **{f"spark.{c}": ("B" if c.endswith("bytes") else "s" if c.endswith("_s")
                      else "count") for c in COUNTERS},
    "trace.overhead_s": "s",
    "trace.accounted_share": "1",
    "drift.last_over_first": "1",
}


def p50(values) -> float:
    return float(statistics.median(values)) if values else 0.0


@dataclass
class Ops:
    """Attempted and failed ops, and the latency of each finished op."""

    attempted: int = 0
    failed: int = 0
    latency: dict[str, list[float]] = field(default_factory=dict)
    order: list[tuple[str, float]] = field(default_factory=list)

    def record(self, kind: str, seconds: float | None, ok: bool) -> None:
        self.attempted += 1
        self.failed += not ok
        if seconds is not None:
            self.latency.setdefault(kind, []).append(seconds)
            self.order.append((kind, seconds))


@dataclass
class Outcome:
    """What a workload measured; the harness adds session and memory."""

    setup_s: float  # inputs, index build, warm-up ops: after the session
    throughput_per_s: float
    latency_s_p50: float
    slow_op_s: float
    layers: dict = field(default_factory=dict)
    # later over earlier latency of like ops within the run; see each
    # workload for what is compared
    drift: list[float] = field(default_factory=list)


@dataclass
class Context:
    spark: object
    conf: object
    work: str
    seed: int
    seconds: float
    tracer: Tracer
    t_start: float = 0.0
    ops: Ops = field(default_factory=Ops)
    _dirs: int = 0

    def log(self, msg: str) -> None:
        _log(self.t_start, msg)

    @property
    def trace(self) -> bool:
        return self.tracer.enabled

    def rng(self, stream: str) -> np.random.Generator:
        """The run's seeded random stream named ``stream`` (independent of
        every other name)."""
        return np.random.default_rng(
            [self.seed, int.from_bytes(stream.encode(), "little")]
        )

    def fresh_dir(self, name: str) -> str:
        self._dirs += 1
        return os.path.join(self.work, f"{name}-{self._dirs}")

    def attempt(self, kind: str, op, check):
        """Run ``op`` timed, then ``check(result)`` untimed; record both.

        Returns ``(result, seconds)``, or ``(None, None)`` if ``op``
        raised.  The span counters of a traced op are read here too, after
        the timer stopped."""
        t0 = time.perf_counter()
        try:
            out = op()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.ops.record(kind, None, False)
            return None, None
        dt = time.perf_counter() - t0
        try:
            ok = bool(check(out))
        except Exception:
            traceback.print_exc(file=sys.stderr)
            ok = False
        if not ok:
            print(f"perfbench: {kind} op returned a wrong result", file=sys.stderr)
        self.ops.record(kind, dt, ok)
        self.tracer.collect_counters()
        return out, dt

    def twin(self, kind: str, op, traced, check, i: int):
        """A traced run's op: ``op`` as ``kind`` and ``traced`` (the same op
        split into spans) as ``traced_<kind>``, each checked.  Odd ``i`` runs
        the traced one first, so that neither always finds caches warm.
        Returns (seconds of ``op``, result of ``traced``), or Nones if
        either raised."""
        runs = [
            (kind, op, check),
            (f"traced_{kind}", traced, lambda o: check(o[0])),
        ]
        got = {k: self.attempt(k, f, c) for k, f, c in runs[:: -1 if i % 2 else 1]}
        seconds, out = got[kind][1], got[f"traced_{kind}"][0]
        return (None, None) if seconds is None or out is None else (seconds, out)


def closed_loop(seconds: float, step, at_least: int = 1) -> float:
    """Call ``step(i)`` back to back until ``seconds`` have passed and
    ``at_least`` steps have run; the step in flight finishes.  Returns the
    elapsed time."""
    t0 = time.perf_counter()
    i = 0
    while True:
        step(i)
        i += 1
        elapsed = time.perf_counter() - t0
        if elapsed >= seconds and i >= at_least:
            return elapsed


def last_over_first(latency: dict[str, list[float]]) -> list[float]:
    """Per op kind, its last latency over its first; state that builds up
    over a run shows as > 1.  A kind that ran once gives no ratio."""
    return [v[-1] / v[0] for v in latency.values() if len(v) > 1]


def jvm_in_use(sc) -> tuple[int, int]:
    """(heap, non-heap) bytes the JVM holds after a full garbage collection:
    its live objects, and its metaspace and code cache."""
    jvm = sc._jvm
    jvm.java.lang.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return (mx.getHeapMemoryUsage().getUsed(),
            mx.getNonHeapMemoryUsage().getUsed())


def dir_stats(path: str) -> tuple[int, int]:
    """(largest parquet file count in one ``bucket=`` directory, total
    parquet bytes) of an index data directory."""
    most, total = 0, 0
    for d, _, files in os.walk(path):
        pq = [f for f in files if f.endswith(".parquet")]
        total += sum(os.path.getsize(os.path.join(d, f)) for f in pq)
        if os.path.basename(d).startswith("bucket="):
            most = max(most, len(pq))
    return most, total


# ------------------------------------------------------------- session ----


def _isolate(root: str, work: str) -> dict:
    """Environment and Spark settings that keep a run inside ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d)
    # Python workers import the engine: they need the checkout on their
    # path wherever the run was started from.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # no /tmp/hsperfdata_* from the launcher JVM or the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # the heap stays the engine's own setting (session.get_spark)
    return {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }


def _stop_spark(spark) -> None:
    """Stop Spark, then the JVM, then any Python worker left behind, and
    wait until each has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = procfs.descendants(os.getpid())
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    for pid in procfs.wait_gone(workers, timeout=20):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    procfs.wait_gone(workers, timeout=20)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _log(t_start: float, msg: str) -> None:
    print(f"perfbench: {time.perf_counter() - t_start:7.2f}s {msg}", file=sys.stderr)


def run(name: str, seed: int, seconds: float, trace: bool, root: str,
        t_start: float) -> dict:
    """One run of workload ``name``; returns the result object to print."""
    from libspatialindex_spark.config import EngineConfig
    from libspatialindex_spark.session import get_spark

    workload = importlib.import_module(f"perfbench.{name}").run

    base = os.path.join(root, ".perfbench_work")
    work = os.path.join(base, f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(work)
    try:
        with procfs.PeakMemory() as mem:
            spark = get_spark(
                "perfbench", cores=CORES, shuffle_partitions=CORES,
                extra=_isolate(root, work),
            )
            try:
                session_s = time.perf_counter() - t_start
                _log(t_start, "session started")
                tracer = Tracer(spark.sparkContext, trace)
                ctx = Context(
                    spark=spark, conf=EngineConfig(target_partitions=CORES),
                    work=work, seed=seed, seconds=seconds, tracer=tracer,
                    t_start=t_start,
                )
                out = workload(ctx)
                heap, nonheap = jvm_in_use(spark.sparkContext)
                _log(t_start, "workload done")
                if trace:
                    os.makedirs(os.path.join(base, "traces"), exist_ok=True)
                    tracer.dump(os.path.join(
                        base, "traces", f"{name}-seed{seed}.jsonl"
                    ))
            finally:
                _stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    _log(t_start, "spark stopped, work dir removed")

    if trace:
        layers = dict.fromkeys(PER_LAYER, 0.0)
        layers.update(out.layers)
        layers["session.start_s"] = session_s
        layers["drift.last_over_first"] = p50(out.drift)
        layers["memory.pss_peak_mb"] = mem.peak / 2**20
        layers["memory.jvm_heap_live_mb"] = heap / 2**20
        metrics = {k: {"value": float(layers[k]), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        values = {
            "setup_s": session_s + out.setup_s,
            "mem_mb": (mem.peak_without_jvm + heap + nonheap) / 2**20,
            "throughput_per_s": out.throughput_per_s,
            "latency_s_p50": out.latency_s_p50,
            "slow_op_s": out.slow_op_s,
        }
        metrics = {k: {"value": float(values[k]), "unit": u}
                   for k, u in END_TO_END.items()}
    print(
        "perfbench: peak memory by process (PSS, MB) "
        f"{[(c, round(b / 2**20)) for c, b in mem.at_peak]}; JVM after GC: "
        f"heap {heap / 2**20:.1f} MB, non-heap {nonheap / 2**20:.1f} MB",
        file=sys.stderr,
    )
    print(
        f"perfbench: ops {ctx.ops.order}; drift {out.drift}",
        file=sys.stderr,
    )
    return {
        "correct": ctx.ops.failed == 0,
        "attempted": ctx.ops.attempted,
        "failed": ctx.ops.failed,
        "metrics": metrics,
    }
