"""Shared pieces of the benchmark: environment, the engine's session
across set-up rounds, host probes and result formatting."""

from __future__ import annotations

import os
import resource
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = len(os.sched_getaffinity(0))
#: Set-up rounds per run; ``setup_s`` is their median. The first round
#: after the JVM launch runs cold, so the median is taken over warm ones.
SETUP_ROUNDS = 3


def per_layer_metrics() -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric in BENCHMARK.json."""
    import json

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return [(m["name"], m["unit"]) for m in json.load(fh)["per_layer"]]


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests since boot, summed
    over all CPUs (``/proc/stat``). Between the two canaries it tells a
    slow run on a busy host from a slow program."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


class CheckUnavailable(RuntimeError):
    """A correctness reference could not be computed: no result."""


def prepare_env(work: str) -> None:
    """Keep every file the engine, Spark and Python workers write under
    ``work`` and make the repository importable in Python workers (the
    ``filelog`` source is unpickled there)."""
    for sub in ("tmp", "local", "warehouse", "events"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    env = os.environ
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH", "")) if p
    )
    env["TMPDIR"] = os.path.join(work, "tmp")
    env["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "local")
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    env["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    env["SPARK_GRAFT_DRIVER_MEM"] = "3g"
    env["SPARK_GRAFT_CPUS"] = str(CPUS)
    env.setdefault("PYSPARK_PYTHON", sys.executable)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


class Engine:
    """The engine's SparkSession across set-up rounds, plus the host
    probes every result carries."""

    def __init__(self, work: str, trace: bool, tracer):
        self.work = work
        self.trace = trace
        self.tracer = tracer
        self.spark = None
        self.setup_rounds: list[float] = []
        self.session_starts: list[float] = []
        self.canary_s: list[float] = []
        self.steal_at: list[float] = []
        self.peak_rss_mb_at_stop = 0.0

    def _conf(self) -> dict[str, str]:
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": "-Djava.io.tmpdir="
            + os.path.join(self.work, "tmp"),
        }
        if self.trace:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": os.path.join(self.work, "events"),
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        return conf

    def start(self, prepare, inputs=None):
        """JVM launch, then ``SETUP_ROUNDS`` set-up rounds: each stops
        the session, builds it again through ``session.get_spark`` and
        runs the workload's ``prepare(spark)``. The last round's
        session is the one measured. ``inputs()`` (the workload's input
        generation) runs in a thread during the launch; its result is
        returned."""
        from concurrent.futures import ThreadPoolExecutor

        from bigdata_kafka_2_spark import get_spark

        with ThreadPoolExecutor(1) as pool:
            made = pool.submit(inputs) if inputs is not None else None
            t0 = time.perf_counter()
            self.spark = get_spark("perfbench", extra_conf=self._conf())
            self.launch_s = time.perf_counter() - t0
            self.spark.sparkContext.setLogLevel("ERROR")
            result = made.result() if made is not None else None
        for _ in range(SETUP_ROUNDS):
            t0 = time.perf_counter()
            self.spark.stop()
            self.spark = get_spark("perfbench", extra_conf=self._conf())
            self.spark.sparkContext.setLogLevel("ERROR")
            t1 = time.perf_counter()
            prepare(self.spark)
            self.session_starts.append(t1 - t0)
            self.setup_rounds.append(time.perf_counter() - t0)
        if self.trace:
            self.tracer.spark = self.spark
        return result

    def canary(self) -> None:
        """bench.py's host canary: a fixed range → groupBy → noop plan.
        Workloads time it after their warm-up, before and after the
        measured window."""
        from pyspark.sql import functions as F

        t0 = time.perf_counter()
        (
            self.spark.range(20_000_000)
            .groupBy((F.col("id") % 1000).alias("k"))
            .count()
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        self.canary_s.append(round(time.perf_counter() - t0, 4))
        self.steal_at.append(steal_s())

    def jvm_pid(self) -> int | None:
        proc = getattr(self.spark.sparkContext._gateway, "proc", None)
        return proc.pid if proc is not None else None

    def peak_rss_mb(self) -> float:
        """Peak resident memory of the driver JVM plus this process."""
        jvm_kb = 0
        pid = self.jvm_pid()
        if pid is not None:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        jvm_kb = int(line.split()[1])
        own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (jvm_kb + own_kb) / 1024.0

    def host(self) -> dict:
        import platform

        import pyspark

        sc = self.spark.sparkContext
        return {
            "nproc": CPUS,
            "defaultParallelism": sc.defaultParallelism,
            "spark.master": sc.master,
            "spark_version": pyspark.__version__,
            "python_version": platform.python_version(),
            "canary_s": self.canary_s,
            "steal_s": round(self.steal_at[-1] - self.steal_at[0], 2),
        }

    def stop(self) -> None:
        """Stop the session and wait for the driver JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.peak_rss_mb_at_stop = self.peak_rss_mb()
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def pins_snapshot(spark) -> tuple[int, int]:
    """(persisted RDDs, their cached bytes in memory and on disk)."""
    sc = spark.sparkContext
    n = sc._jsc.getPersistentRDDs().size()
    size = sum(i.memSize() + i.diskSize() for i in sc._jsc.sc().getRDDStorageInfo())
    return n, size


def release_pins(spark) -> None:
    spark.catalog.clearCache()
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    for key in list(rdds.keySet()):
        rdds.get(key).unpersist(True)


def quantile(values, q: float) -> float:
    """The q-quantile (0<q<1) by linear interpolation between order
    statistics (``statistics.quantiles(method="inclusive")``)."""
    vals = sorted(values)
    if len(vals) == 1:
        return float(vals[0])
    cuts = statistics.quantiles(vals, n=100, method="inclusive")
    return float(cuts[round(q * 100) - 1])


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def layer_base(engine, tracer, groups, t_start: float, t_end: float,
               warm_up_s: float) -> dict:
    """Per-layer figures every workload reports: session start, the
    warm-up, the traced wall and each layer's self time over it (the
    part no span covers is the residual), and the Spark totals of every
    job the measured spans launched."""
    from spans import stats_for

    wall = t_end - t_start
    self_s = tracer.self_times(t_start, t_end)
    out = {}
    top = [s for s in tracer.spans if s.parent is None and t_start <= s.start <= t_end]
    st = stats_for(groups, tracer, top)
    out.update(
        {
            "spark.jobs": st.jobs,
            "spark.stages": st.stages,
            "spark.tasks": st.tasks,
            "spark.stage_span_s": st.stage_union_s,
            "spark.executor_run_s": st.sums.get("executor_run_ms", 0) / 1000.0,
            "spark.shuffle_read_bytes": st.sums.get("shuffle_read_bytes", 0),
            "spark.shuffle_write_bytes": st.sums.get("shuffle_write_bytes", 0),
            "spark.spill_bytes": st.sums.get("spill_bytes", 0),
            "arrow.bytes_to_python": st.sums.get("arrow_to_python_bytes", 0),
            "arrow.bytes_from_python": st.sums.get("arrow_from_python_bytes", 0),
        }
    )
    out["session.start_s"] = quantile(engine.session_starts, 0.5)
    out["session.launch_s"] = engine.launch_s
    out["setup.warm_up_s"] = warm_up_s
    out["host.peak_rss_mb"] = engine.peak_rss_mb_at_stop
    out["trace.wall_s"] = wall
    for layer, v in self_s.items():
        out[f"self.{layer}_s"] = v
    out["self.residual_s"] = wall - sum(self_s.values())
    return out
