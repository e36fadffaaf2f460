"""SparkSession factory.

The reference builds bare ``local[*]`` sessions with no tuning
(``spark_model_trainer.py:178``, ``api.py:55-58``) and even disables
whole-stage codegen for single-row inference (``api.py:58``). The new
engine keeps codegen ON and configures the session for analytic work:

- AQE on (runtime shuffle-partition coalescing, join-strategy switching,
  skew-join splitting) — the scale path for 100 TB inputs where static
  planning misjudges cardinalities.
- ``spark.sql.shuffle.partitions`` sized to the local core count; on a
  real cluster this would be ~2-3x total executor cores and AQE coalesces
  down from there.
- UTC session timezone so timestamp semantics match the DuckDB oracle.
- Arrow enabled for any pandas interchange (Pandas UDFs, toPandas).
- Driver heap (``spark.driver.memory``) sized to the host: a quarter of
  its memory, never above 48g. The quarter is HotSpot's own
  ``MaxRAMPercentage`` default, the heap a JVM takes when launched with
  no ``-Xmx``; the host's memory is physical RAM lowered to the cgroup
  limit where one is set. A fixed 48g on a host with less RAM than that
  lets G1 grow the heap past physical memory until the kernel kills the
  JVM. Hosts with at least 192 GiB keep 48g; where the memory cannot be
  read, 48g stays. ``$SPARK_GRAFT_DRIVER_MEM`` overrides, used verbatim.
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Iterable

from pyspark.sql import SparkSession


#: Minimum free tmpfs space before shuffle scratch prefers RAM over disk.
#: tmpfs is typically capped at half of RAM; an unexpectedly large spill
#: (e.g. the 10x scale probe) must degrade to disk, not fail ENOSPC.
_SHM_MIN_FREE_BYTES = 16 << 30


#: Ceiling of the default driver heap, sized for a 32-core bench host.
_DRIVER_MEM_CAP_BYTES = 48 << 30


def host_memory_bytes(
    ram: int | None, cgroup_limits: Iterable[str | None] = ()
) -> int | None:
    """The host's memory: ``ram`` lowered to the smallest cgroup limit.

    ``cgroup_limits`` are the raw contents of limit files; ``max`` (v2
    "no limit"), unreadable (``None``) or unparseable ones are ignored,
    and v1's "no limit" (a value near 2**63) never lowers RAM. ``None``
    when no figure is known.
    """
    known = [ram] if ram and ram > 0 else []
    for text in cgroup_limits:
        try:
            limit = int((text or "").strip())
        except ValueError:
            continue
        if limit > 0:
            known.append(limit)
    return min(known) if known else None


def default_driver_memory(host_bytes: int | None) -> str:
    """``spark.driver.memory`` for a host with ``host_bytes`` of memory:
    a quarter of it (HotSpot's ``MaxRAMPercentage`` default) in whole
    MiB, capped at 48g; 48g when the memory is unknown."""
    if not host_bytes:
        return f"{_DRIVER_MEM_CAP_BYTES >> 30}g"
    return f"{min(_DRIVER_MEM_CAP_BYTES, host_bytes // 4) >> 20}m"


def _cgroup_limit_files() -> list[str]:
    """Memory-limit files that bound this process: v2 ``memory.max`` and
    v1 ``memory.limit_in_bytes``, at the mount root (the process's own
    cgroup inside a container's cgroup namespace) and at the path
    ``/proc/self/cgroup`` names. Limits of enclosing cgroups also bind,
    so the smallest readable one is the ceiling."""
    files = [
        "/sys/fs/cgroup/memory.max",
        "/sys/fs/cgroup/memory/memory.limit_in_bytes",
    ]
    try:
        with open("/proc/self/cgroup") as f:
            for line in f:
                _, controllers, path = line.rstrip("\n").split(":", 2)
                path = path.lstrip("/")
                if not controllers:
                    files.append(
                        os.path.join("/sys/fs/cgroup", path, "memory.max")
                    )
                elif "memory" in controllers.split(","):
                    files.append(
                        os.path.join(
                            "/sys/fs/cgroup/memory", path,
                            "memory.limit_in_bytes",
                        )
                    )
    except (OSError, ValueError):
        pass
    return files


def _read_text(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:
        return None


def _read_host_memory_bytes() -> int | None:
    """Physical RAM (``os.sysconf``) lowered to this process's cgroup
    memory limit; ``None`` when neither can be read."""
    try:
        ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):
        ram = None
    return host_memory_bytes(
        ram, (_read_text(p) for p in _cgroup_limit_files())
    )


def _driver_memory() -> str:
    """``$SPARK_GRAFT_DRIVER_MEM`` verbatim, else the host-sized default."""
    return os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(
        _read_host_memory_bytes()
    )


def _local_dir() -> str:
    """Scratch dir for shuffle files: env override, else tmpfs (only
    when comfortably free), else /tmp."""
    env = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if env:
        return env
    shm = "/dev/shm"
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        import shutil

        if shutil.disk_usage(shm).free >= _SHM_MIN_FREE_BYTES:
            return os.path.join(shm, "spark_graft_local")
    return os.path.join(tempfile.gettempdir(), "spark_graft_local")


def get_spark(
    app_name: str = "bigdata_kafka_2_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` or all local cores. In
    local mode the driver is the only JVM, so ``spark.driver.memory``
    is the sole memory knob; on a cluster these settings move to
    executor config unchanged. It defaults to a quarter of the host's
    memory (RAM or cgroup limit, whichever is lower), capped at 48g:
    the heap HotSpot itself picks when given no ``-Xmx``
    (``MaxRAMPercentage`` = 25). ``$SPARK_GRAFT_DRIVER_MEM`` overrides
    it verbatim (``perfbench`` pins 3g).
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Coalesce post-shuffle partitions by SIZE, not parallelism-first:
        # with parallelism-first (the default) AQE keeps ~one reduce task
        # per core even when the shuffle is kilobytes, and per-task
        # scheduling overhead dominates small stages (measured 1.0-2.6 s
        # vs 0.3-0.5 s for a 1M-row groupBy on this host). On a large
        # cluster size-based coalescing is equally right: reducer count
        # tracks data volume (advisoryPartitionSizeInBytes), so 100 TB
        # shuffles still fan out to thousands of reducers.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", _driver_memory())
        # Shuffle/spill scratch space: prefer RAM-backed tmpfs when the
        # host provides one ($SPARK_GRAFT_LOCAL_DIR overrides). Local-mode
        # shuffles at test SFs are MBs — far below tmpfs capacity — and
        # the disk-backed default measurably slows small stages here. On a
        # real cluster this setting is replaced by the node's local-SSD
        # spill dirs (yarn/k8s provide them); it is a local-mode knob, not
        # part of the 100 TB design.
        .config("spark.local.dir", _local_dir())
        .config("spark.ui.enabled", "false")
        # static conf: catalog tables (bucketing) land in tmp, not cwd
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE",
                os.path.join(tempfile.gettempdir(), "spark_graft_warehouse"),
            ),
        )
        # Parquet scans: vectorized reader is default-on; keep rebase modes
        # deterministic for the synthetic data.
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        .config("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED")
        # The driver's parquet timestamps are timezone-less (timestamp[us]).
        # Read them as TIMESTAMP (session-TZ = UTC above), not TIMESTAMP_NTZ:
        # matches the DuckDB oracle's plain-TIMESTAMP view of the same files
        # and keeps epoch-based functions (unix_micros etc.) applicable.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
