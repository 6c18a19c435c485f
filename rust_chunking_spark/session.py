"""SparkSession factory tuned for the CDC-ingest workload.

Scale design notes (targets a 1000-executor cluster; local[N] here):
- AQE on: runtime coalescing + skew-join splitting backstops the explicit
  salting the ingest path does for hot domains.
- Arrow batches capped by *records*, and pages are size-binned upstream, so a
  single Arrow batch of huge html blobs cannot OOM a Python worker.
- Shuffle partitions default to 2x cores locally; on a real cluster this is
  set per-job (or left to AQE with a high initial partition count).
- Driver heap: in local mode the driver is the only JVM, so its heap ceiling
  must fit the host. Unless SPARK_DRIVER_MEM is set, it is half the available
  memory (physical RAM, or a smaller cgroup-v2 limit), capped at 48g; the
  other half is left to the Python workers (one per core), the driver's
  Python process and the JVM's off-heap memory.
"""

from __future__ import annotations

import os
import re
import warnings

from pyspark.sql import SparkSession

_MAX_DRIVER_MEM_MB = 48 * 1024
_CGROUP_MEMORY_MAX = "/sys/fs/cgroup/memory.max"
_SIZE_UNITS = {"k": 2**10, "m": 2**20, "g": 2**30, "t": 2**40, "p": 2**50}


def _cgroup_memory_max() -> int | None:
    """The cgroup-v2 memory limit in bytes; None if absent or "max"."""
    try:
        with open(_CGROUP_MEMORY_MAX) as f:
            raw = f.read().strip()
    except OSError:
        return None
    return int(raw) if raw.isdigit() else None


def _available_memory() -> int:
    """Bytes this process may use: physical RAM or a smaller cgroup limit."""
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    limit = _cgroup_memory_max()
    return phys if limit is None else min(phys, limit)


def _default_driver_mem() -> str:
    """Half the available memory, capped at 48g, as a Spark size string."""
    return f"{min(_available_memory() // 2 // 2**20, _MAX_DRIVER_MEM_MB)}m"


def _spark_size_bytes(size: str) -> int | None:
    """Bytes in a Spark memory size ("8046m", "3g"; no suffix means MiB)."""
    m = re.fullmatch(r"(\d+)([kmgtp])?b?", size.strip().lower())
    return int(m[1]) * _SIZE_UNITS[m[2] or "m"] if m else None


def _driver_mem() -> str:
    """SPARK_DRIVER_MEM verbatim if set, else the host-sized default.

    An explicit value above the available memory is still used, with a
    warning: the kernel OOM-kills such a JVM once its heap grows past what
    the host has, and py4j reports that only as "Connection refused".
    """
    mem = os.environ.get("SPARK_DRIVER_MEM")
    if mem is None:
        return _default_driver_mem()
    avail = _available_memory()
    if (_spark_size_bytes(mem) or 0) > avail:
        warnings.warn(
            f"SPARK_DRIVER_MEM={mem} exceeds the {avail // 2**20} MiB of "
            "memory available; the driver JVM may be OOM-killed",
            stacklevel=3)
    return mem


def get_spark(app_name: str = "rust-chunking-spark", cpus: int | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(8, 2 * cpus)
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", _driver_mem())
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # one numpy/BLAS thread per python worker: N workers each spinning an
        # N-thread BLAS pool oversubscribes the box quadratically
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
    )
    # Opt-in Spark event log (profiling only — default off): stage-level
    # task metrics are the guide-§1 measurement loop's raw material and
    # the UI is disabled in this sandbox, so the event log is the one way
    # to see where a replay's wall-clock actually goes.
    elog = os.environ.get("SPARK_GRAFT_EVENT_LOG_DIR")
    if elog:
        os.makedirs(elog, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", elog))
    # Opt-in parquet codec override (A/B'd in BENCH.md round 6): the write
    # phase dominates the replay hot path, and the codec sets its
    # CPU-vs-bytes trade. Default (unset) keeps Spark's snappy.
    codec = os.environ.get("SPARK_GRAFT_PARQUET_CODEC")
    if codec:
        b = b.config("spark.sql.parquet.compression.codec", codec)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
