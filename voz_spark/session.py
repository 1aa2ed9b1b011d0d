"""SparkSession factory with scale-appropriate defaults.

All jobs and tests go through :func:`get_spark` so that the session is
configured identically everywhere:

- ``spark.sql.session.timeZone=UTC``: required for DuckDB-oracle
  equality (DuckDB timestamps are UTC-naive).
- AQE on (coalesce partitions + skew-join backstop) — at 100 TB the
  static shuffle-partition number is always wrong somewhere; AQE
  re-plans from runtime stats.
- Arrow on for pandas UDF / mapInPandas exchange (the only Python that
  ever runs on the hot path is Arrow-batched).
- shuffle partitions default to the core count locally; on a real
  cluster this is overridden by spark-submit conf (we only set it if
  the caller didn't).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def default_driver_memory() -> str:
    """Driver heap sized from the host: in local mode this one heap
    also holds the executors, so a fixed 32g is OOM-killed on a 15 GB
    machine. 55% of MemTotal leaves room for the JVM's native memory
    and the Python workers; capped at 32g. SPARK_GRAFT_DRIVER_MEM
    overrides it."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    cap_mb = 32 << 10
    try:
        with open("/proc/meminfo") as f:
            total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return f"{cap_mb}m"
    return f"{min(cap_mb, total_kb * 55 // 100 // 1024)}m"


def get_spark(
    app_name: str = "voz_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    # make the package importable inside executor python workers (the
    # production path ships voz_spark.zip via spark-submit --py-files;
    # see jobs/crawl_rounds.py)
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{pkg_root}{os.pathsep}{existing}" if existing else pkg_root

    cpus = default_parallelism()
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    # Shuffle/spill to tmpfs ONLY when a capacity check passes: the
    # sandbox's /tmp sits on one virtio disk whose bandwidth does NOT
    # grow with cores (caps N->4N scaling; on a real cluster every
    # executor brings its own shuffle disks, so tmpfs locally is the
    # faithful analogue) — but /dev/shm is RAM-backed, and a large
    # spill into a small tmpfs fails jobs that would have completed
    # spilling to disk. Opt out entirely with SPARK_GRAFT_LOCAL_DIR.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        try:
            st = os.statvfs("/dev/shm")
            free_bytes = st.f_bavail * st.f_frsize
        except OSError:  # pragma: no cover
            free_bytes = 0
        # require generous headroom (≥ 32 GiB free) before defaulting
        # shuffle spill into RAM-backed tmpfs
        if free_bytes >= 32 << 30:
            local_dir = "/dev/shm/spark-local"
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # zstd shuffle/spill codec: at high parallelism this box (and a
        # real cluster's shuffle fabric) is bytes-bound, not CPU-bound —
        # measured on the 16M-URL schedule job: lz4 1.17M URLs/s vs
        # zstd 1.40M at 24 cores (+20%), while at 6 cores zstd costs
        # ~10% CPU. The engine optimizes for the many-executor regime;
        # override via extra_conf for single-digit-core deployments.
        .config("spark.io.compression.codec", "zstd")
    )
    if local_dir:
        b = b.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one driver-generated parquet table (TESTDATA.md)."""
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
