"""Session sizing and the host fingerprint every result carries.

The session is sized from the machine it lands on through the engine's
own environment overrides (``SPARK_GRAFT_CPUS``, ``SPARK_GRAFT_DRIVER_MEM``,
``SPARK_GRAFT_LOCAL_DIR``); nothing in ``voz_spark/`` changes.
"""

from __future__ import annotations

import hashlib
import os
import subprocess

# Local mode runs the executors inside the driver heap. The heap is the
# workload's working set (workloads.SIZES), capped at a quarter of
# MemTotal to leave room for the Python workers and the page cache on a
# shared host.
HEAP_SHARE = 0.25
HEAP_MIN_MB = 1024


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def size_session(work: str, heap_mb: int) -> dict[str, str]:
    """Export the engine's session overrides for this host and a
    ``heap_mb`` working set, and keep every scratch write (shuffle,
    spill, temp files) inside ``work``. Must run before pyspark is
    imported."""
    heap_mb = max(HEAP_MIN_MB, min(heap_mb, int(mem_total_mb() * HEAP_SHARE)))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_GRAFT_LOCAL_DIR": local,
        "TMPDIR": tmp,
    }
    os.environ.update(env)
    return env


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of process ``pid`` in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"VmHWM missing for pid {pid}")


def _git(root: str, *args: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", root, *args], capture_output=True, text=True, timeout=30
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def source_digest(root: str) -> str:
    """sha256 over the engine and benchmark sources — identifies the code
    when the checkout is not a git repository."""
    h = hashlib.sha256()
    for sub in ("voz_spark", "perfbench"):
        base = os.path.join(root, sub)
        for dirpath, dirnames, filenames in os.walk(base):
            dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
            for fn in sorted(filenames):
                if fn.endswith((".py", ".json")):
                    p = os.path.join(dirpath, fn)
                    h.update(os.path.relpath(p, root).encode())
                    with open(p, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()[:16]


# Keys that must agree before two results may be compared: the machine
# and the Spark configuration in effect. The code identity (sha, dirty,
# source digest) is what a comparison is meant to vary.
HOST_KEYS = ("nproc", "mem_total_mb", "pyspark", "java", "conf")


def fingerprint(spark, root: str) -> dict:
    import pyspark

    conf = spark.sparkContext.getConf()
    # only a repository rooted at the checkout identifies this code
    top = _git(root, "rev-parse", "--show-toplevel")
    sha = _git(root, "rev-parse", "HEAD") if top and os.path.samefile(top, root) else None
    status = _git(root, "status", "--porcelain", "--untracked-files=no") if sha else None
    return {
        "nproc": nproc(),
        "mem_total_mb": mem_total_mb(),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "conf": {
            "master": spark.sparkContext.master,
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "aqe": spark.conf.get("spark.sql.adaptive.enabled"),
            "codec": conf.get("spark.io.compression.codec", "lz4"),
            "driver_memory": conf.get("spark.driver.memory", ""),
            # the path itself is per run; where it lives is what matters
            "local_dir": "checkout" if conf.get("spark.local.dir", "").startswith(root)
            else conf.get("spark.local.dir", "default"),
        },
        "git_sha": sha,
        "git_dirty": bool(status) if sha else None,
        "source_digest": source_digest(root),
    }
