"""Host-true Spark settings for one benchmark process tree.

The heap is sized from MemTotal, leaving room for one Python worker per
core, and is not pre-touched; it reaches `session.get_spark` through
the package's own SPARK_DRIVER_MEM / SPARK_JVM_OPTS overrides.  Every
file Spark or the JVM writes goes under the run's work directory.
"""

from __future__ import annotations

import hashlib
import os
import platform
import subprocess
import sys

PY_WORKER_MB = 512  # room left per core for a pandas-UDF Python worker
HEAP_CAP_MB = 2048  # keeps JVM RSS (heap growth) from dominating peak_rss_mb noise
MIN_HEAP_MB = 1024


class HostTooSmall(RuntimeError):
    pass


def meminfo_mb() -> dict[str, int]:
    out = {}
    with open("/proc/meminfo") as f:
        for line in f:
            key, val = line.split(":", 1)
            out[key] = int(val.split()[0]) // 1024
    return out


def heap_mb(cores: int) -> int:
    """A third of MemTotal minus the Python workers' room, capped."""
    mem = meminfo_mb()
    room = cores * PY_WORKER_MB
    heap = min(HEAP_CAP_MB, mem["MemTotal"] // 3 - room)
    need = MIN_HEAP_MB + room
    if heap < MIN_HEAP_MB or mem.get("MemAvailable", mem["MemTotal"]) < need:
        raise HostTooSmall(
            f"perfbench needs a {MIN_HEAP_MB} MB heap plus {room} MB for "
            f"{cores} Python workers ({need} MB); this host has "
            f"MemTotal {mem['MemTotal']} MB, MemAvailable "
            f"{mem.get('MemAvailable', '?')} MB"
        )
    return heap


def configure(root: str, work: str, cores: int) -> int:
    """Set this process's environment so get_spark starts a JVM that
    fits the host and keeps its files in `work`; returns the heap."""
    heap = heap_mb(cores)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_DRIVER_MEM"] = f"{heap}m"
    os.environ["SPARK_JVM_OPTS"] = (
        f"-XX:+UseG1GC -XX:ReservedCodeCacheSize=1g -Xms{heap}m "
        f"-Djava.io.tmpdir={tmp} -XX:ErrorFile={work}/hs_err_pid%p.log"
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={work}/warehouse "
        "pyspark-shell"
    )
    return heap


def stamp(root: str, cores: int, heap: int) -> dict:
    """Who measured: the host and the software versions."""
    import pandas
    import pyarrow
    import pyspark

    java = subprocess.run(
        ["java", "-version"], capture_output=True, text=True
    ).stderr.splitlines()
    return {
        "cores": cores,
        "mem_total_mb": meminfo_mb()["MemTotal"],
        "heap_mb": heap,
        "cpu": _cpu_model(),
        "python": platform.python_version(),
        "jdk": java[0] if java else "?",
        "spark": pyspark.__version__,
        "arrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "commit": _commit(root),
        "source_sha256": _source_sha(root),
    }


def _source_sha(root: str) -> str:
    """Fingerprint of the package sources, for checkouts without git."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "mimeograph_spark")
    for d, _, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                h.update(os.path.relpath(os.path.join(d, f), root).encode())
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def _cpu_model() -> str:
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return platform.processor() or "?"


def _commit(root: str) -> str:
    try:
        r = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return r.stdout.strip() if r.returncode == 0 else "unknown (not a git checkout)"
