"""Run environment: work directories, the Spark session, machine probes
and peak memory. Everything the benchmark writes lives under
``perfbench/.work`` in the checkout it runs from."""

from __future__ import annotations

import hashlib
import os
import resource
import shutil
import sys
from typing import Dict, Optional, Tuple

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CACHE = os.path.join(WORK, "cache")
RESULTS = os.path.join(WORK, "results")
ENGINE = os.path.join(ROOT, "spark_search")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def engine_fingerprint(package_dir: str = ENGINE) -> str:
    """Hash of every source file of the engine package (relative path and
    bytes). An index cached under it is only reused by the same code."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(package_dir):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for name in sorted(filenames):
            if name.endswith((".pyc", ".pyo")):
                continue
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, package_dir).encode() + b"\0")
            with open(path, "rb") as f:
                h.update(f.read())
            h.update(b"\0")
    return h.hexdigest()[:16]


def probe_machine() -> Dict[str, float]:
    """One reading of the repository's existing capacity and page-fault
    probes (bench_scaling_gated), taken before Spark starts so the
    probe's worker pool forks a thread-free process."""
    from bench_scaling_gated import capacity_ratio, fault_rate_mbps

    return {
        "capacity_ratio": capacity_ratio(workers=nproc(), seconds=0.25),
        "fault_rate_mbps": fault_rate_mbps(),
    }


class RunDirs:
    """Scratch space of one run, removed when the run ends."""

    def __init__(self, workload: str):
        self.root = os.path.join(WORK, f"run-{workload}-{os.getpid()}")
        self.tmp = os.path.join(self.root, "tmp")
        self.spark_local = os.path.join(self.root, "spark-local")
        for d in (self.tmp, self.spark_local, CACHE, RESULTS):
            os.makedirs(d, exist_ok=True)

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    def remove(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)


def start_spark(dirs: RunDirs, cores: int):
    """local[cores] session whose scratch files stay inside the run dir.

    The heap starts at its maximum (Spark's default 1 GB), so the JVM's
    peak resident set does not depend on when the collector chose to grow
    the heap; peak_rss_mb then moves with off-heap and Python memory and
    with any need for more heap.

    The JVM compiles with C1 only (TieredStopAtLevel=1), so its code is
    compiled within the first queries of each kind, which set-up and
    warm-up run, not by C2 in bursts for minutes after; a mid serve_scale
    query takes about 1.3 s either way. Spark generates and compiles new
    classes for every query, so the code cache is made large enough for a
    run and never flushed: with C1's default 48 MB cache, its sweeper and
    the recompiles after it doubled query CPU for ten seconds about a
    minute into each run."""
    os.environ["TMPDIR"] = dirs.tmp
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    from pyspark.sql import SparkSession

    java_opts = (f"-Djava.io.tmpdir={dirs.tmp} -XX:-UsePerfData -Xms1g"
                 " -XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=256m"
                 " -XX:-UseCodeCacheFlushing")
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", "1g")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.local.dir", dirs.spark_local)
        .config("spark.sql.warehouse.dir", dirs.path("warehouse"))
        .config("spark.driver.extraJavaOptions", java_opts)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # the JVM may already be gone
        pass
    if proc is not None:
        try:
            if proc.stdin is not None:
                proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: Optional[int] = None) -> float:
    """CPU seconds used so far by process ``root`` (this one by default)
    and every process below it: the Spark JVM and its Python workers.
    Children they have already reaped count through their parent. Time
    the hypervisor stole from the machine's CPUs is not counted, so the
    figure follows the work done, not the load of the host."""
    root = os.getpid() if root is None else root
    children: Dict[int, list] = {}
    own: Dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                data = f.read()
        except OSError:  # the process ended
            continue
        # fields after the command name, which may hold spaces: state,
        # ppid, ..., utime (11), stime, cutime, cstime (14)
        rest = data[data.rindex(b")") + 2:].split()
        pid = int(name)
        children.setdefault(int(rest[1]), []).append(pid)
        own[pid] = sum(int(x) for x in rest[11:15])
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += own.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total * _TICK_S


def steal_jiffies() -> Tuple[int, int]:
    """(stolen, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def jvm_pid(spark) -> Optional[int]:
    try:
        return int(spark._jvm.java.lang.ProcessHandle.current().pid())
    except Exception:
        return None


def peak_rss_mb(pid: Optional[int]) -> float:
    """Peak resident memory of this Python driver plus its JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    if pid is not None:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        jvm_kb = int(line.split()[1])
                        break
        except OSError:
            pass
    return (py_kb + jvm_kb) / 1024.0
