"""The benchmark's own Spark session: every setting that moves a timing is
pinned here instead of read from the environment, and every file Spark or
its workers write goes under the run's work directory."""

from __future__ import annotations

import os
import resource
import signal
import subprocess
import sys
import time
from pathlib import Path

HEAP = "2g"
YOUNG_GEN = "512m"
SHUFFLE_PARTITIONS = 4


def cores() -> int:
    return len(os.sched_getaffinity(0))


def settings(workdir: Path) -> dict:
    tmp = workdir / "tmp"
    return {
        "spark.master": f"local[{cores()}]",
        "spark.app.name": "perfbench",
        "spark.driver.memory": HEAP,
        # a fixed-size heap and young generation: the heap's footprint and
        # the collector's work then depend on the program, not on the
        # collector's adaptive sizing
        "spark.driver.extraJavaOptions": (
            f"-Xms{HEAP} -Xmn{YOUNG_GEN} -Djava.io.tmpdir={tmp}"
        ),
        "spark.local.dir": str(workdir / "spark-local"),
        "spark.sql.warehouse.dir": str(workdir / "warehouse"),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.shuffle.partitions": str(SHUFFLE_PARTITIONS),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        # keeps a persisted frame's hash(subject_id) partitioning visible to
        # its consumers, as the engine's own scale probes run it
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.streaming.checkpointLocation": str(workdir / "checkpoints"),
    }


def start(workdir: Path):
    """Start the pinned session; after ``spark.stop()`` this restarts it in
    the JVM that is already running."""
    from pyspark.sql import SparkSession

    for sub in ("tmp", "spark-local", "checkpoints"):
        (workdir / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(workdir / "tmp")
    # no hsperfdata files in the system temp directory, for Spark's launcher
    # JVM as well as the session's
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    spark = SparkSession.builder.config(map=settings(workdir)).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown() -> None:
    """Stop the active context, if any, then Spark's JVM, and wait until
    the JVM and every process it started (Python workers) have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    children = _descendants(proc.pid) if proc is not None else set()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its parent's pipe closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 10
    while children and time.monotonic() < deadline:
        children = {pid for pid in children if os.path.exists(f"/proc/{pid}")}
        time.sleep(0.1)
    for pid in children:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _descendants(root: int) -> set[int]:
    """Pids of every live process below ``root``."""
    parent = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    # the command name may hold spaces: ppid follows its ')'
                    parent[int(entry)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    found, todo = set(), [root]
    while todo:
        pid = todo.pop()
        kids = [c for c, p in parent.items() if p == pid]
        found.update(kids)
        todo.extend(kids)
    return found


def cpu_s() -> float:
    """CPU time (user + system) used so far by this process and every
    process below it: Spark's JVM with all its threads (tasks, planning,
    JIT compiler, collector) and Spark's Python workers. A process that
    has exited still counts, through its parent's children times. Time the
    host's hypervisor takes from the machine's CPUs (steal) is not in it."""
    fields = []
    for pid in (os.getpid(), *_descendants(os.getpid())):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                # after the command name: utime, stime, cutime, cstime
                fields.extend(fh.read().rsplit(")", 1)[1].split()[11:15])
        except OSError:  # exited meanwhile: its parent's children times hold it
            continue
    return sum(int(f) for f in fields) / os.sysconf("SC_CLK_TCK")


def peak_rss_mib() -> float:
    """High-water resident memory (VmHWM) of this Python process plus the
    JVM it launched for Spark, in MiB."""
    from pyspark import SparkContext

    total_kib = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kib += int(line.split()[1])
                    break
    return total_kib / 1024
