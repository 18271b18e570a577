"""Session start/stop and Spark runtime counters for the benchmark.

Counters come from the JVM status store (``sc._jsc.sc().statusStore()``),
which is filled with the Spark UI disabled. Every action the benchmark
traces runs under its own job group; ``StageTotals`` sums the stages of the
jobs in that group.
"""

from __future__ import annotations

import hashlib
import os
import sys
import tempfile
import time
from dataclasses import dataclass

from py4j.protocol import Py4JJavaError

REFUSED_ENV = ("SPARK_GRAFT_CAP", "SPARK_GRAFT_TOPK", "SPARK_GRAFT_BEST", "SPARK_GRAFT_SHUFFLE")
DRIVER_MEMORY = "4g"


def refuse_strategy_env() -> None:
    """The engine reads these to switch strategies; results would not be
    comparable, so refuse to run with any of them set."""
    bad = [k for k in REFUSED_ENV if k in os.environ]
    if bad:
        raise SystemExit(f"refusing to run with strategy overrides set: {', '.join(bad)}")


def n_cpus() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work: str):
    """Start local[n_cpus] through the engine's own session factory, with
    every scratch location (temp files, shuffle, warehouse) under work."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # For every JVM, the spark-submit launcher included: -UsePerfData, as
    # HotSpot would otherwise write /tmp/hsperfdata_<user> whatever
    # java.io.tmpdir says.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = tmp
    from osm_merge_spark.session import get_spark

    spark = get_spark(
        "perfbench", master=f"local[{n_cpus()}]",
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then close the gateway JVM's stdin (it exits on EOF) and
    wait for it, so no process outlives the run."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def engine_digest() -> str:
    """sha256 over the engine's Python sources (path and content), so a
    result names the exact program it measured."""
    import osm_merge_spark

    pkg = os.path.dirname(os.path.abspath(osm_merge_spark.__file__))
    h = hashlib.sha256()
    for root, dirs, names in os.walk(pkg):
        dirs.sort()
        for name in sorted(n for n in names if n.endswith(".py")):
            path = os.path.join(root, name)
            h.update(os.path.relpath(path, pkg).encode() + b"\0")
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def run_config(spark) -> dict:
    """What was measured: recorded with every result."""
    import pyarrow
    import pyspark

    conf = spark.sparkContext.getConf()
    return {
        "engine_sha256": engine_digest(),
        "master": spark.sparkContext.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "local_dirs": os.environ.get("SPARK_LOCAL_DIRS"),
        "driver_memory": conf.get("spark.driver.memory"),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0],
        "cpus": n_cpus(),
    }


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM (local mode: the only JVM)."""
    pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


@dataclass
class StageTotals:
    wall_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    gc_s: float = 0.0
    cpu_s: float = 0.0
    tasks: int = 0
    input_bytes: int = 0
    peak_mem_bytes: int = 0

    def add(self, o: "StageTotals") -> None:
        for k in ("wall_s", "shuffle_bytes", "spill_bytes", "gc_s", "cpu_s", "tasks",
                  "input_bytes"):
            setattr(self, k, getattr(self, k) + getattr(o, k))
        self.peak_mem_bytes = max(self.peak_mem_bytes, o.peak_mem_bytes)


class Tracer:
    """Runs actions under job groups and sums the stage metrics of each
    named step. A stage is counted once, by the first step that ran it:
    a later job that reuses its shuffle output lists it but skips it."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.steps: dict[str, StageTotals] = {}
        self._seen: set[int] = set()
        self._n = 0

    def timed(self, name: str, action) -> tuple[float, object]:
        self._n += 1
        group = f"perfbench-{self._n}-{name}"
        self.sc.setJobGroup(group, name, False)
        try:
            t0 = time.perf_counter()
            out = action()
            wall = time.perf_counter() - t0
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        tot = self._collect(group)
        tot.wall_s = wall
        self.steps.setdefault(name, StageTotals()).add(tot)
        return wall, out

    def _collect(self, group: str) -> StageTotals:
        tot = StageTotals()
        for job_id in self.sc.statusTracker().getJobIdsForGroup(group):
            ids = self.store.job(job_id).stageIds()
            for k in range(ids.size()):
                sid = ids.apply(k)
                if sid in self._seen:
                    continue
                try:
                    st = self.store.lastStageAttempt(sid)
                except Py4JJavaError:  # listed by the job but never attempted
                    continue
                if st.status().toString() != "COMPLETE":
                    continue
                self._seen.add(sid)
                tot.shuffle_bytes += st.shuffleWriteBytes()
                tot.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
                tot.gc_s += st.jvmGcTime() / 1e3
                tot.cpu_s += st.executorCpuTime() / 1e9
                tot.tasks += st.numTasks()
                tot.input_bytes += st.inputBytes()
                tot.peak_mem_bytes = max(tot.peak_mem_bytes, st.peakExecutionMemory())
        return tot

    def runtime_metrics(self, wall_s: float) -> dict[str, float]:
        t = StageTotals()
        for step in self.steps.values():
            t.add(step)
        return {
            "spark.gc_s": t.gc_s,
            "spark.spill_bytes": t.spill_bytes,
            "spark.shuffle_bytes": t.shuffle_bytes,
            "spark.cpu_busy_ratio": t.cpu_s / (wall_s * n_cpus()),
            "spark.tasks": t.tasks,
            "spark.input_bytes": t.input_bytes,
        }


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) of this process
    and all its descendants: the driver, the JVM and its Python workers."""
    kids, cpu = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while listing
            continue
        pid = int(name)
        kids.setdefault(int(fields[1]), []).append(pid)
        cpu[pid] = sum(int(x) for x in fields[11:15])
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += cpu.get(pid, 0)
        todo.extend(kids.get(pid, ()))
    return total / _TICK
