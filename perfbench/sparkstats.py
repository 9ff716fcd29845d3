"""Session set-up and measurement helpers that sit outside the engine:
the environment and Spark session every benchmark process uses, Spark
task-seconds and job/stage counts per job group (UI REST API + listener
bus), shuffle Exchange counts from an executed plan, peak resident
memory of the process tree (VmHWM from /proc), and an orderly shutdown
that waits for every process the session started."""

from __future__ import annotations

import json
import os
import re
import signal
import subprocess
import sys
import time
import urllib.request
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
STATE = ROOT / ".perfbench"
# in local mode also the executors' heap; the engine default (16g) is more
# than a small host has, and 2g ran both workloads as fast (README)
DRIVER_MEMORY = "2g"

_SHUFFLE_EXCHANGE = re.compile(
    r"(?<![A-Za-z])Exchange "
    r"(hashpartitioning|rangepartitioning|RoundRobinPartitioning|SinglePartition)"
)


def configure_env() -> int:
    """Pin the engine to this process's cores and keep every file Spark
    and its Python workers write under ``STATE``; returns the core count."""
    cores = len(os.sched_getaffinity(0))
    tmp = STATE / "tmp"
    for d in (tmp, STATE / "spark-local"):
        d.mkdir(parents=True, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_LOCAL_DIRS": str(STATE / "spark-local"),
        "PYTHONPATH": os.pathsep.join([str(ROOT), os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": str(tmp),
        # no hsperfdata files under the system temp dir
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    })
    sys.path[:0] = [str(ROOT), str(Path(__file__).resolve().parent)]
    return cores


def start_session(name: str = "perfbench"):
    """The engine's own ``get_spark`` with the UI on (for the REST API),
    console progress off and scratch space under ``STATE``."""
    from dcc_validate_metadata_spark.session import get_spark

    spark = get_spark(
        name,
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "5000",
            "spark.ui.retainedStages": "5000",
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={STATE / 'tmp'} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": str(STATE / "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class SparkStats:
    """Reads per-job-group counters from the driver's status store.

    Every timed block runs under its own job group; after the block the
    listener bus is drained so the REST view holds all of the group's
    jobs and stages before they are summed."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.base = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.load(r)

    def _drain(self) -> None:
        # LiveListenerBus.waitUntilEmpty is package-private in Scala but
        # public in bytecode; py4j reaches it through the JavaSparkContext
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def group(self, gid: str) -> dict:
        """Jobs, completed stages, executor run time (task-seconds) and
        shuffle bytes written by every job tagged with ``gid``."""
        self._drain()
        jobs = [j for j in self._get("jobs") if j.get("jobGroup") == gid]
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [
            s for s in self._get("stages?status=complete")
            if s["stageId"] in stage_ids
        ]
        return {
            "jobs": len(jobs),
            "stages": len(stages),
            "task_s": sum(s["executorRunTime"] for s in stages) / 1000.0,
            "shuffle_write_mb": sum(s.get("shuffleWriteBytes", 0) for s in stages) / 2**20,
        }


def shuffle_exchanges(df) -> int:
    """Shuffle Exchange nodes (broadcast exchanges excluded) in ``df``'s
    physical plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(_SHUFFLE_EXCHANGE.findall(plan))


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in Path("/proc").iterdir():
        if not d.name.isdigit():
            continue
        try:
            stat = (d / "stat").read_text()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d.name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, ()):
            out.append(c)
            todo.append(c)
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_peak_rss_mb(pid: int | None = None) -> float:
    """Sum of per-process peak resident memory over this process and all
    its descendants (driver Python, driver JVM, Python workers)."""
    pid = pid or os.getpid()
    return sum(_vm_hwm_kb(p) for p in [pid, *descendants(pid)]) / 1024.0


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return Path(f"/proc/{pid}").exists() and "zombie" not in _state(pid)


def _state(pid: int) -> str:
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("State:"):
                return line.lower()
    except OSError:
        pass
    return ""


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop the session, end the gateway JVM, and wait until every process
    it started (JVM, Python daemon and workers) has exited."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=timeout)
    deadline = time.time() + timeout
    while time.time() < deadline and any(_alive(p) for p in started):
        time.sleep(0.1)
    for p in started:
        if _alive(p):
            os.kill(p, signal.SIGKILL)
