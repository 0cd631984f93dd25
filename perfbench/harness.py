"""Process, session and measurement plumbing shared by every workload.

* ``Host`` owns the Spark JVM for one benchmark process: it starts and
  restarts sessions through the package's ``get_spark``, keeps every
  file Spark, the JVM and Python temp files write inside the checkout's
  work directory, and on ``close`` stops the JVM and waits for it and
  its Python workers to exit.
* ``RssSampler`` records the peak resident memory of the engine's
  processes (this Python driver, the JVM and its Python workers) from
  ``/proc``.
* ``Tracer`` records spans around calls into the package and names the
  Spark jobs each span launches by job group; ``SparkStats`` then reads
  per-job and per-stage counters from the Spark status REST API.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import threading
import time
import urllib.request
from datetime import datetime, timezone
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench-work"
DRIVER_MEMORY = "2g"
CORES = len(os.sched_getaffinity(0))


def prepare_environment() -> None:
    """Point every temp and scratch location at the work directory.

    Must run before the JVM starts: the JVM, the pyspark daemon and its
    workers inherit this environment, and ``tempfile`` caches its
    directory on first use.
    """
    import tempfile

    tmp = WORK / "tmp"
    local = WORK / "spark-local"
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    # every JVM spark-submit starts, the launcher included: temp files go
    # to the work directory and no perf-data file goes to /tmp. The JIT
    # stops at C1: a run times a handful of ops, and with C2 the op time
    # falls for a dozen ops while hot paths are recompiled, at a pace
    # that moves with host load; with C1 it is flat from the third op
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS", ""),
                    f"-XX:-UsePerfData -XX:TieredStopAtLevel=1 -Djava.io.tmpdir={tmp}") if p
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    tempfile.tempdir = None


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry.name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


_TICK = os.sysconf("SC_CLK_TCK")


def cpu_s(pids: list[int]) -> float:
    """CPU seconds used by the processes and their reaped children."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _TICK


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


class Host:
    """One JVM, any number of successive SparkSessions on it."""

    def __init__(self, workload: str, traced: bool):
        self.workload = workload
        self.traced = traced
        self.spark = None
        self.jvm_pid: int | None = None

    def conf(self) -> dict[str, str]:
        conf = {
            "spark.local.dir": str(WORK / "spark-local"),
            "spark.sql.warehouse.dir": str(WORK / "warehouse"),
            "spark.driver.host": "127.0.0.1",
            "spark.driver.bindAddress": "127.0.0.1",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.traced:
            # the status REST API is served by the UI; only the traced
            # session pays for it
            conf.update({
                "spark.ui.enabled": "true",
                "spark.ui.port": "0",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "100000",
            })
        return conf

    def start(self):
        from assetdatavalidationtool_spark.session import get_spark
        from pyspark import SparkContext

        self.spark = get_spark(
            cores=CORES,
            app_name=f"perfbench-{self.workload}",
            driver_memory=DRIVER_MEMORY,
            extra_conf=self.conf(),
        )
        self.jvm_pid = SparkContext._gateway.proc.pid
        return self.spark

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def engine_pids(self) -> list[int]:
        pids = [os.getpid()]
        if self.jvm_pid is not None:
            pids += descendants(self.jvm_pid)
        return pids

    def close(self, timeout: float = 60.0) -> None:
        """Stop the session and the JVM, and wait for both the JVM and
        every process it started to exit."""
        from pyspark import SparkContext

        pids = self.engine_pids()[1:]
        self.stop_session()
        gw = SparkContext._gateway
        if gw is None:
            return
        gw.shutdown()
        proc = gw.proc
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=timeout)
        except Exception:
            proc.kill()
            proc.wait(timeout=timeout)
        SparkContext._gateway = None
        SparkContext._jvm = None
        deadline = time.time() + timeout
        while any(_alive(p) for p in pids) and time.time() < deadline:
            time.sleep(0.05)
        for p in pids:
            if _alive(p):
                with contextlib.suppress(OSError):
                    os.kill(p, 9)


class RssSampler:
    """Peak summed RSS of the engine's processes while active."""

    def __init__(self, host: Host, interval: float = 0.2):
        self.host = host
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while not self._stop.is_set():
            total = sum(_rss_mb(p) for p in self.host.engine_pids())
            self.peak_mb = max(self.peak_mb, total)
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        return False


class Tracer:
    """Spans around calls into the package, each naming its Spark jobs.

    A disabled tracer's ``span`` does nothing, so traced and plain ops
    run the same code. Spans stay in memory until the run ends.
    """

    def __init__(self, workload: str, spark=None):
        self.workload = workload
        self.sc = spark.sparkContext if spark is not None else None
        self.enabled = False
        self.op = "setup"
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        group = f"{self.workload}:{self.op}:{name}"
        parent = self._stack[-1] if self._stack else None
        rec = {
            "name": name, "op": self.op, "group": group,
            "parent": parent["group"] if parent else None,
        }
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(group, group)
        self._stack.append(rec)
        rec["start"] = time.time()
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev)
            self.sc.setLocalProperty("spark.job.description", prev)
            self.spans.append(rec)


def patched(obj, attr: str, tracer: Tracer, name: str):
    """Context manager wrapping ``obj.attr`` in a tracer span, so calls
    the package makes internally are timed from outside it."""
    orig = getattr(obj, attr)

    def wrapper(*a, **kw):
        with tracer.span(name):
            return orig(*a, **kw)

    @contextlib.contextmanager
    def cm():
        setattr(obj, attr, wrapper)
        try:
            yield
        finally:
            setattr(obj, attr, orig)

    return cm()


def _ts(s: str | None) -> float | None:
    if not s:
        return None
    return datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").astimezone(
        timezone.utc
    ).timestamp()


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


class SparkStats:
    """Per-job and per-stage counters of the current application."""

    def __init__(self, spark):
        sc = spark.sparkContext
        # the REST store is fed by the listener bus; drain it first
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        self.jobs = _get(f"{base}/jobs")
        self.stages = {
            (s["stageId"], s["attemptId"]): s for s in _get(f"{base}/stages")
        }
        for j in self.jobs:
            j["t0"] = _ts(j.get("submissionTime"))
            j["t1"] = _ts(j.get("completionTime"))

    def jobs_in(self, groups: set[str]) -> list[dict]:
        return [j for j in self.jobs if j.get("jobGroup") in groups]

    def totals(self, jobs: list[dict]) -> dict[str, float]:
        ids = {sid for j in jobs for sid in j["stageIds"]}
        st = [s for (sid, _a), s in self.stages.items() if sid in ids]
        mb = 1024.0 * 1024.0
        return {
            "jobs": len(jobs),
            "executor_run_s": sum(s["executorRunTime"] for s in st) / 1e3,
            "executor_cpu_s": sum(s["executorCpuTime"] for s in st) / 1e9,
            "jvm_gc_s": sum(s["jvmGcTime"] for s in st) / 1e3,
            "shuffle_read_mb": sum(s["shuffleReadBytes"] for s in st) / mb,
            "shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in st) / mb,
            "input_mb": sum(s["inputBytes"] for s in st) / mb,
            "tasks": sum(s["numCompleteTasks"] + s["numFailedTasks"] for s in st),
            "failed_tasks": sum(s["numFailedTasks"] for s in st),
        }


def busy_s(jobs: list[dict], start: float, end: float) -> float:
    """Length of the union of the jobs' intervals inside [start, end]."""
    iv = sorted(
        (max(j["t0"], start), min(j["t1"], end))
        for j in jobs if j["t0"] is not None and j["t1"] is not None
    )
    total, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def dir_size(path: Path) -> tuple[int, int]:
    """(files, bytes) under path."""
    files = size = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return files, size
