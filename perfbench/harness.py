"""Process-level plumbing for the benchmark: the Spark session, the
process-tree RSS sampler and the span tracer.

Everything here observes the engine from outside: spans wrap calls into
``pathik_spark`` public functions, and task/job counts come from Spark's
public ``statusTracker``. Nothing inside ``pathik_spark/`` is patched.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import threading
import time
from contextlib import contextmanager

PAGE_SIZE = os.sysconf("SC_PAGE_SIZE")


def configure_env(root: str, work: str, cores: int) -> None:
    """Environment every process the benchmark starts inherits: the repo
    on the Python workers' import path (a launch from outside the repo
    without PYTHONPATH otherwise fails every UDF task with
    ModuleNotFoundError), scratch space inside the work directory, and the
    driver heap size."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # the engine's own defaults (driver heap, Arrow batch, codec),
    # whatever the calling shell exports
    for knob in ("PATHIK_DRIVER_MEM", "PATHIK_ARROW_BATCH", "PATHIK_PARQUET_CODEC"):
        os.environ.pop(knob, None)


def start_spark(work: str, cores: int):
    from pathik_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # the JVM's own GC log, read by peak_heap_live_mb
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xlog:gc:file={gc_log(work)}",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark(spark) -> None:
    """Stop the context, then the JVM behind the py4j gateway, and wait
    until it and every process it started (the Python worker daemon and
    workers) have exited."""
    from pyspark import SparkContext

    started = set(_tree_rss(os.getpid())) - {os.getpid()}
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin pipe closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(os.path.exists(f"/proc/{pid}") for pid in started):
        time.sleep(0.1)


# -- memory -------------------------------------------------------------------

# "[59.285s][info][gc] GC(85) Pause Young (Normal) (G1 Evacuation Pause) 1064M->384M(2228M) 22.7ms"
_GC_PAUSE = re.compile(r"^\[([\d.]+)s\].* Pause (?:Young|Full).* \d+[KMG]->(\d+)([KMG])\(\d+[KMG]\)", re.M)
_UNIT_MB = {"K": 1 / 1024, "M": 1, "G": 1024}


def gc_log(work: str) -> str:
    return os.path.join(work, "gc.log")


def jvm_uptime_s(spark) -> float:
    """The driver JVM's uptime, the clock of its GC log."""
    return spark.sparkContext._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getUptime() / 1000


def peak_heap_live_mb(work: str, since_s: float) -> float:
    """The largest Java heap occupancy right after a collection from JVM
    uptime ``since_s`` on, from the driver JVM's GC log (complete once
    the JVM has exited). This is the heap the program keeps live; how
    far the heap grows beyond it is up to the collector's adaptive
    sizing, which swings the JVM's RSS by a third between identical runs."""
    with open(gc_log(work)) as f:
        gcs = [(float(m[1]), int(m[2]) * _UNIT_MB[m[3]]) for m in _GC_PAUSE.finditer(f.read())]
    return max((mb for t, mb in gcs if t >= since_s), default=float("nan"))


def _tree_rss(root_pid: int) -> dict[int, int]:
    """{pid: RSS bytes} for ``root_pid`` and all its descendants (driver,
    JVM, Python workers), read from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(entry))
    rss, todo = {}, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                rss[pid] = int(f.read().split()[1]) * PAGE_SIZE
        except OSError:
            continue
    return rss


class RssSampler:
    """Background thread recording the peak summed RSS of this process
    tree every ``interval`` seconds. A process counts once it has been
    alive for two consecutive samples: while the JVM spawns a Python
    worker, the short-lived clone shares the JVM's memory and would
    otherwise add the JVM's whole RSS a second time."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid, prev = os.getpid(), set()
        while not self._stop.is_set():
            rss = _tree_rss(pid)
            self.peak = max(self.peak, sum(v for p, v in rss.items() if p in prev))
            prev = set(rss)
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak / (1 << 20)


# -- tracing ------------------------------------------------------------------


class Tracer:
    """In-memory spans around calls into the engine.

    Each span runs its calling thread's jobs under its own Spark job
    group. Jobs the engine starts from its own worker threads carry no
    group, so a span also claims every ungrouped job that appeared
    while it was open and no child span claimed; the benchmark opens
    spans from one thread and runs nothing else meanwhile, so no other
    work can own them. Task and failed-task counts are summed over the
    claimed jobs' stages. A closing span adds its counts to its
    parent's. ``overhead_s`` sums the time this bookkeeping adds
    around the span bodies."""

    def __init__(self, sc, trace_id: str):
        self.sc = sc
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._claimed: set[int] = set()
        self.overhead_s = 0.0  # time spent in span bookkeeping, outside span bodies

    @contextmanager
    def span(self, name: str):
        t_enter = time.perf_counter()
        tracker = self.sc.statusTracker()
        parent = self._stack[-1] if self._stack else None
        rec = {
            "name": name,
            "span_id": len(self.spans),
            "parent_id": parent["span_id"] if parent else None,
            "trace_id": self.trace_id,
            "start": time.time(),
        }
        group = f"{self.trace_id}-{rec['span_id']}"
        ungrouped_before = set(tracker.getJobIdsForGroup(None))
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        self.overhead_s += t0 - t_enter
        try:
            yield rec
        finally:
            t_exit = time.perf_counter()
            rec["dur_s"] = t_exit - t0
            rec["end"] = rec["start"] + rec["dur_s"]
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"{self.trace_id}-{parent['span_id']}", parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            jobs = set(tracker.getJobIdsForGroup(group))
            jobs |= set(tracker.getJobIdsForGroup(None)) - ungrouped_before
            jobs -= self._claimed  # already counted by a child span
            self._claimed |= jobs
            tasks = failed = 0
            for job_id in jobs:
                info = tracker.getJobInfo(job_id)
                for stage_id in info.stageIds if info else ():
                    stage = tracker.getStageInfo(stage_id)
                    if stage is not None:
                        tasks += stage.numCompletedTasks
                        failed += stage.numFailedTasks
            rec["jobs"] = rec.get("jobs", 0) + len(jobs)
            rec["tasks"] = rec.get("tasks", 0) + tasks
            rec["failed_tasks"] = rec.get("failed_tasks", 0) + failed
            if parent is not None:
                for key in ("jobs", "tasks", "failed_tasks"):
                    parent[key] = parent.get(key, 0) + rec[key]
            self.overhead_s += time.perf_counter() - t_exit

    @property
    def current_id(self) -> int | None:
        return self._stack[-1]["span_id"] if self._stack else None

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"trace_id": self.trace_id, "spans": self.spans}, f, indent=1)
