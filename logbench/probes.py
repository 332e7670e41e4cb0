"""What the benchmark reads from outside the program: the environment,
the resident memory and CPU time of the process tree, the VM's stolen
time, the executed plan and Spark's status store (through py4j; the UI
is off).

Spans: `Tracer.span(name)` tags every Spark job started inside it with
the span's id as the job group, so each span's stage totals can be read
back from the status store when the run ends.
"""

from __future__ import annotations

import hashlib
import os
import platform
import re
import statistics
import subprocess
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

# -- environment ------------------------------------------------------------


def environment(spark, root: str, cores: int) -> dict:
    import duckdb
    import pyspark

    commit = None
    if os.path.isdir(os.path.join(root, ".git")):
        proc = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=30, check=False,
        )
        commit = proc.stdout.strip() or None
    jvm = spark.sparkContext._jvm
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "cpus": cores,
        "driver_memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "spark_local_dirs": os.environ.get("SPARK_LOCAL_DIRS"),
        "pyspark": pyspark.__version__,
        "java": jvm.System.getProperty("java.version"),
        "duckdb": duckdb.__version__,
        "python": platform.python_version(),
        "commit": commit,
        # identifies the code where there is no git history to ask
        "source_sha256": _source_digest(os.path.join(root, "beats_spark")),
        "disk": _disk_state(),
    }


def _source_digest(package: str) -> str:
    h = hashlib.sha256()
    for dirpath, dirs, files in os.walk(package):
        dirs.sort()
        for name in sorted(f for f in files if f.endswith(".py")):
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, package).encode())
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _disk_state() -> dict:
    """Dirty+Writeback page-cache state: a write-heavy run measures
    differently while the disk still drains earlier writes."""
    kb = 0
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith(("Dirty:", "Writeback:")):
                    kb += int(line.split()[1])
    except OSError:
        return {"state": "unknown", "dirty_writeback_kb": None}
    return {"state": "drained" if kb < 262144 else "churned", "dirty_writeback_kb": kb}


# -- resident memory ----------------------------------------------------------


def _stat(pid: int) -> tuple[str, int] | None:
    """(command name, parent pid) of a live process."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    comm, rest = stat[stat.index("(") + 1:].rsplit(")", 1)
    return comm, int(rest.split()[1])


def process_tree(pid: int) -> list[int]:
    """This process, its JVM and the JVM's Python workers. Other children
    of the JVM are left out: a child it has just forked (vfork) shares
    the JVM's memory and would count it twice."""
    kids: dict[int, list[tuple[int, str]]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (st := _stat(int(name))) is not None:
            kids.setdefault(st[1], []).append((int(name), st[0]))
    out, todo = [pid], [p for p, comm in kids.get(pid, ()) if comm == "java"]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(c for c, comm in kids.get(p, ()) if comm.startswith("python"))
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def _cpu_s(pid: int) -> float | None:
    """User + system CPU seconds of a live process, all its threads."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return (int(fields[11]) + int(fields[12])) * _TICK_S


def _steal_s() -> float:
    """Seconds the hypervisor has kept this VM's CPUs from running it,
    summed over CPUs."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) * _TICK_S if len(fields) > 8 else 0.0


@dataclass
class Usage:
    wall_s: float
    # CPU of the process tree, stolen time left out by the kernel
    cpu_s: float
    steal_s: float


class Meter:
    """Wall, process-tree CPU and host steal between `Meter()` and `read()`.
    A process that starts in between counts from zero."""

    def __init__(self):
        self._cpu = self._tree_cpu()
        self._steal = _steal_s()
        self._t0 = time.perf_counter()

    @staticmethod
    def _tree_cpu() -> dict[int, float]:
        out = {}
        for pid in process_tree(os.getpid()):
            if (c := _cpu_s(pid)) is not None:
                out[pid] = c
        return out

    def read(self) -> Usage:
        wall = time.perf_counter() - self._t0
        cpu = self._tree_cpu()
        return Usage(
            wall_s=wall,
            cpu_s=sum(c - self._cpu.get(pid, 0.0) for pid, c in cpu.items()),
            steal_s=_steal_s() - self._steal,
        )


class PeakRss:
    """Peak summed RSS of this process, the JVM and the Python workers
    while the block runs. The process list is refreshed once a second,
    RSS sampled every `period` seconds."""

    def __init__(self, period: float = 0.1):
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pids, refreshed = [], 0.0
        while True:
            now = time.monotonic()
            if now - refreshed >= 1.0:
                pids, refreshed = process_tree(os.getpid()), now
            self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in pids))
            if self._stop.wait(self.period):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# -- executed plan ------------------------------------------------------------

_PLAN_PATTERNS = {
    "plan.regexp_extract": r"\bregexp_extract\(",
    "plan.rlike": r"\bRLIKE\b",
    "plan.exchanges": r"(?<![A-Za-z])Exchange ",
    "plan.broadcast_exchanges": r"\bBroadcastExchange ",
    "plan.python_udfs": r"\b\w*(?:EvalPython|InPandas|InArrow)\b",
}


def plan_fingerprint(df) -> dict[str, int]:
    """Node and expression counts of the physical plan. They repeat
    exactly, so they catch plan regressions timing noise hides."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    out = {k: len(re.findall(p, plan)) for k, p in _PLAN_PATTERNS.items()}
    out["plan.regex_exprs"] = out["plan.regexp_extract"] + out["plan.rlike"]
    return out


# -- spans and the status store ----------------------------------------------


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _opt(o, default=None):
    return o.get() if o.isDefined() else default


class Tracer:
    """In-memory spans; a span's id is the job group of its Spark jobs."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def begin(self, name: str) -> dict:
        span = {
            "id": f"{name}#{len(self.spans)}",
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(span)
        self._stack.append(span)
        self.sc.setJobGroup(span["id"], name)
        return span

    def end(self, span: dict) -> None:
        span["end"] = time.perf_counter()
        self._stack.remove(span)
        if self._stack:
            self.sc.setJobGroup(self._stack[-1]["id"], self._stack[-1]["name"])
        else:
            self.sc._jsc.clearJobGroup()

    @contextmanager
    def span(self, name: str):
        s = self.begin(name)
        try:
            yield s
        finally:
            self.end(s)

    def close_spans(self) -> None:
        """Attach Spark's stage totals to every span: each span counts
        the jobs of its own group and of its descendants' groups."""
        # the status store learns of a finished task through the
        # listener bus, a little after the job has returned
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        store = self.sc._jsc.sc().statusStore()
        jvm = self.sc._jvm
        gw = self.sc._gateway
        stages = {}
        for st in _seq(store.stageList(None, False, False, gw.new_array(jvm.double, 0), jvm.java.util.ArrayList())):
            stages.setdefault(st.stageId(), []).append(st)
        groups: dict[str, list] = {}
        for job in _seq(store.jobsList(None)):
            g = _opt(job.jobGroup())
            if g is not None:
                groups.setdefault(g, []).append(job)
        children: dict[str | None, list[str]] = {}
        for s in self.spans:
            children.setdefault(s["parent"], []).append(s["id"])

        def subtree(sid: str) -> list[str]:
            out, todo = [], [sid]
            while todo:
                x = todo.pop()
                out.append(x)
                todo.extend(children.get(x, ()))
            return out

        for s in self.spans:
            jobs = [j for g in subtree(s["id"]) for j in groups.get(g, ())]
            s.update(_stage_totals(store, jobs, stages))


def _stage_totals(store, jobs: list, stages: dict) -> dict:
    tot = {
        "jobs": len(jobs), "stages": 0, "tasks": 0, "job_s": 0.0,
        "executor_run_s": 0.0, "executor_cpu_s": 0.0, "jvm_gc_s": 0.0,
        "spill_bytes": 0, "input_bytes": 0, "input_records": 0, "scans": 0, "output_bytes": 0,
        "output_records": 0, "shuffle_write_bytes": 0,
        "shuffle_write_records": 0, "task_max_over_median": 1.0,
    }
    for job in jobs:
        sub, done = _opt(job.submissionTime()), _opt(job.completionTime())
        if sub is not None and done is not None:
            tot["job_s"] += (done.getTime() - sub.getTime()) / 1e3
        for sid in _seq(job.stageIds()):
            for st in stages.get(sid, ()):
                if st.numCompleteTasks() == 0:
                    continue  # skipped: its shuffle output was reused
                tot["stages"] += 1
                tot["tasks"] += st.numCompleteTasks()
                tot["executor_run_s"] += st.executorRunTime() / 1e3
                tot["executor_cpu_s"] += st.executorCpuTime() / 1e9
                tot["jvm_gc_s"] += st.jvmGcTime() / 1e3
                tot["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                tot["input_bytes"] += st.inputBytes()
                tot["input_records"] += st.inputRecords()
                tot["scans"] += int(st.inputRecords() > 0)
                tot["output_bytes"] += st.outputBytes()
                tot["output_records"] += st.outputRecords()
                tot["shuffle_write_bytes"] += st.shuffleWriteBytes()
                tot["shuffle_write_records"] += st.shuffleWriteRecords()
                if st.numCompleteTasks() >= 2:
                    durs = [
                        _opt(t.duration(), 0)
                        for t in _seq(store.taskList(st.stageId(), st.attemptId(), 1 << 30))
                    ]
                    med = statistics.median(durs)
                    if med > 0:
                        tot["task_max_over_median"] = max(
                            tot["task_max_over_median"], max(durs) / med
                        )
    return tot
