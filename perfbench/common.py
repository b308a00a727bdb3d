"""Plumbing shared by the workloads: box pinning, the Spark session, the span
tracer, Spark event-log reading and host probes.

Nothing here is imported by the package; the benchmark reaches the package
only through its public functions.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field
from typing import Dict, List, Optional

# Driver-side JVM heap for both the in-process session and the submitted job.
# The session default (48g) and run_extract_job.py (no setting) do not fit a
# 15 GB box shared with other tenants.
DRIVER_MEM = "2g"
MAX_CPUS = 4


def pinned_cpus() -> int:
    return max(1, min(MAX_CPUS, len(os.sched_getaffinity(0))))


class Workdir:
    """Everything a run writes lives under ``.perfbench_work/<workload>-<pid>``
    of the checkout, and is removed when the run ends."""

    def __init__(self, root: str, workload: str) -> None:
        self.root = root
        self.path = os.path.join(root, ".perfbench_work", f"{workload}-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        for sub in ("tmp", "local", "eventlog"):
            os.makedirs(os.path.join(self.path, sub))

    def sub(self, *parts: str) -> str:
        return os.path.join(self.path, *parts)

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def spark_confs(work: Workdir, trace: bool) -> Dict[str, str]:
    """Confs both launch paths share: work dirs inside the checkout, no UI,
    and (traced runs only) a plain-JSON, single-file event log."""
    confs = {
        "spark.local.dir": work.sub("local"),
        "spark.sql.warehouse.dir": work.sub("warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={work.sub('tmp')} -Dderby.system.home={work.sub('tmp')}"
        ),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true" if trace else "false",
    }
    if trace:
        confs.update(
            {
                "spark.eventLog.dir": "file://" + work.sub("eventlog"),
                # 4.1 defaults to zstd + rolling directories; zstandard is not
                # installed for the reader, and one plain file is simpler
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return confs


def pin_environment(work: Workdir, cpus: int, trace: bool) -> None:
    """Set before pyspark starts a JVM: the package's session factory reads
    SPARK_GRAFT_*, and PYSPARK_SUBMIT_ARGS carries the remaining confs."""
    import tempfile

    os.environ["TMPDIR"] = work.sub("tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = work.sub("local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # every JVM, launchers included, writes hsperfdata to the system temp
    # directory (outside the checkout) unless told not to
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    args = []
    for k, v in spark_confs(work, trace).items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = subprocess.list2cmdline(args + ["pyspark-shell"])


def start_session(cpus: int):
    from pdf_extraction_and_query_spark.sources.session import get_spark

    return get_spark(master=f"local[{cpus}]", shuffle_partitions=cpus)


def descendants(pid: int) -> List[int]:
    """Live descendant pids of ``pid`` (one /proc scan)."""
    children: Dict[int, List[int]] = {}
    for st in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(st) as f:
                data = f.read()
        except OSError:
            continue
        # comm may hold spaces and parens: ppid is the 2nd field after ')'
        rest = data[data.rfind(")") + 2 :].split()
        children.setdefault(int(rest[1]), []).append(int(st.split("/")[2]))
    out, stack = [], [pid]
    while stack:
        for c in children.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def become_subreaper() -> None:
    """Make orphaned descendants (the Python daemon and workers a JVM leaves
    behind when it exits) children of this process, so they can be awaited."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    if ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def reap_children(timeout: float = 60.0) -> None:
    """Wait until every descendant has exited; SIGKILL what is left at the
    deadline. Relies on :func:`become_subreaper`."""
    import signal

    deadline = time.monotonic() + timeout
    while True:
        try:
            pid, _status = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for p in descendants(os.getpid()):
                with contextlib.suppress(ProcessLookupError):
                    os.kill(p, signal.SIGKILL)
        time.sleep(0.05)


def stop_session(spark) -> None:
    """Stop Spark and the JVM it launched, and wait for every process under it
    (the JVM, the Python daemon and its forked workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    reap_children()


def proc_status(pid: int) -> Dict[str, str]:
    try:
        with open(f"/proc/{pid}/status") as f:
            return dict(
                line.rstrip("\n").split(":\t", 1) for line in f if ":\t" in line
            )
    except OSError:
        return {}


def proc_cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def python_worker_hwm_mb(root_pid: int) -> Dict[int, float]:
    """Kernel high-water mark (VmHWM) of each PySpark worker under ``root_pid``."""
    out = {}
    for p in descendants(root_pid):
        if "pyspark.daemon" in proc_cmdline(p) or "pyspark.worker" in proc_cmdline(p):
            hwm = proc_status(p).get("VmHWM")
            if hwm:
                out[p] = int(hwm.split()[0]) / 1024.0
    return out


def cal_ms() -> float:
    """Fixed single-core CPU probe (pure-Python integer loop). Recorded next to
    the passes so a contended run can be told apart; never used to rescale."""
    t = time.perf_counter()
    acc = 0
    for i in range(300_000):
        acc = (acc * 31 + i) % 1_000_003
    return (time.perf_counter() - t) * 1000.0


def host_info(cpus: int, work: Workdir) -> Dict[str, object]:
    import pyspark

    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    fs = ""
    best = -1
    with open("/proc/mounts") as f:
        for line in f:
            dev, mnt, typ = line.split()[:3]
            if work.path.startswith(mnt) and len(mnt) > best:
                best, fs = len(mnt), typ
    return {
        "cpus": cpus,
        "nproc": len(os.sched_getaffinity(0)),
        "mem_gb": round(mem_kb / 1024 / 1024, 1),
        "fs": fs,
        "spark": pyspark.__version__,
        "python": sys.version.split()[0],
    }


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float
    parent: Optional[int]
    pass_id: int


@dataclass
class Tracer:
    """Benchmark-side spans around each call into a package function, kept in
    memory and written out at exit. When ``enabled`` it also tags the Spark
    jobs a span launches with a job group (``<span index>:<layer>``), so the
    event log attributes each job to the layer that caused it."""

    enabled: bool
    sc: object = None
    spans: List[Span] = field(default_factory=list)
    _stack: List[int] = field(default_factory=list)
    pass_id: int = 0

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, layer, time.perf_counter(), 0.0, parent, self.pass_id))
        self._stack.append(idx)
        if self.sc is not None:
            self.sc.setJobGroup(f"{idx}:{layer}", name)
        try:
            yield
        finally:
            self.spans[idx].end = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                if parent is None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
                else:
                    p = self.spans[parent]
                    self.sc.setJobGroup(f"{parent}:{p.layer}", p.name)

    def self_times(self) -> Dict[str, Dict[str, float]]:
        """Per layer: summed self time (span minus the part its children
        cover) and span count."""
        child_cover: Dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child_cover[s.parent] = child_cover.get(s.parent, 0.0) + (s.end - s.start)
        table: Dict[str, Dict[str, float]] = {}
        for i, s in enumerate(self.spans):
            row = table.setdefault(s.layer, {"self_s": 0.0, "total_s": 0.0, "count": 0})
            row["self_s"] += (s.end - s.start) - child_cover.get(i, 0.0)
            row["total_s"] += s.end - s.start
            row["count"] += 1
        return table


def read_event_log(path: str) -> List[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def single_event_log(work: Workdir) -> str:
    logs = [p for p in glob.glob(work.sub("eventlog", "*")) if not p.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log, found {logs}")
    return logs[0]


@dataclass
class JobRow:
    job_id: int
    start_ms: int
    end_ms: int
    group: Optional[str]
    sql_id: Optional[str]
    stages: List[int]
    call_site: str


class EventLog:
    """The parts of a Spark event log the benchmark reads: jobs (with their
    job group and SQL execution id), per-task metrics and SQL accumulables."""

    def __init__(self, events: List[dict]) -> None:
        self.app_start_ms = None
        self.jobs: Dict[int, JobRow] = {}
        self.tasks: List[dict] = []
        self.sql_plans: Dict[str, str] = {}
        for e in events:
            kind = e.get("Event")
            if kind == "SparkListenerApplicationStart":
                self.app_start_ms = e["Timestamp"]
            elif kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                self.jobs[e["Job ID"]] = JobRow(
                    e["Job ID"],
                    e["Submission Time"],
                    e["Submission Time"],
                    props.get("spark.jobGroup.id"),
                    props.get("spark.sql.execution.id"),
                    list(e.get("Stage IDs", [])),
                    props.get("callSite.short") or "",
                )
            elif kind == "SparkListenerJobEnd":
                self.jobs[e["Job ID"]].end_ms = e["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                self.tasks.append(e)
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                self.sql_plans[str(e["executionId"])] = e.get("physicalPlanDescription", "")

    def task_metric_sum(self, key: str, sub: Optional[str] = None, stages: Optional[set] = None) -> float:
        """Sum of a task metric (``Task Metrics[key][sub]``) over the tasks
        of ``stages`` (all tasks when None)."""
        tot = 0.0
        for t in self.tasks:
            if stages is not None and t["Stage ID"] not in stages:
                continue
            v = (t.get("Task Metrics") or {}).get(key)
            if sub is not None:
                v = (v or {}).get(sub)
            tot += float(v or 0)
        return tot

    def accum_sum(self, name: str, stages: Optional[set] = None) -> float:
        """Sum of a named SQL metric's per-task updates."""
        tot = 0.0
        for t in self.tasks:
            if stages is not None and t["Stage ID"] not in stages:
                continue
            for a in (t.get("Task Info") or {}).get("Accumulables", []):
                if a.get("Name") == name:
                    tot += float(a.get("Update") or 0)
        return tot

    def python_stages(self, stages: Optional[set] = None) -> set:
        """The stages (of ``stages``, or all) that run a Python UDF node: their
        tasks report its SQL metrics."""
        name = PY_SQL_METRICS["run_s"][0]
        return {
            t["Stage ID"]
            for t in self.tasks
            if (stages is None or t["Stage ID"] in stages)
            and any(a.get("Name") == name for a in (t.get("Task Info") or {}).get("Accumulables", []))
        }

    def task_skew(self, stages: set) -> float:
        """Slowest task over the median task of ``stages``."""
        times = [
            t["Task Info"]["Finish Time"] - t["Task Info"]["Launch Time"]
            for t in self.tasks
            if t["Stage ID"] in stages
        ]
        return max(times) / median(times)


PY_SQL_METRICS = {
    "run_s": ("time to run Python workers", 1e-3),
    "start_s": ("time to start Python workers", 1e-3),
    "sent_mb": ("data sent to Python workers", 1e-6),
    "ret_mb": ("data returned from Python workers", 1e-6),
}


def python_sql_metrics(log: "EventLog", stages: Optional[set]) -> Dict[str, float]:
    """The Python-UDF node's SQL metrics (ms and bytes in the log), summed."""
    return {k: log.accum_sum(name, stages) * scale for k, (name, scale) in PY_SQL_METRICS.items()}


def union_ms(intervals: List[tuple]) -> float:
    """Length of the union of [start, end) intervals."""
    tot, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                tot += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        tot += cur_e - cur_s
    return tot


def median(values: List[float]) -> float:
    return float(statistics.median(values))


def dir_stats(path: str) -> tuple:
    """(data files, MB) under a table directory, ignoring Spark's markers."""
    n, size = 0, 0
    for dirpath, _dirs, files in os.walk(path):
        for fn in files:
            if fn.startswith((".", "_")):
                continue
            n += 1
            size += os.path.getsize(os.path.join(dirpath, fn))
    return n, size / 1e6


def read_parquet_rows(path: str, columns: Optional[List[str]] = None):
    """Read a (hive-partitioned) parquet table with pyarrow, outside Spark."""
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=columns)
