"""What the benchmark reads from outside the engine after each op.

- Spark's stage store (``AppStatusStore``) and SQL store
  (``SQLAppStatusStore``): both keep working with ``spark.ui.enabled=false``.
  Each op runs under its own job group, and the stores are read after
  **every** op, because one suite op creates ~90 stages and Spark keeps only
  the last 1000.
- The JVM's compilation and GC MXBeans through ``spark._jvm``.
- ``/proc``: CPU of the driver, the JVM and everything else in the process
  tree (the Python workers), and the peak resident memory of the Python
  processes and of the JVM.

Units: ``*_s`` are seconds, ``*_mib`` MiB. Executor run time and Python
worker times are task-summed wall time, not CPU.
"""

from __future__ import annotations

import os
import re
import threading

from audit_anomaly_detection_etl_spark.procstat import proc_tree_cpu_seconds

_HZ = os.sysconf("SC_CLK_TCK")
_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
# SQL metric name -> per-layer metric it feeds (value in MiB or s)
_PY_METRICS = {
    "data sent to Python workers": "arrow.mib_to_python",
    "data returned from Python workers": "arrow.mib_from_python",
    "time to start Python workers": "pyworker.start_s",
    "time to initialize Python workers": "pyworker.init_s",
    "time to run Python workers": "pyworker.run_s",
}
_SEP = "\u0001"


def parse_metric(text: str) -> float:
    """A formatted SQL metric value -> MiB (sizes), seconds (timings) or a
    plain number. Aggregated values read ``total (min, med, max ...)\\nX``;
    the total is the first value on the second line."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = re.match(r"\s*([-0-9.,]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE:
        return num * _SIZE[unit] / 2**20
    return num * _TIME.get(unit, 1.0)


# ---------------------------------------------------------------------------
# process tree
# ---------------------------------------------------------------------------

def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def _tree_pids() -> list[int]:
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                parent[int(d)] = int(st[1])
    kids: dict[int, list[int]] = {}
    for p, pp in parent.items():
        kids.setdefault(pp, []).append(p)
    out, stack = [], [os.getpid()]
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(kids.get(p, []))
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


def jvm_pid() -> int | None:
    """The Spark driver JVM: the java process among this process's children."""
    return next((p for p in _tree_pids() if _comm(p) == "java"), None)


class CpuSplit:
    """Process-tree CPU split three ways: the driver (this Python process),
    the JVM's own threads, and the rest of the tree (Python workers and
    their daemon, including exited ones, as ``procstat`` counts them)."""

    def __init__(self) -> None:
        self.jvm = jvm_pid()

    def sample(self) -> dict[str, float]:
        t = os.times()
        st = _stat(self.jvm) if self.jvm else None
        jvm = (int(st[11]) + int(st[12])) / _HZ if st else 0.0
        return {"tree": proc_tree_cpu_seconds(), "driver": t.user + t.system, "jvm": jvm}

    @staticmethod
    def delta(a: dict, b: dict) -> dict[str, float]:
        tree = b["tree"] - a["tree"]
        drv = b["driver"] - a["driver"]
        jvm = b["jvm"] - a["jvm"]
        return {
            "proc.driver_cpu_s": drv,
            "proc.jvm_cpu_s": jvm,
            "proc.pyworker_cpu_s": max(0.0, tree - drv - jvm),
        }


def _hwm_mib(pid: int) -> float:
    """Peak resident size (``VmHWM``) since the process started or since
    ``_reset_hwm``."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except (OSError, ValueError, IndexError):
        pass
    return 0.0


def _reset_hwm(pid: int) -> None:
    try:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass


class RssPeak:
    """Peak resident memory of one op, from each process's own high-water
    mark (``VmHWM``), which ``begin()`` resets: the JVM's, and the sum over
    the Python processes of the tree (this driver, the worker daemon and its
    workers). A thread reads the marks every ``period_s`` while
    ``measuring`` is set, so a worker that exits during the op still counts.

    High-water marks catch each process's peak exactly, where sampling
    ``VmRSS`` misses short peaks. Matching processes by name leaves out a
    fork of the JVM that has not yet called ``exec``, which would otherwise
    count the JVM's pages twice."""

    def __init__(self, period_s: float = 0.2) -> None:
        self.measuring = threading.Event()
        self._period = period_s
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self.py = self.jvm = 0.0

    def begin(self) -> None:
        for p in _tree_pids():
            _reset_hwm(p)
        self.py = self.jvm = 0.0

    def __enter__(self) -> "RssPeak":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._done.set()
        self._thread.join(timeout=10)

    def sample(self) -> None:
        py, me = 0.0, os.getpid()
        for p in _tree_pids():
            c = _comm(p)
            if p == me or c.startswith("python"):
                py += _hwm_mib(p)
            elif c == "java":
                self.jvm = max(self.jvm, _hwm_mib(p))
        self.py = max(self.py, py)

    def _run(self) -> None:
        while not self._done.is_set():
            if self.measuring.is_set():
                self.sample()
            self._done.wait(self._period)


# ---------------------------------------------------------------------------
# JVM and Spark stores
# ---------------------------------------------------------------------------

def jvm_counters(spark) -> dict[str, float]:
    mf = spark._jvm.java.lang.management.ManagementFactory
    gc_ms, gc_n = 0.0, 0.0
    for g in mf.getGarbageCollectorMXBeans():
        gc_ms += max(0, g.getCollectionTime())
        gc_n += max(0, g.getCollectionCount())
    return {
        "jvm.jit_ms": float(mf.getCompilationMXBean().getTotalCompilationTime()),
        "jvm.gc_ms": gc_ms,
        "jvm.gc_count": gc_n,
    }


class SparkStores:
    """Reads the stage and SQL stores for the jobs of one job group."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self._app = spark._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._last_exec = -1
        for _ in self._new_executions():  # skip what set-up ran
            pass

    def _new_executions(self):
        """SQL executions not seen before, oldest first."""
        n = int(self._sql.executionsCount())
        rows = self._sql.executionsList(0, n) if n else None
        for i in range(rows.size() if rows is not None else 0):
            u = rows.apply(i)
            eid = int(u.executionId())
            if eid > self._last_exec:
                self._last_exec = eid
                yield eid, u

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def harvest(self, group: str) -> dict[str, float]:
        out = {k: 0.0 for k in (
            "spark.jobs", "spark.stages", "spark.tasks", "spark.exchanges",
            "spark.shuffle_write_mib", "spark.scan_mib", "spark.executor_cpu_s",
            "spark.executor_run_s", "spark.task_gc_s", "arrow.python_passes",
            *_PY_METRICS.values(),
        )}
        tracker = self.sc.statusTracker()
        stage_ids: set[int] = set()
        for jid in tracker.getJobIdsForGroup(group):
            out["spark.jobs"] += 1
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in sorted(stage_ids):
            try:
                s = self._app.lastStageAttempt(int(sid))
            except Exception:  # noqa: BLE001 - skipped stage: never stored
                continue
            if s.status().toString() != "COMPLETE":
                continue
            out["spark.stages"] += 1
            out["spark.tasks"] += s.numCompleteTasks()
            out["spark.executor_cpu_s"] += s.executorCpuTime() / 1e9
            out["spark.executor_run_s"] += s.executorRunTime() / 1e3
            out["spark.task_gc_s"] += s.jvmGcTime() / 1e3
            out["spark.scan_mib"] += s.inputBytes() / 2**20
            out["spark.shuffle_write_mib"] += s.shuffleWriteBytes() / 2**20
        self._harvest_sql(out)
        self.sc.setJobGroup("", "")
        return out

    def _harvest_sql(self, out: dict[str, float]) -> None:
        for eid, u in self._new_executions():
            names: dict[str, str] = {}
            for m in u.metrics().mkString(_SEP).split(_SEP):
                # SQLPlanMetric(name,accumulatorId,metricType)
                if m.startswith("SQLPlanMetric(") and m.endswith(")"):
                    name, acc, _typ = m[len("SQLPlanMetric("):-1].rsplit(",", 2)
                    names[acc] = name
            for kv in self._sql.executionMetrics(eid).mkString(_SEP).split(_SEP):
                acc, _, val = kv.partition(" -> ")
                name = names.get(acc)
                if name in _PY_METRICS:
                    out[_PY_METRICS[name]] += parse_metric(val)
                    if name == "data sent to Python workers":
                        out["arrow.python_passes"] += 1
                elif name == "shuffle records written":
                    out["spark.exchanges"] += 1
