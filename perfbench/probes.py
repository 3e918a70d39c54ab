"""Runtime probes read from outside the program under test.

Everything here reads Spark's status stores and listener buses, which
stay populated with ``spark.ui.enabled=false``, or ``/proc``. Nothing
inside ``sea_serpent_spark`` is instrumented.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import threading
from pathlib import Path

_PAGE = os.sysconf("SC_PAGE_SIZE")

#: SQL plan metric name → Python-boundary field; names as Spark 4 labels
#: them on ArrowEvalPython, MapInPandas and friends. Times are summed
#: over tasks, so they can exceed wall time.
PY_METRICS = {
    "time to run Python workers": "run_s",
    "time to initialize Python workers": "init_s",
    "data sent to Python workers": "mb_sent",
    "data returned from Python workers": "mb_recv",
}
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def parse_metric(text: str) -> float:
    """A formatted SQL metric value as a number: seconds for timings,
    MiB for sizes, the plain number otherwise. Aggregated metrics read
    ``total (min, med, max ...)\\n<total> (...)``; only the total counts."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = re.match(r"\s*([-\d.,]+)\s*([A-Za-z]*)", text)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _TIME_UNITS:
        return num * _TIME_UNITS[unit]
    if unit in _SIZE_UNITS:
        return num * _SIZE_UNITS[unit] / 2**20
    return num


class StatusStore:
    """Jobs, SQL executions, executor GC and persisted RDDs of one
    SparkContext, read through the app and SQL status stores."""

    def __init__(self, spark):
        jvm = spark.sparkContext._jvm
        self._ssc = spark.sparkContext._jsc.sc()
        self._store = self._ssc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        mapper.registerModule(getattr(scala, "MODULE$"))
        #: Jackson mapper (Scala-aware) that turns status objects into JSON
        self.mapper = mapper
        self.last_job = -1
        self.last_exec = -1

    def _json(self, obj):
        return json.loads(self.mapper.writeValueAsString(obj))

    def drain(self) -> None:
        """Wait until every listener (status stores included) has seen
        every event posted so far."""
        self._ssc.listenerBus().waitUntilEmpty()

    def new_jobs(self) -> list[dict]:
        """Jobs submitted since the last call: id, epoch-second interval,
        tasks run (skipped stages excluded)."""
        out = []
        for j in self._json(self._store.jobsList(None)):
            if j["jobId"] <= self.last_job:
                continue
            out.append({
                "id": j["jobId"],
                "start": j["submissionTime"] / 1000.0,
                "end": (j.get("completionTime") or j["submissionTime"]) / 1000.0,
                "tasks": j["numTasks"] - j["numSkippedTasks"],
                "status": j["status"],
            })
        if out:
            self.last_job = max(j["id"] for j in out)
        return sorted(out, key=lambda j: j["id"])

    def new_python_metrics(self) -> dict[str, float]:
        """Python-worker time and bytes summed over SQL executions that
        started since the last call."""
        totals = {v: 0.0 for v in PY_METRICS.values()}
        count = self._sql.executionsCount()
        if count == 0:
            return totals
        execs = self._sql.executionsList(0, int(count))
        for i in range(execs.size()):
            e = execs.apply(i)
            eid = e.executionId()
            if eid <= self.last_exec:
                continue
            self.last_exec = max(self.last_exec, eid)
            wanted = {
                str(m["accumulatorId"]): PY_METRICS[m["name"]]
                for m in self._json(e.metrics())
                if m["name"] in PY_METRICS
            }
            if not wanted:
                continue
            values = self._json(self._sql.executionMetrics(eid))
            for acc, key in wanted.items():
                if acc in values:
                    totals[key] += parse_metric(values[acc])
        return totals

    def gc_seconds(self) -> float:
        return sum(e["totalGCTime"] for e in self._json(self._store.executorList(True))) / 1000.0

    def resident(self) -> tuple[int, float]:
        """(persisted RDD count, MiB in memory and on disk)."""
        rdds = self._json(self._store.rddList(True))
        mb = sum(r["memoryUsed"] + r["diskUsed"] for r in rdds) / 2**20
        return len(rdds), mb


class PlanListener:
    """QueryExecutionListener (a py4j callback) recording the Catalyst
    phase intervals of every executed query: ``(name, start_s, end_s)``."""

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    def __init__(self, mapper):
        self._mapper = mapper
        self._lock = threading.Lock()
        self.phases: list[tuple[str, float, float]] = []
        self.executions = 0

    def onSuccess(self, func_name, qe, duration_ns):
        self._record(qe)

    def onFailure(self, func_name, qe, exc):
        self._record(qe)

    def _record(self, qe) -> None:
        try:
            phases = json.loads(self._mapper.writeValueAsString(qe.tracker().phases()))
        except Exception as e:  # a listener must never break the query
            print(f"# plan listener: {e}", file=sys.stderr)
            phases = {}
        with self._lock:
            self.executions += 1
            for name, p in phases.items():
                self.phases.append((name, p["startTimeMs"] / 1000.0, p["endTimeMs"] / 1000.0))

    def take(self) -> tuple[int, list[tuple[str, float, float]]]:
        with self._lock:
            out = (self.executions, self.phases)
            self.executions, self.phases = 0, []
        return out


def streaming_listener():
    """A StreamingQueryListener counting started queries and completed
    micro-batches with their durations."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def __init__(self):
            self._lock = threading.Lock()
            self.queries = 0
            self.batches: list[float] = []

        def onQueryStarted(self, event):
            with self._lock:
                self.queries += 1

        def onQueryProgress(self, event):
            with self._lock:
                self.batches.append(event.progress.batchDuration / 1000.0)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def take(self) -> tuple[int, list[float]]:
            with self._lock:
                out = (self.queries, self.batches)
                self.queries, self.batches = 0, []
            return out

    return _Listener()


def descendants(pid: int) -> list[int]:
    """Every live descendant of ``pid``; its first child comes first."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            tids = os.listdir(f"/proc/{p}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    kids = [int(c) for c in f.read().split()]
            except OSError:
                continue
            out.extend(kids)
            todo.extend(kids)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, ValueError, IndexError):
        return 0


class RssSampler:
    """Samples the RSS of this process's descendants every ``interval``
    seconds: the driver JVM (the first child) and, apart, the Python
    workers it forks. Keeps the peak of each."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self._peak_jvm = self._peak_workers = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.wait(self.interval):
            rss = [_rss_bytes(p) for p in descendants(me)]
            if rss:
                self._peak_jvm = max(self._peak_jvm, rss[0])
                self._peak_workers = max(self._peak_workers, sum(rss[1:]))

    def start(self) -> None:
        self._thread.start()

    def reset(self) -> None:
        self._peak_jvm = self._peak_workers = 0

    def peaks_mb(self) -> tuple[float, float]:
        """(driver JVM, Python workers) peak RSS in MiB."""
        return self._peak_jvm / 2**20, self._peak_workers / 2**20

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def tree_cpu_seconds(pid: int | None = None) -> float:
    """User plus system CPU seconds of ``pid`` (this process by default)
    and every live descendant, with their reaped children."""
    pid = pid or os.getpid()
    total = 0
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def steal_pct(start: tuple[int, int], end: tuple[int, int]) -> float | None:
    total = end[1] - start[1]
    return round(100.0 * (end[0] - start[0]) / total, 2) if total > 0 else None


def git_commit(root: Path) -> str | None:
    if not (root / ".git").exists():
        return None
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def versions(spark) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": sys.version.split()[0],
    }


def process_start() -> float:
    """Epoch seconds at which this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(ln.split()[1]) for ln in f if ln.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")
