"""Spans around calls into each layer, Spark counters and memory read
from outside the engine.

Spans are recorded by the benchmark itself around public calls; nothing
inside ``openmldb_spark`` is instrumented. Counters come from Spark's own
status tracker (jobs), the JVM status store (stages: input, shuffle and
spill bytes) and the SQL status store (Python worker metrics), read per
job group after a step's actions finish.
"""

from __future__ import annotations

import os
import re
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory spans: name, layer, start, end, parent, iteration."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.iteration: str | None = None

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name, "layer": layer,
               "parent": self._stack[-1] if self._stack else None,
               "iter": self.iteration, "start": time.perf_counter(),
               "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> list[dict]:
        """Each span with ``self_s``: its duration minus the part of it
        that its children cover (children never overlap: one thread)."""
        child_s: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + \
                    s["end"] - s["start"]
        return [dict(s, dur_s=s["end"] - s["start"],
                     self_s=s["end"] - s["start"] - child_s.get(s["id"], 0.0))
                for s in self.spans]


_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
         "TiB": 1 << 40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_PY_METRICS = {"data sent to Python workers": "arrow_in_bytes",
               "data returned from Python workers": "arrow_out_bytes",
               "time to run Python workers": "run_s"}


def parse_metric(text: str) -> float:
    """A value as the SQL status store formats it: either a bare figure
    ("12.3 KiB", "1.2 s", "1,234") or a "total (min, med, max ...)"
    header line followed by the figures, of which the total comes first."""
    line = text.strip().splitlines()[-1]
    m = re.match(r"\s*([\d,.]+)\s*([A-Za-z]*)", line)
    if not m:
        raise ValueError(f"unparsed SQL metric {text!r}")
    v = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return v * _SIZE.get(unit, _TIME.get(unit, 1.0))


class SparkCounters:
    """Per-job-group counters from the status tracker and status stores."""

    STAGE_FIELDS = {"executorRunTime": "task_ms",
                    "inputBytes": "read_bytes",
                    "shuffleWriteBytes": "shuffle_write_bytes",
                    "memoryBytesSpilled": "spill_bytes",
                    "diskBytesSpilled": "spill_bytes"}

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._tracker = self.sc.statusTracker()
        self._no_quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        self._seen_execs = 0
        self._execs: list[tuple[set, dict]] = []

    @contextmanager
    def group(self, gid: str):
        self.sc.setJobGroup(gid, gid)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def read(self, gid: str) -> dict:
        """Counters of every job launched under ``gid``."""
        self._bus.waitUntilEmpty()
        jobs = list(self._tracker.getJobIdsForGroup(gid))
        stages: set[int] = set()
        for j in jobs:
            info = self._tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "task_ms": 0,
               "read_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
               "arrow_in_bytes": 0.0, "arrow_out_bytes": 0.0, "run_s": 0.0}
        empty = self.sc._jvm.java.util.ArrayList()
        for sid in stages:
            attempts = self._store.stageData(sid, False, empty, False,
                                             self._no_quantiles)
            for k in range(attempts.length()):
                st = attempts.apply(k)
                if st.status().toString() != "COMPLETE":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                for field, key in self.STAGE_FIELDS.items():
                    out[key] += getattr(st, field)()
        self._read_sql(set(jobs), out)
        return out

    def _read_sql(self, jobs: set[int], out: dict) -> None:
        """Python worker metrics of the SQL executions that ran ``jobs``."""
        self._fetch_executions()
        for ex_jobs, metrics in self._execs:
            if ex_jobs & jobs:
                for k, v in metrics.items():
                    out[k] += v

    def _fetch_executions(self) -> None:
        """Append each SQL execution not seen yet, as (its job ids, its
        Python worker metrics); the store lists them in id order."""
        n = self._sql.executionsCount()
        if n == self._seen_execs:
            return
        new = self._sql.executionsList(self._seen_execs, n - self._seen_execs)
        self._seen_execs = n
        for i in range(new.length()):
            ex = new.apply(i)
            eid = ex.executionId()
            values = _scala_map(self._sql.executionMetrics(eid))
            metrics = dict.fromkeys(_PY_METRICS.values(), 0.0)
            nodes = self._sql.planGraph(eid).allNodes()
            for k in range(nodes.length()):
                node_metrics = nodes.apply(k).metrics()
                for m_i in range(node_metrics.length()):
                    m = node_metrics.apply(m_i)
                    key = _PY_METRICS.get(m.name())
                    v = values.get(m.accumulatorId())
                    if key is not None and v is not None:
                        metrics[key] += parse_metric(v)
            self._execs.append((set(_scala_map(ex.jobs())), metrics))


def _scala_map(m) -> dict:
    # keys are Scala Longs: a py4j lookup would box a small Python int
    # as an Integer and miss, so read the entries instead
    out = {}
    it = m.iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2()
    return out


class RssSampler:
    """Peak summed RSS of the JVM and its descendants (the Python
    workers), sampled from /proc by one thread while active."""

    PERIOD_S = 0.1

    def __init__(self, root_pid: int):
        self.root_pid = root_pid
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self):
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self.sample_kb())
            self._stop.wait(self.PERIOD_S)

    def sample_kb(self) -> int:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(name))
        total, todo = 0, [self.root_pid]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, ()))
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmRSS:"):
                            total += int(line.split()[1])
                            break
            except OSError:
                pass
        return total
