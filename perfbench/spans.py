"""Layer spans timed from outside the program.

Each span runs its calls under a Spark job group of its own.  When the span
ends, its jobs come from ``statusTracker`` and its stage metrics
(``executorRunTime``, shuffle bytes, spill, tasks) from the Spark UI's REST
API on localhost.  Spans stay in memory; ``dump`` writes them at the end of
the run.
"""

from __future__ import annotations

import json
import re
import time
import urllib.request
from contextlib import contextmanager
from urllib.parse import urlparse

MB = 1024.0 * 1024.0
_DONE = {"COMPLETE", "FAILED", "SKIPPED"}
_NODE_RE = re.compile(r"^\((\d+)\) (\w+)", re.M)


class Tracer:
    def __init__(self, spark, cores: int):
        sc = spark.sparkContext
        self.sc = sc
        self.cores = cores
        port = urlparse(sc.uiWebUrl).port
        self._api = (f"http://127.0.0.1:{port}/api/v1/applications/"
                     f"{sc.applicationId}")
        self.spans: list[dict] = []
        self._stack: list[str] = []

    def _get(self, path: str):
        with urllib.request.urlopen(self._api + path, timeout=30) as r:
            return json.load(r)

    @contextmanager
    def span(self, name: str, t0: float | None = None, **attrs):
        """Time the body under its own job group.  ``t0`` backdates the
        start (the session span starts before a SparkContext exists)."""
        group = f"{name}#{len(self.spans)}-{time.monotonic_ns()}"
        rec = {"name": name, "group": group,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), **attrs}
        self.sc.setJobGroup(group, group)
        self._stack.append(group)
        start = time.perf_counter() if t0 is None else t0
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - start
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1], self._stack[-1])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            rec.update(self._rollup(group, rec["wall_s"]))
            self.spans.append(rec)

    def _rollup(self, group: str, wall: float) -> dict:
        """Jobs and run stages of one job group.  A stage belongs to the
        group whose job submitted it (its description is the group name),
        so a shuffle reused by a later span is not counted twice."""
        tracker = self.sc.statusTracker()
        # a job AQE cancels (an unneeded broadcast or stage) ran no work of
        # the span, and whether one is left to cancel depends on timing
        jobs = [j for j in tracker.getJobIdsForGroup(group)
                if (info := tracker.getJobInfo(j)) is not None
                and info.status != "FAILED"]
        deadline = time.monotonic() + 10.0
        while True:
            stages = [s for s in self._get("/stages?details=false")
                      if s.get("description") == group]
            settled = all(s["status"] in _DONE for s in stages)
            if settled or time.monotonic() > deadline:
                break
            time.sleep(0.05)
        ran = [s for s in stages if s["status"] != "SKIPPED"]
        core = sum(s["executorRunTime"] for s in ran) / 1000.0
        return {
            "jobs": len(jobs),
            "tasks": sum(s["numCompleteTasks"] for s in ran),
            "core_s": core,
            "idle_core_s": wall * self.cores - core,
            "shuffle_mb": sum(s["shuffleReadBytes"] + s["shuffleWriteBytes"]
                              for s in ran) / MB,
            "spill_mb": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"]
                            for s in ran) / MB,
        }

    def dump(self, path) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


def plan_nodes(df) -> list[str]:
    """Operator names of the physical plan, as ``explain("formatted")``
    lists them; explaining runs no job."""
    jvm = df.sparkSession.sparkContext._jvm
    text = jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(),
                                            "formatted")
    return [m.group(2) for m in _NODE_RE.finditer(text)]


def plan_exchanges(df) -> int:
    return sum(n.endswith("Exchange") and n != "ReusedExchange"
               for n in plan_nodes(df))


def plan_python_nodes(df) -> int:
    return sum("Python" in n or "Pandas" in n or "Arrow" in n
               for n in plan_nodes(df))


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM (local mode: driver and executors)."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return float("nan")


def storage_mb(spark) -> float:
    """Memory plus disk held by cached RDDs and DataFrames."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / MB
