"""Spans around the benchmark's calls into each layer, and the Spark
counters of the jobs each span ran.

A span tags its Spark jobs with a job group. Spans live in memory until
the run ends; then ``collect`` reads each group's stage and SQL counters
from the Spark UI's REST API (the UI is on in the traced run only) and
``write`` stores every span as one JSON file.
"""

from __future__ import annotations

import json
import re
import statistics
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field

MB = 1 << 20
_SIZE = re.compile(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)\b")
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
# SQL metrics read per span: name in the Spark UI -> (counter, scale)
_SQL_METRICS = {
    "data sent to Python workers": ("python_mb", 1 / MB),
    "data returned from Python workers": ("python_mb", 1 / MB),
    "number of files read": ("files_read", 1),
}


@dataclass
class Span:
    name: str
    group: str
    start: float
    end: float
    parent: str | None = None
    counters: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


def _sql_value(text: str) -> float:
    """First number of a Spark UI metric string, in bytes for sizes."""
    m = _SIZE.search(text)
    if m:
        return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]
    m = re.search(r"[\d.,]+", text)
    return float(m.group(0).replace(",", "")) if m else 0.0


class Tracer:
    """In-memory spans for one traced run."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.notes: dict[str, list[float]] = {}  # scalar metrics, one value per rep
        self._seq = 0

    @contextmanager
    def span(self, name: str, parent: str | None = None):
        self._seq += 1
        group = f"perfbench-{self._seq}-{name}"
        self.sc.setJobGroup(group, name)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(Span(name, group, start, end, parent))

    def note(self, name: str, value: float) -> None:
        self.notes.setdefault(name, []).append(value)

    # ------------------------------------------------------------ REST API
    def _get(self, path: str):
        url = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}/{path}"
        with urllib.request.urlopen(url, timeout=30) as resp:
            return json.load(resp)

    def collect(self) -> None:
        """Fill ``Span.counters`` from the stage and SQL counters of each
        span's job group."""
        wanted = {s.group for s in self.spans}
        jobs = self._settled_jobs(wanted)
        by_group: dict[str, list[dict]] = {}
        for job in jobs:
            by_group.setdefault(job.get("jobGroup"), []).append(job)
        stages = {}
        for st in self._get("stages"):
            if st["status"] in ("COMPLETE", "FAILED"):
                stages[(st["stageId"], st["attemptId"])] = st
        execs = self._get("sql?details=true&planDescription=false&offset=0&length=100000")
        for span in self.spans:
            group_jobs = by_group.get(span.group, [])
            job_ids = {j["jobId"] for j in group_jobs}
            stage_ids = {sid for j in group_jobs for sid in j["stageIds"]}
            own = [st for (sid, _), st in stages.items() if sid in stage_ids]
            c = {
                "spark_jobs": len(group_jobs),
                "executor_run_s": sum(st["executorRunTime"] for st in own) / 1e3,
                "executor_cpu_s": sum(st["executorCpuTime"] for st in own) / 1e9,
                "gc_s": sum(st.get("jvmGcTime", 0) for st in own) / 1e3,
                "shuffle_read_mb": sum(st["shuffleReadBytes"] for st in own) / MB,
                "shuffle_write_mb": sum(st["shuffleWriteBytes"] for st in own) / MB,
                "shuffle_read_records": sum(st["shuffleReadRecords"] for st in own),
                "spill_mb": sum(st["memoryBytesSpilled"] + st["diskBytesSpilled"] for st in own) / MB,
                "write_mb": sum(st["outputBytes"] for st in own) / MB,
                "tasks": sum(st["numCompleteTasks"] + st["numFailedTasks"] for st in own),
                "failed_tasks": sum(st["numFailedTasks"] for st in own),
                "task_skew": self._skew(own),
                "python_mb": 0.0,
                "files_read": 0.0,
                "partitioned_scan_rows": 0.0,
            }
            for ex in execs:
                if not job_ids & set(ex.get("successJobIds", []) + ex.get("failedJobIds", [])):
                    continue
                for node in ex.get("nodes", []):
                    names = {m["name"]: m["value"] for m in node.get("metrics", [])}
                    for metric, (key, scale) in _SQL_METRICS.items():
                        if metric in names:
                            c[key] += _sql_value(names[metric]) * scale
                    if "number of partitions read" in names and "number of output rows" in names:
                        c["partitioned_scan_rows"] += _sql_value(names["number of output rows"])
            span.counters = c

    def _settled_jobs(self, groups: set[str], timeout_s: float = 30.0) -> list[dict]:
        """Jobs of the given groups, once the UI has seen them all end
        (its listener runs behind the driver)."""
        deadline = time.monotonic() + timeout_s
        while True:
            jobs = [j for j in self._get("jobs") if j.get("jobGroup") in groups]
            if all(j["status"] in ("SUCCEEDED", "FAILED") for j in jobs) or time.monotonic() > deadline:
                return jobs
            time.sleep(0.2)

    def _skew(self, stages: list[dict]) -> float:
        """Max / median task run time in the longest stage."""
        if not stages:
            return 0.0
        top = max(stages, key=lambda st: st["executorRunTime"])
        q = self._get(f"stages/{top['stageId']}/{top['attemptId']}/taskSummary?quantiles=0.5,1.0")
        med, mx = q["executorRunTime"]
        return mx / max(med, 1.0)

    def write(self, path: str, extra: dict) -> None:
        spans = [s.__dict__ | {"wall_s": s.wall_s} for s in self.spans]
        with open(path, "w") as f:
            json.dump(extra | {"notes": self.notes, "spans": spans}, f, indent=1)


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0
