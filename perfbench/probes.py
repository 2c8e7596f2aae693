"""Measurement helpers: spans, Spark status/SQL REST metrics, memory
and on-disk byte probes, and order statistics.

Nothing here reaches into the package under test; spans are opened
by the workload code around calls into the package's public
functions.
"""

from __future__ import annotations

import contextlib
import datetime
import json
import os
import re
import statistics
import time
import urllib.request


def median(values) -> float:
    return statistics.median(values) if values else 0.0


def mix_median(samples) -> float:
    """Median latency of a query mix: each kind's median, averaged over
    the kinds. ``samples`` are (kind, seconds) pairs. The plain median
    of a mix falls between two kinds of different cost and jumps with
    the few samples near it; this one moves only when the kinds do."""
    by_kind: dict = {}
    for kind, t in samples:
        by_kind.setdefault(kind, []).append(t)
    return statistics.fmean(median(v) for v in by_kind.values()) if by_kind else 0.0


def tail(values) -> tuple[float, float]:
    """(percentile, value) of the highest percentile that still has at
    least ten samples above it; (0, nan) with fewer than 11 samples."""
    n = len(values)
    if n < 11:
        return 0.0, float("nan")
    s = sorted(values)
    idx = n - 11  # ten samples lie strictly above s[idx]
    return 100.0 * (idx + 1) / n, s[idx]


class Tracer:
    """In-memory spans: name, start, end, parent and attributes.

    Disabled, ``span`` still yields an attribute dict but records
    nothing, so the untraced run executes the same code path."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield attrs
        finally:
            self._stack.pop()
            rec["end"] = time.time()


# --------------------------------------------------------------------------
# Spark status + SQL REST API (the live UI of the driver's own app)
# --------------------------------------------------------------------------

_SIZE = re.compile(r"([\d.]+)\s*(B|KiB|MiB|GiB|TiB)")
_UNIT = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_PY_SENT = "data sent to Python workers"


def _ts(s: str) -> float:
    return (
        datetime.datetime.strptime(s[:23], "%Y-%m-%dT%H:%M:%S.%f")
        .replace(tzinfo=datetime.timezone.utc)
        .timestamp()
    )


def _size_total(value: str) -> int:
    """Byte total from a SQL size metric string ('12.3 MiB' or
    'total (min, med, max ...)\\n12.3 MiB (...)')."""
    m = _SIZE.search(value.split("\n")[-1])
    return int(float(m.group(1)) * _UNIT[m.group(2)]) if m else 0


class SparkRest:
    def __init__(self, spark):
        self.base = spark.sparkContext.uiWebUrl.rstrip("/") + "/api/v1/applications/"
        self.app = spark.sparkContext.applicationId

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.base}{self.app}/{path}", timeout=30) as r:
            return json.load(r)

    def snapshot(self) -> dict:
        """Finished jobs with their stage metrics and the SQL
        executions' Python-bytes metrics, each with epoch times."""
        stages = {s["stageId"]: s for s in self._get("stages")}
        jobs = []
        for j in self._get("jobs"):
            if not j.get("completionTime"):
                continue
            st = [stages[i] for i in j["stageIds"] if i in stages]
            jobs.append(
                {
                    "start": _ts(j["submissionTime"]),
                    "end": _ts(j["completionTime"]),
                    "tasks": sum(s.get("numCompleteTasks", 0) for s in st),
                    "run_ms": sum(s.get("executorRunTime", 0) for s in st),
                    "cpu_ns": sum(s.get("executorCpuTime", 0) for s in st),
                    "gc_ms": sum(s.get("jvmGcTime", 0) for s in st),
                    "shuffle_read": sum(s.get("shuffleReadBytes", 0) for s in st),
                    "shuffle_write": sum(s.get("shuffleWriteBytes", 0) for s in st),
                    "spill": sum(
                        s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
                        for s in st
                    ),
                }
            )
        sql = []
        for e in self._get("sql?details=true&planDescription=false&length=100000"):
            sent = sum(
                _size_total(m["value"])
                for n in e.get("nodes", [])
                for m in n.get("metrics", [])
                if m.get("name") == _PY_SENT
            )
            if sent and e.get("submissionTime"):
                sql.append({"start": _ts(e["submissionTime"]), "py_sent": sent})
        return {"jobs": jobs, "sql": sql}


def spark_metrics(snap: dict, start: float, end: float) -> dict:
    """Engine metrics of the jobs submitted inside [start, end], plus
    the span time during which no job of the app was running."""
    jobs = [j for j in snap["jobs"] if start <= j["start"] < end]
    busy, cur_s, cur_e = 0.0, None, None
    for j in sorted(jobs, key=lambda j: j["start"]):
        s, e = j["start"], min(j["end"], end)
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                busy += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        busy += cur_e - cur_s
    return {
        "spark.jobs": len(jobs),
        "spark.tasks": sum(j["tasks"] for j in jobs),
        "spark.executor_run_s": sum(j["run_ms"] for j in jobs) / 1e3,
        "spark.executor_cpu_s": sum(j["cpu_ns"] for j in jobs) / 1e9,
        "spark.jvm_gc_s": sum(j["gc_ms"] for j in jobs) / 1e3,
        "spark.shuffle_read_bytes": sum(j["shuffle_read"] for j in jobs),
        "spark.shuffle_write_bytes": sum(j["shuffle_write"] for j in jobs),
        "spark.spill_bytes": sum(j["spill"] for j in jobs),
        "spark.python_bytes_sent": sum(
            q["py_sent"] for q in snap["sql"] if start <= q["start"] < end
        ),
        "spark.driver_only_s": max(end - start - busy, 0.0),
    }


# --------------------------------------------------------------------------
# Process memory and on-disk bytes
# --------------------------------------------------------------------------


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of one process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(root, name))
            except FileNotFoundError:
                pass
    return total
