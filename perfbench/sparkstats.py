"""Spark scheduling counts per job group, and process memory from /proc.

Job and stage figures come from the Spark driver's status REST API on the
loopback interface (the same numbers the Spark UI shows). Memory comes
from ``VmHWM`` in ``/proc/<pid>/status``, since psutil is not available.
"""

from __future__ import annotations

import json
import os
import urllib.request
from urllib.parse import urlparse


def _get(base: str, path: str):
    with urllib.request.urlopen(base + path, timeout=30) as r:
        return json.load(r)


def job_stats(sc, groups: list[str], settle_s: float = 30.0) -> dict[str, dict]:
    """{group: {jobs, tasks, executor_run_s, shuffle_write_bytes}} over
    every job submitted under each job group so far."""
    # the status store is fed asynchronously by the listener bus: drain it
    # first, or the last jobs' end events and stage metrics may be missing
    sc._jsc.sc().listenerBus().waitUntilEmpty(int(settle_s * 1000))
    port = urlparse(sc.uiWebUrl).port
    base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
    jobs = [j for j in _get(base, "/jobs") if j.get("jobGroup") in groups]
    stages = {}
    for st in _get(base, "/stages"):
        if st["status"] == "COMPLETE":
            agg = stages.setdefault(st["stageId"], [0, 0])
            agg[0] += st["executorRunTime"]
            agg[1] += st["shuffleWriteBytes"]
    out = {g: {"jobs": 0, "tasks": 0, "executor_run_s": 0.0, "shuffle_write_bytes": 0}
           for g in groups}
    for j in jobs:
        o = out[j["jobGroup"]]
        o["jobs"] += 1
        o["tasks"] += j["numCompletedTasks"]
        for sid in j["stageIds"]:
            run_ms, shuffle = stages.get(sid, (0, 0))
            o["executor_run_s"] += run_ms / 1000.0
            o["shuffle_write_bytes"] += shuffle
    return out


def peak_rss_mb(pid: int) -> float:
    """Peak resident set size of a live process, in MiB."""
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def descendants(pid: int) -> list[int]:
    """Every live descendant of ``pid``, from /proc/<pid>/task/*/children."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            tasks = os.listdir(f"/proc/{p}/task")
        except FileNotFoundError:
            continue
        for t in tasks:
            try:
                with open(f"/proc/{p}/task/{t}/children", encoding="ascii") as f:
                    kids = [int(k) for k in f.read().split()]
            except FileNotFoundError:
                continue
            out.extend(kids)
            todo.extend(kids)
    return out
