"""Spark engine metrics per job group, read from the status store.

``fetch`` pulls every job and stage attempt from the driver's
``AppStatusStore`` in two JSON round trips (the store is live with
``spark.ui.enabled=false``). ``rollup`` is pure: it sums one job group's
stages from those JSON records, so tests can feed it hand-built input.
"""

from __future__ import annotations

import json
from typing import Iterable

from tracing import covered

MB = 1e6


def _mapper(sc):
    jvm = sc._jvm
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper.registerModule(getattr(scala_module, "MODULE$"))
    return mapper


def fetch(sc) -> tuple[list[dict], list[dict]]:
    """(jobs, stage attempts) as the status store's v1 JSON records."""
    store = sc._jsc.sc().statusStore()
    mapper = _mapper(sc)
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    stages = json.loads(
        mapper.writeValueAsString(store.stageList(None, False, False, no_quantiles, None))
    )
    return jobs, stages


def rollup(jobs: Iterable[dict], stages: Iterable[dict], group: str,
           window: tuple[float, float] | None = None) -> dict[str, float]:
    """Sum the jobs of ``group`` and their executed stage attempts.

    Skipped stages (shuffle output reused) do no work and are not
    counted. Only the last attempt of a stage counts, as the status store
    reports it. ``window`` = (start, end) in epoch seconds of the caller's
    operation: ``driver_gap_s`` is the part of it no job of the group
    covered.
    """
    mine = [j for j in jobs if j.get("jobGroup") == group]
    wanted = {sid for j in mine for sid in j["stageIds"]}
    last: dict[int, dict] = {}
    for st in stages:
        sid = st["stageId"]
        if sid in wanted and (sid not in last or st["attemptId"] > last[sid]["attemptId"]):
            last[sid] = st
    ran = [st for st in last.values() if st["status"] != "SKIPPED"]
    out: dict[str, float] = {
        "jobs": len(mine),
        "stages": len(ran),
        "tasks": sum(st["numCompleteTasks"] for st in ran),
        "run_s": sum(st["executorRunTime"] for st in ran) / 1e3,
        "cpu_s": sum(st["executorCpuTime"] for st in ran) / 1e9,
        "shuffle_write_mb": sum(st["shuffleWriteBytes"] for st in ran) / MB,
        "shuffle_read_mb": sum(st["shuffleReadBytes"] for st in ran) / MB,
        "spill_mb": sum(st["diskBytesSpilled"] for st in ran) / MB,
        "map_run_s": sum(st["executorRunTime"] for st in ran if st["shuffleWriteBytes"]) / 1e3,
        "reduce_run_s": sum(st["executorRunTime"] for st in ran if st["shuffleReadBytes"]) / 1e3,
    }
    out["wait_s"] = out["run_s"] - out["cpu_s"]
    if window is not None:
        lo, hi = window
        busy = [
            (max(lo, j["submissionTime"] / 1e3), min(hi, j["completionTime"] / 1e3))
            for j in mine
            if j.get("submissionTime") is not None and j.get("completionTime") is not None
        ]
        out["driver_gap_s"] = (hi - lo) - covered((s, e) for s, e in busy if e > s)
    return out


def jvm_pid(sc) -> int:
    return int(sc._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of a process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024 / MB
    raise RuntimeError(f"no VmHWM in /proc/{pid}/status")


def gc_seconds(sc) -> float:
    """Total collection time of every JVM garbage collector so far."""
    beans = sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1e3

