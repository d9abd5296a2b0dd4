"""Spark counters read from the driver's own status store, by job group.

``snapshot(sc)`` serializes the store's job and stage lists to plain
JSON-shaped dicts in one call (Jackson, which Spark ships). ``totals``
is a pure function over that snapshot, so the parser can be tested on a
canned fixture without a JVM.

Units in the snapshot: ``executorCpuTime`` ns, ``jvmGcTime`` ms, bytes
for shuffle and spill, epoch ms for job submission and completion.
Skipped stages carry zero metrics, and a stage id listed by several
jobs of a group is summed once, so each unit of work counts once.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

MB = 1e6


@dataclass
class Counters:
    jobs: int = 0
    tasks: int = 0
    cpu_s: float = 0.0
    shuffle_mb: float = 0.0
    spill_mb: float = 0.0
    gc_s: float = 0.0


def snapshot(sc) -> dict:
    """Jobs and stages of the status store, after the listener bus has
    delivered every event posted so far."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    jvm = sc._jvm
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    mapper.registerModule(getattr(getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"), "MODULE$"))
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    return {
        "jobs": json.loads(mapper.writeValueAsString(store.jobsList(None))),
        "stages": json.loads(
            mapper.writeValueAsString(store.stageList(None, False, False, no_quantiles, None))
        ),
    }


def totals(snap: dict, group: str, start: float | None = None, end: float | None = None) -> Counters:
    """Counters of the jobs in job group ``group``, optionally only those
    submitted within ``[start, end]`` (epoch seconds, 1 ms slack for the
    store's millisecond stamps)."""
    stages = {}
    for s in snap["stages"]:
        stages.setdefault(s["stageId"], []).append(s)
    c = Counters()
    seen = set()
    for j in snap["jobs"]:
        if j.get("jobGroup") != group:
            continue
        sub = j["submissionTime"] / 1000.0 if j.get("submissionTime") is not None else None
        if start is not None and (sub is None or sub < start - 0.001 or sub > end + 0.001):
            continue
        c.jobs += 1
        for sid in j["stageIds"]:
            if sid in seen:
                continue
            seen.add(sid)
            for s in stages.get(sid, []):
                c.tasks += s["numCompleteTasks"]
                c.cpu_s += s["executorCpuTime"] / 1e9
                c.shuffle_mb += s["shuffleWriteBytes"] / MB
                c.spill_mb += s["diskBytesSpilled"] / MB
                c.gc_s += s["jvmGcTime"] / 1000.0
    return c


def job_intervals(snap: dict) -> list[tuple[float, float]]:
    """(submission, completion) of every job, epoch seconds."""
    return [
        (j["submissionTime"] / 1000.0, (j.get("completionTime") or j["submissionTime"]) / 1000.0)
        for j in snap["jobs"]
        if j.get("submissionTime") is not None
    ]
