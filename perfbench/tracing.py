"""In-memory spans tagged with Spark job groups, and counters read back
from Spark's status store.

A span records (id, name, start, end, parent, op). While it is open, every
Spark job the calling thread submits carries the job group ``<op>/<name>``,
so the status store attributes stages, tasks and records to the innermost
span. Nothing here touches program code: the spans wrap calls made from the
benchmark's own files.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[dict] = []
        self._open: list[dict] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        parent = self._open[-1] if self._open else None
        rec = {
            "id": len(self.spans) + len(self._open),
            "name": name,
            "op": op if op is not None else (parent["op"] if parent else None),
            "parent": parent["id"] if parent else None,
            "start": time.perf_counter(),
        }
        self._open.append(rec)
        self.sc.setJobGroup(group(rec["op"], name), name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()
            self.spans.append(rec)
            if parent is not None:
                self.sc.setJobGroup(group(parent["op"], parent["name"]), parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["id"]):
                f.write(json.dumps(s) + "\n")


def group(op: str | None, name: str) -> str:
    return f"{op}/{name}"


class GcClock:
    """Cumulative JVM garbage-collection time over all collectors, in s."""

    def __init__(self, spark) -> None:
        mf = spark._jvm.java.lang.management.ManagementFactory
        self._beans = list(mf.getGarbageCollectorMXBeans())

    def seconds(self) -> float:
        return sum(max(b.getCollectionTime(), 0) for b in self._beans) / 1000.0


def job_group_counters(sc) -> dict[str, dict[str, int]]:
    """Per job group: jobs, tasks, input/output records, run and GC ms.

    Sums each completed stage once; stages a job reused from an earlier job
    show as skipped and are not counted again.
    """
    jsc = sc._jsc.sc()
    try:
        jsc.listenerBus().waitUntilEmpty()
    except Exception:  # the bus API is internal; fall back to a short wait
        time.sleep(1.0)
    store = jsc.statusStore()
    jobs = store.jobsList(None)
    stages: dict[str, set[int]] = {}
    out: dict[str, dict[str, int]] = {}
    for i in range(jobs.size()):
        job = jobs.apply(i)
        g = job.jobGroup()
        if not g.isDefined():
            continue
        name = g.get()
        c = out.setdefault(
            name,
            {"jobs": 0, "tasks": 0, "input_records": 0, "output_records": 0, "run_ms": 0, "gc_ms": 0},
        )
        c["jobs"] += 1
        ids = job.stageIds()
        stages.setdefault(name, set()).update(ids.apply(k) for k in range(ids.size()))
    for name, ids in stages.items():
        c = out[name]
        for sid in ids:
            st = store.lastStageAttempt(sid)
            if st.status().toString() != "COMPLETE":
                continue
            c["tasks"] += st.numCompleteTasks()
            c["input_records"] += st.inputRecords()
            c["output_records"] += st.outputRecords()
            c["run_ms"] += st.executorRunTime()
            c["gc_ms"] += st.jvmGcTime()
    return out
