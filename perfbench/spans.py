"""In-memory spans and per-job-group stage totals for the traced run.

Spans are recorded around the benchmark's calls into each layer and
written out once, when the run ends. Stage totals come from Spark's
status store (``lastStageAttempt``), which is populated with the UI
off; they are read right after each query or stream run, before the
store's retention limit can evict them.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager

STAGE_FIELDS = (
    "tasks", "executor_run_s", "executor_cpu_s", "gc_s", "input_bytes",
    "input_rows", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)


class Tracer:
    """Spans of one run: name, start, end, parent span and trace id."""

    def __init__(self) -> None:
        self.spans: list[dict] = []

    def add(self, name: str, start: float, end: float, trace_id: str,
            parent: int | None = None, **attrs) -> int:
        self.spans.append({
            "id": len(self.spans), "name": name, "start": start, "end": end,
            "parent": parent, "trace_id": trace_id, **attrs,
        })
        return len(self.spans) - 1

    @contextmanager
    def span(self, name: str, trace_id: str, parent: int | None = None):
        """Times the block; yields the span id so children can name it."""
        sid = self.add(name, time.time(), 0.0, trace_id, parent)
        try:
            yield sid
        finally:
            self.spans[sid]["end"] = time.time()

    def duration(self, sid: int) -> float:
        return self.spans[sid]["end"] - self.spans[sid]["start"]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def empty_totals() -> dict:
    return {"jobs": 0, "stages": 0, **{k: 0 for k in STAGE_FIELDS}}


def stage_totals(sc, job_ids, batch_filter=None) -> dict:
    """Sum the stage metrics of ``job_ids`` (skipped stages excluded).

    ``batch_filter`` keeps only streaming jobs whose description names
    a micro-batch id it accepts."""
    from py4j.protocol import Py4JJavaError

    store = sc._jsc.sc().statusStore()
    tot = empty_totals()
    for jid in job_ids:
        info = sc.statusTracker().getJobInfo(jid)
        if info is None:
            continue
        if batch_filter is not None:
            desc = store.job(jid).description()
            m = re.search(r"batch = (\d+)", desc.get() if desc.isDefined() else "")
            if m is None or not batch_filter(int(m.group(1))):
                continue
        tot["jobs"] += 1
        for sid in info.stageIds:
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:
                continue
            if st.status().toString() == "SKIPPED":
                continue
            tot["stages"] += 1
            tot["tasks"] += st.numCompleteTasks()
            tot["executor_run_s"] += st.executorRunTime() / 1e3
            tot["executor_cpu_s"] += st.executorCpuTime() / 1e9
            tot["gc_s"] += st.jvmGcTime() / 1e3
            tot["input_bytes"] += st.inputBytes()
            tot["input_rows"] += st.inputRecords()
            tot["shuffle_read_bytes"] += st.shuffleReadBytes()
            tot["shuffle_write_bytes"] += st.shuffleWriteBytes()
            tot["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return tot


def add_totals(acc: dict, more: dict) -> None:
    for k, v in more.items():
        acc[k] += v
