"""Spans around the benchmark's calls into each layer, joined to Spark's
status-store counters.

A span records a name, start, end, parent and run id.  Spans live in memory
and are written out once, when the run ends, each with its self time (its
duration minus the part of it its child spans cover).  While a span is open
its id is the Spark job group, so Spark's own records carry the label.
Jobs submitted from threads the product starts itself (the ingest fan-out
pool) carry no group; they are attributed to the innermost span whose
interval holds their submission time, which is exact in a closed loop with
one call in flight.

A disabled tracer records nothing and makes no Spark calls.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

COUNTERS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "input_bytes", "input_rows", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes",
)


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._sc = None
        self._seen_jobs: set[int] = set()

    def attach(self, spark) -> None:
        """Bind to the session whose jobs the following spans label
        (``None`` while no session is running)."""
        self._sc = spark.sparkContext if spark is not None else None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = self._open(name, time.time())
        self._stack.append(rec)
        self._set_group(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def add(self, name: str, start: float, end: float) -> None:
        """Record a span measured elsewhere, as a child of the open span."""
        if self.enabled:
            self._open(name, start)["end"] = end

    def _open(self, name: str, start: float) -> dict:
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "run": self.run_id,
            "start": start,
            "end": None,
        }
        rec.update({c: 0 for c in COUNTERS})
        self.spans.append(rec)
        return rec

    def _set_group(self, rec: dict | None) -> None:
        if self._sc is None:
            return
        if rec is None:
            self._sc._jsc.clearJobGroup()
        else:
            self._sc.setJobGroup(f"{self.run_id}:{rec['id']}", rec["name"])

    def collect(self) -> None:
        """Join the status store's finished jobs and their stages to spans.

        Call between passes, outside timed regions: the store keeps a
        bounded number of jobs."""
        if not self.enabled or self._sc is None:
            return
        store = self._sc._jsc.sc().statusStore()
        jobs = store.jobsList(None)
        prefix = f"{self.run_id}:"
        for i in range(jobs.size()):
            job = jobs.apply(i)
            jid = job.jobId()
            if jid in self._seen_jobs or not job.completionTime().isDefined():
                continue
            self._seen_jobs.add(jid)
            group = job.jobGroup()
            rec = None
            if group.isDefined() and group.get().startswith(prefix):
                rec = self.spans[int(group.get()[len(prefix):])]
            submitted = job.submissionTime().get().getTime() / 1000.0
            inner = self._innermost(submitted, rec)
            if inner is None:
                continue
            inner["jobs"] += 1
            stage_ids = job.stageIds()
            for k in range(stage_ids.size()):
                st = store.lastStageAttempt(stage_ids.apply(k))
                if st.status().toString() != "COMPLETE":
                    continue
                inner["stages"] += 1
                inner["tasks"] += st.numCompleteTasks()
                inner["executor_run_s"] += st.executorRunTime() / 1e3
                inner["executor_cpu_s"] += st.executorCpuTime() / 1e9
                inner["gc_s"] += st.jvmGcTime() / 1e3
                inner["input_bytes"] += st.inputBytes()
                inner["input_rows"] += st.inputRecords()
                inner["shuffle_read_bytes"] += st.shuffleReadBytes()
                inner["shuffle_write_bytes"] += st.shuffleWriteBytes()
                inner["spill_bytes"] += st.diskBytesSpilled()

    def _innermost(self, t: float, labelled: dict | None) -> dict | None:
        """The latest-opened span holding ``t`` (ms-rounded job clock), at
        or below the span the job's group names."""
        best = labelled
        for rec in self.spans:
            if rec["end"] is None or not (
                rec["start"] - 0.002 <= t <= rec["end"] + 0.002
            ):
                continue
            if best is None or (
                rec["id"] > best["id"] and self._descends(rec, best)
            ):
                best = rec
        return best

    def _descends(self, rec: dict, anc: dict) -> bool:
        while rec["parent"] is not None:
            if rec["parent"] == anc["id"]:
                return True
            rec = self.spans[rec["parent"]]
        return False

    def total(self, key: str, since: int = 0) -> float:
        """Sum of counter ``key`` over the spans from index ``since`` on."""
        return sum(rec[key] for rec in self.spans[since:])

    def write(self, path: str, extra: dict) -> None:
        children: dict[int, list[dict]] = {}
        for rec in self.spans:
            if rec["parent"] is not None:
                children.setdefault(rec["parent"], []).append(rec)
        for rec in self.spans:
            if rec["end"] is None:
                continue
            covered = _union(
                [(c["start"], c["end"]) for c in children.get(rec["id"], [])
                 if c["end"] is not None],
                rec["start"], rec["end"],
            )
            rec["self_s"] = rec["end"] - rec["start"] - covered
        with open(path, "w") as fh:
            json.dump({**extra, "spans": self.spans}, fh, indent=1)


def _union(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_hi is None or s > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = s, e
        else:
            cur_hi = max(cur_hi, e)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
