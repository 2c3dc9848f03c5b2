"""Tracing for the traced run: the benchmark's own spans around each
layer call, a streaming progress listener, and the Spark event-log
reader that turns both into per-layer metrics.

Spans are kept in memory and written out when the run ends. Each batch
span that launches Spark work sets a job group named after the span, so
event-log jobs map back to it; streaming jobs carry the query id and
batch id that Structured Streaming sets on every job it runs.
"""

from __future__ import annotations

import glob
import itertools
import json
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    """Records spans (name, start, end, parent, run id). With
    ``enabled`` false every call is a no-op, so the timed and traced
    runs execute the same code."""

    def __init__(self, spark, run_id: str, enabled: bool) -> None:
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count()

    @contextmanager
    def span(self, name: str, parent: str | None = None, job_group: bool = False, **attrs):
        if not self.enabled:
            yield None
            return
        sid = f"{self.run_id}.{next(self._ids)}"
        rec = {"id": sid, "name": name, "parent": parent, "run": self.run_id, **attrs}
        if job_group:
            self.sc.setJobGroup(sid, name)
        rec["start"] = time.time()
        try:
            yield sid
        finally:
            rec["end"] = time.time()
            if job_group:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)

    def add(self, name: str, start: float, end: float, parent: str | None = None, **attrs) -> str:
        sid = f"{self.run_id}.{next(self._ids)}"
        self.spans.append(
            {"id": sid, "name": name, "parent": parent, "run": self.run_id,
             "start": start, "end": end, **attrs}
        )
        return sid


class ProgressListener(StreamingQueryListener):
    """Keeps every StreamingQueryProgress as parsed JSON."""

    def __init__(self) -> None:
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        self.progress.append(json.loads(event.progress.json))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def self_times(spans: list[dict]) -> dict[str, float]:
    """Span duration minus the part of its interval its children cover."""
    kids: dict[str, list[tuple[float, float]]] = {}
    for s in spans:
        if s.get("parent"):
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cursor = 0.0, s["start"]
        for a, b in sorted(kids.get(s["id"], [])):
            a, b = max(a, cursor), min(b, s["end"])
            if b > a:
                covered += b - a
                cursor = b
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------

def read_event_log(log_dir: str) -> dict:
    """Jobs (with their properties and stages) and per-stage task
    totals from every event-log file under log_dir."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    # rolling logs: a directory per application, one or more files inside
    for path in sorted(glob.glob(f"{log_dir}/**/events_*", recursive=True)):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "submit": ev["Submission Time"] / 1000.0,
                        "stage_ids": ev.get("Stage IDs", []),
                        "group": props.get("spark.jobGroup.id"),
                        "call_site": props.get("callSite.short") or next(
                            (st.get("Stage Name") for st in ev.get("Stage Infos", [])), None),
                        "query_id": props.get("sql.streaming.queryId"),
                        "batch_id": props.get("streaming.sql.batchId"),
                    }
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault(ev["Stage ID"], _empty_stage())
                    info, m = ev.get("Task Info") or {}, ev.get("Task Metrics") or {}
                    st["tasks"] += 1
                    st["slot_s"] += (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0
                    st["run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    st["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    st["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    st["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    inp = m.get("Input Metrics") or {}
                    st["scan_bytes"] += inp.get("Bytes Read", 0)
                    st["scan_rows"] += inp.get("Records Read", 0)
                    st["scan_tasks"] += 1 if inp.get("Records Read", 0) or inp.get("Bytes Read", 0) else 0
    return {"jobs": jobs, "stages": stages}


def _empty_stage() -> dict:
    return dict(tasks=0, slot_s=0.0, run_s=0.0, cpu_s=0.0, spill=0, shuffle_read=0,
                shuffle_write=0, scan_bytes=0, scan_rows=0, scan_tasks=0)


def spark_work(log: dict, job_ids: list[int], start: float, end: float, slots: int) -> dict:
    """Spark-layer totals for the jobs one span launched."""
    stage_ids = {s for j in job_ids for s in log["jobs"][j]["stage_ids"]}
    ran = [log["stages"][s] for s in stage_ids if s in log["stages"]]
    tot = _empty_stage()
    for st in ran:
        for k in tot:
            tot[k] += st[k]
    submits = [log["jobs"][j]["submit"] for j in job_ids]
    wall = max(end - start, 1e-9)
    return {
        "spark.plan_s": (min(submits) - start) if submits else 0.0,
        "spark.jobs": len(job_ids),
        "spark.stages": len(ran),
        "spark.tasks": tot["tasks"],
        "spark.idle_slot_frac": max(0.0, 1.0 - tot["slot_s"] / (wall * slots)),
        "spark.executor_run_s": tot["run_s"],
        "spark.executor_cpu_s": tot["cpu_s"],
        "spark.shuffle_write_bytes": tot["shuffle_write"],
        "spark.shuffle_read_bytes": tot["shuffle_read"],
        "spark.spill_bytes": tot["spill"],
        "sources.scan_bytes": tot["scan_bytes"],
        "sources.scan_rows": tot["scan_rows"],
        "sources.scan_tasks": tot["scan_tasks"],
    }
