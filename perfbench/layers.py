"""Per-layer metrics of a traced pass.

The benchmark's spans say when each layer call ran; the Spark event log
says which jobs, stages and tasks each call launched; the streaming
listener gives each trigger's progress. Every metric here is a mean per
operation (a query execution, or a micro-batch) unless its name says
otherwise in README.md.
"""

from __future__ import annotations

import collections
import datetime
import statistics

import checks
import tracing
import workloads

SPARK_KEYS = (
    "spark.plan_s", "spark.jobs", "spark.stages", "spark.tasks", "spark.idle_slot_frac",
    "spark.executor_run_s", "spark.executor_cpu_s", "spark.shuffle_write_bytes",
    "spark.shuffle_read_bytes", "spark.spill_bytes",
    "sources.scan_bytes", "sources.scan_rows", "sources.scan_tasks",
)
STREAMING_KEYS = (
    "streaming.add_batch_s", "streaming.planning_s", "streaming.offsets_s", "streaming.commit_s",
    "streaming.first_trigger_s", "streaming.state_rows_total", "streaming.state_rows_updated",
    "streaming.state_memory_bytes", "streaming.state_commit_s",
)
SINK_KEYS = ("sinks.upsert_s", "sinks.files_written", "sinks.bytes_written", "sinks.files_total")


def _mean(rows: list[dict], key: str) -> float:
    vals = [r[key] for r in rows if key in r]
    return statistics.fmean(vals) if vals else 0.0


def per_layer(workload: str, traced: dict, tracer, listener, event_log: str, slots: int):
    log = tracing.read_event_log(event_log)
    if workload == "batch_reference":
        rows, detail = _batch_rows(tracer, log, slots)
        metrics = {k: _mean(rows, k) for k in SPARK_KEYS}
        metrics.update({k: _mean(rows, k) for k in ("operators.build_s", "operators.action_s",
                                                      "operators.materialize_jobs")})
        metrics["sources.decode_dropped_rows"] = 0
        metrics.update({k: 0 for k in STREAMING_KEYS + SINK_KEYS})
    else:
        metrics, detail = _stream_metrics(traced, tracer, listener, log, slots)
    self_t = tracing.self_times(tracer.spans)
    by_kind: dict[str, float] = collections.defaultdict(float)
    for s in tracer.spans:
        by_kind[s["kind"]] += self_t[s["id"]]
    detail["self_time_s"] = dict(by_kind)
    detail["spans"] = tracer.spans
    return metrics, detail


def _batch_rows(tracer, log: dict, slots: int):
    by_group = collections.defaultdict(list)
    for jid, job in log["jobs"].items():
        if job["group"]:
            by_group[job["group"]].append(jid)
    children = collections.defaultdict(dict)
    for s in tracer.spans:
        if s.get("parent"):
            children[s["parent"]][s["kind"]] = s
    rows, sites = [], collections.Counter()
    for s in tracer.spans:
        if s.get("kind") != "query":
            continue
        build, action = children[s["id"]].get("build"), children[s["id"]].get("action")
        build_jobs = by_group.get(build["id"], []) if build else []
        action_jobs = by_group.get(action["id"], []) if action else []
        row = tracing.spark_work(log, build_jobs + action_jobs, s["start"], s["end"], slots)
        if action:
            row["spark.plan_s"] = tracing.spark_work(log, action_jobs, action["start"], action["end"], slots)["spark.plan_s"]
        row.update({
            "query": s["name"], "round": s["round"],
            "operators.build_s": (build["end"] - build["start"]) if build else 0.0,
            "operators.action_s": (action["end"] - action["start"]) if action else 0.0,
            "operators.materialize_jobs": len(build_jobs),
        })
        for j in build_jobs:
            sites[log["jobs"][j]["call_site"]] += 1
        rows.append(row)
    return rows, {"per_query": rows, "materialize_call_sites": dict(sites)}


def _ts(iso: str) -> float:
    return datetime.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _stream_metrics(traced: dict, tracer, listener, log: dict, slots: int):
    by_batch = collections.defaultdict(list)
    for jid, job in log["jobs"].items():
        if job["query_id"] is not None:
            by_batch[(job["query_id"], job["batch_id"])].append(jid)
    progress = {(p["id"], p["batchId"]): p for p in listener.progress}
    rows, firsts = [], []
    for job, r in traced["jobs"].items():
        for i, trig in enumerate(r["triggers"]):
            p = progress.get((trig["id"], trig["batchId"]), trig)
            d = p["durationMs"]
            start = _ts(p["timestamp"])
            end = start + d["triggerExecution"] / 1000.0
            sid = tracer.add("trigger", start, end, parent=r["drain_span"], kind="trigger", job=job,
                             batch_id=p["batchId"])
            for s in tracer.spans:
                if s["name"] == "sink.upsert" and s.get("job") == job and s.get("batch_id") == p["batchId"]:
                    s["parent"] = sid
            if i == 0:
                firsts.append(d["triggerExecution"] / 1000.0)
                continue
            ops = p.get("stateOperators") or []
            row = tracing.spark_work(log, by_batch.get((p["id"], str(p["batchId"])), []), start, end, slots)
            row.update({
                "job": job, "batch_id": p["batchId"], "trigger_s": d["triggerExecution"] / 1000.0,
                "rows": p["numInputRows"],
                "streaming.add_batch_s": d.get("addBatch", 0) / 1000.0,
                "streaming.planning_s": d.get("queryPlanning", 0) / 1000.0,
                "streaming.offsets_s": (d.get("latestOffset", 0) + d.get("getBatch", 0)) / 1000.0,
                "streaming.commit_s": (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1000.0,
                "streaming.state_rows_total": sum(o.get("numRowsTotal", 0) for o in ops),
                "streaming.state_rows_updated": sum(o.get("numRowsUpdated", 0) for o in ops),
                "streaming.state_memory_bytes": sum(o.get("memoryUsedBytes", 0) for o in ops),
                "streaming.state_commit_s": sum(o.get("commitTimeMs", 0) for o in ops) / 1000.0,
            })
            rows.append(row)
    metrics = {k: _mean(rows, k) for k in SPARK_KEYS + STREAMING_KEYS if k != "streaming.first_trigger_s"}
    metrics["streaming.first_trigger_s"] = statistics.fmean(firsts) if firsts else 0.0
    metrics["operators.build_s"] = statistics.fmean(
        s["end"] - s["start"] for s in tracer.spans if s.get("kind") == "start")
    metrics["operators.action_s"] = _mean(rows, "trigger_s")
    metrics["operators.materialize_jobs"] = 0

    prep = traced["prep"]
    calls = [c for r in traced["jobs"].values() for c in r["sink_calls"]]
    n_triggers = sum(len(r["triggers"]) for r in traced["jobs"].values())
    written = {job: r["sink_calls"] for job, r in traced["jobs"].items()}
    files = bytes_ = 0
    for job, path in prep["sinks"].items():
        if written[job]:
            files += sum(c["files_written"] for c in written[job])
            bytes_ += sum(c["bytes_written"] for c in written[job])
        else:  # append-only sinks: every file there was written by this drain
            tree = workloads._tree_files(path)
            files += len(tree)
            bytes_ += sum(tree.values())
    metrics["sinks.upsert_s"] = _mean(calls, "upsert_s")
    metrics["sinks.files_written"] = files / n_triggers
    metrics["sinks.bytes_written"] = bytes_ / n_triggers
    metrics["sinks.files_total"] = sum(len(workloads._tree_files(p)) for p in prep["sinks"].values())
    lines = sum(prep["lines"][t] for t in ("register", "qz", "page"))
    metrics["sources.decode_dropped_rows"] = lines - checks.stream_kept_rows(prep["sinks"])
    return metrics, {"per_trigger": rows, "first_trigger_s": firsts}
