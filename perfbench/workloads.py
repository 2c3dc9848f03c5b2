"""The workloads. Each is a closed loop: one query execution or one
micro-batch at a time, from one process, on local[nproc].

A workload pass returns the raw samples (per-operation timings, rows,
check results); run.py turns them into metrics.
"""

from __future__ import annotations

import concurrent.futures
import json
import os
import sys
import time

from pyspark.sql import SparkSession

import checks
import gen
from measure import PeakRss, process_age_s

# ---------------------------------------------------------------------------
# batch_reference
# ---------------------------------------------------------------------------

# Short oracle-backed queries over the reference analytics (the batch
# forms of the four streaming jobs' operators) plus the two TPC-H joins
# and the event-time enrichments. Each reads only the tables listed;
# their rows are the query's input rows.
BATCH_QUERIES = {
    "register_sliding_counts": ("events",),
    "register_cumulative_daily": ("events",),
    "quiz_mastery": ("events",),
    "page_flow": ("events",),
    "page_props_decode": ("events",),
    "archival_daily_counts": ("events",),
    "events_sessionize": ("events",),
    "ip_region_counts": ("events", "region"),
    "tpch_q3_top_orders": ("customer", "orders", "lineitem"),
    "tpch_q5_region_revenue": ("region", "nation", "customer", "supplier", "orders", "lineitem"),
}
WARMUP_SCALE = 0.01


def prepare_batch(work: str, seed: int) -> dict:
    from edu_online_spark import registry

    tables = os.path.join(work, "tables")
    sizes = gen.write_batch_tables(tables, seed)
    warm = os.path.join(work, "warmup_tables")
    gen.write_batch_tables(warm, seed, scale=WARMUP_SCALE)
    return {"tables": tables, "warmup_tables": warm, "sizes": sizes,
            "oracle_sql": {q: registry.oracle_sql()[q] for q in BATCH_QUERIES},
            "functions": {q: registry.queries()[q] for q in BATCH_QUERIES}}


def warm_batch(spark: SparkSession, prep: dict) -> None:
    """One untimed round over 1%-sized tables: loads the classes and
    compiles the generated code of every query plan, so the timed loop
    does not pay for them. The DuckDB reference results are computed in
    a thread meanwhile; nothing is timed during this phase."""
    expected: dict = {}

    def oracle() -> None:
        con = checks.oracle_connection(prep["tables"])
        try:
            for q, sql in prep["oracle_sql"].items():
                expected[q] = con.execute(sql).df()
        finally:
            con.close()

    with concurrent.futures.ThreadPoolExecutor(1) as pool:
        done = pool.submit(oracle)
        for name, fn in prep["functions"].items():
            try:
                fn(spark, prep["warmup_tables"]).toArrow()
            except Exception as exc:  # the timed loop counts the failure
                print(f"warm-up of {name} failed: {exc}", file=sys.stderr)
        done.result()
    prep["expected"] = expected


# One round of the ten queries took about 9 s on the 4-core box
# the benchmark was written on; a pass runs enough whole rounds to fill
# the requested seconds at that speed, at least three, so that the
# 30 executions put the tail (10 samples beyond it) above the median.
# A fixed number of rounds keeps the sample's composition the same from
# run to run.
ROUND_REFERENCE_S = 9.0


def batch_rounds(seconds: float) -> int:
    return max(3, round(seconds / ROUND_REFERENCE_S))


def run_batch(spark: SparkSession, prep: dict, rounds: int, tracer) -> dict:
    """`rounds` rounds of the query mix. Each execution rebuilds the
    DataFrame (a second action on the same frame reuses shuffle files)
    and materializes every column of every row with toArrow(); the check
    runs after the timer stops."""
    ops = []
    rss = PeakRss()
    rss.start()
    began = time.perf_counter()
    for rnd in range(rounds):
        for name, fn in prep["functions"].items():
            rows_in = sum(prep["sizes"][t] for t in BATCH_QUERIES[name])
            with tracer.span(name, kind="query", round=rnd) as op:
                t0 = t1 = time.perf_counter()
                result, error = None, None
                try:
                    with tracer.span(f"{name}.build", parent=op, job_group=True, kind="build"):
                        df = fn(spark, prep["tables"])
                    t1 = time.perf_counter()
                    with tracer.span(f"{name}.action", parent=op, job_group=True, kind="action"):
                        result = df.toArrow()
                except Exception as exc:  # a failing query counts, the loop goes on
                    error = f"{type(exc).__name__}: {exc}"
                t2 = time.perf_counter()
            problems = (
                [error] if error else checks.compare_frames(result.to_pandas(), prep["expected"][name])
            )
            ops.append({"name": name, "round": rnd, "build_s": t1 - t0, "action_s": t2 - t1,
                        "latency_s": t2 - t0, "rows_in": rows_in, "rows_out": 0 if result is None else result.num_rows,
                        "problems": problems})
    rss.stop()
    return {"ops": ops, "wall_s": time.perf_counter() - began, "peak_rss_mb": rss.peak_mb,
            "rss_at_peak": rss.at_peak}


# ---------------------------------------------------------------------------
# stream_reference
# ---------------------------------------------------------------------------

# Rows per file, i.e. per micro-batch (max_files_per_trigger=1): the
# reference jobs' configured ingest caps at full load, as BASELINE.md
# records them from the reference's sources. maxRatePerPartition is 100
# (register), 100 (qz), 30 (page) and 20 (raw log) records per second,
# over 3 Kafka partitions and a 3-second batch interval, so
# cap x 3 x 3 rows per trigger. The archive job's rows are a third from
# each of the other topics.
KAFKA_PARTITIONS = 3
BATCH_INTERVAL_S = 3
INGEST_CAP = {"register": 100, "qz": 100, "page": 30, "raw": 20}
STREAM_ROWS = {t: cap * KAFKA_PARTITIONS * BATCH_INTERVAL_S for t, cap in INGEST_CAP.items()}
STREAM_JOBS = (
    ("register_totals", "register"),
    ("quiz_mastery", "qz"),
    ("page_flow", "page"),
    ("rawlog_archive", "raw"),
)
# One steady round (a micro-batch of each job) took 5-10 s, depending on
# the host's load, on the 4-core box the benchmark was written on; taking
# 7 s as typical, the backlog holds enough rounds to fill the requested
# seconds at that speed, at least three, so that the median is a round
# of its own and not the faster of two.
STREAM_ROUND_REFERENCE_S = 7.0
# A job still running this long after the process started is stopped and
# counted as failed, so a hung query cannot keep the run past 180 s.
RUN_DEADLINE_S = 165.0


def stream_rounds(seconds: float) -> int:
    return max(3, round(seconds / STREAM_ROUND_REFERENCE_S))


def prepare_stream(work: str, seed: int, rounds: int) -> dict:
    """Per topic: one file for the query's first trigger, then one file
    per steady round."""
    topics = {t: os.path.join(work, "topics", t) for _, t in STREAM_JOBS}
    lines = {t: gen.write_log_backlog(topics[t], t, seed, 1 + rounds, STREAM_ROWS[t]) for t in topics}
    return {"topics": topics, "lines": lines, "rounds": rounds,
            "sinks": {job: os.path.join(work, "out", job) for job, _ in STREAM_JOBS},
            "checkpoints": {job: os.path.join(work, "ck", job) for job, _ in STREAM_JOBS}}


def _tree_files(path: str) -> dict[str, int]:
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                out[p] = os.path.getsize(p)
    return out


class TimedSink:
    """Wraps a foreachBatch sink: times each call and counts the files
    it leaves behind. Used in the traced run only."""

    def __init__(self, job: str, inner, path: str, tracer) -> None:
        self.job, self.inner, self.path, self.tracer = job, inner, path, tracer
        self.calls: list[dict] = []

    def __call__(self, batch, batch_id: int) -> None:
        before = _tree_files(self.path)
        t0 = time.time()
        self.inner(batch, batch_id)
        t1 = time.time()
        after = _tree_files(self.path)
        new = set(after) - set(before)
        self.tracer.add("sink.upsert", t0, t1, kind="sink", job=self.job, batch_id=batch_id)
        self.calls.append({"batch_id": batch_id, "upsert_s": t1 - t0, "files_written": len(new),
                           "bytes_written": sum(after[p] for p in new)})


def run_stream(spark: SparkSession, prep: dict, tracer, timed_sinks: bool) -> dict:
    """Drain each job's backlog in turn with available_now and one file
    per trigger; the per-trigger latency is Spark's own trigger
    execution time (trigger start to sink commit)."""
    from edu_online_spark.streaming import jobs, sinks
    from edu_online_spark.streaming.sources import file_stream

    makers = {
        "register_totals": (jobs.register_totals_job, ["platform"]),
        "quiz_mastery": (jobs.quiz_mastery_job, ["uid", "courseid", "pointid"]),
        "page_flow": (jobs.page_flow_job, None),
        "rawlog_archive": (jobs.rawlog_archive_job, None),
    }
    per_job: dict[str, dict] = {}
    rss = PeakRss()
    rss.start()
    began = time.perf_counter()
    deadline = began + RUN_DEADLINE_S - process_age_s()
    for job, topic in STREAM_JOBS:
        fn, keys = makers[job]
        out, ck = prep["sinks"][job], prep["checkpoints"][job]
        kwargs = {}
        sink = None
        if timed_sinks and keys is not None:
            sink = TimedSink(job, sinks.parquet_upsert(out, keys), out, tracer)
            kwargs["sink"] = sink
        error = None
        with tracer.span(f"drain.{job}", kind="drain") as drain:
            t0 = time.perf_counter()
            try:
                with tracer.span(f"start.{job}", parent=drain, kind="start"):
                    q = fn(file_stream(spark, prep["topics"][topic], max_files_per_trigger=1), out, ck,
                           available_now=True, **kwargs)
                q.awaitTermination(max(1.0, deadline - time.perf_counter()))
                if q.isActive:
                    q.stop()
                    error = "query did not finish its backlog"
                elif q.exception() is not None:
                    error = str(q.exception())
                progress = [json.loads(p.json) for p in q.recentProgress]
            except Exception as exc:  # a failing job counts, the others still run
                error, progress = f"{type(exc).__name__}: {exc}", []
            t1 = time.perf_counter()
        triggers = [p for p in progress if p.get("numInputRows", 0) > 0]
        per_job[job] = {"drain_s": t1 - t0, "triggers": triggers, "error": error, "drain_span": drain,
                        "sink_calls": sink.calls if sink else []}
    rss.stop()
    return {"jobs": per_job, "wall_s": time.perf_counter() - began, "peak_rss_mb": rss.peak_mb,
            "rss_at_peak": rss.at_peak}


def check_stream(prep: dict, result: dict) -> dict[str, list[str]]:
    problems = {job: ([r["error"]] if r["error"] else []) for job, r in result["jobs"].items()}
    if any(problems.values()):
        return problems
    for job, found in checks.check_stream_sinks(prep["topics"], prep["sinks"]).items():
        problems[job].extend(found)
    for job, r in result["jobs"].items():
        if len(r["triggers"]) != 1 + prep["rounds"]:
            problems[job].append(f"{len(r['triggers'])} data triggers, expected {1 + prep['rounds']}")
    return problems
