"""Benchmark entry point.

    python3 perfbench/run.py --workload stream_reference --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. It generates the workload's inputs
from the seed under .bench_work/, starts the engine session on
local[nproc], measures for about --seconds, checks every output outside
the timed regions, and prints one JSON object as the last line of
standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are the per-layer metrics, taken from a traced pass
(Spark event log, the benchmark's spans and a streaming listener) that
follows an untraced one, plus the tracing overhead between the two. A
JSON artifact with the configuration, input sizes and every sample is
written under .bench_work/results/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("stream_reference", "batch_reference")
FLOOR_REPEATS = 5
# A traced run makes two passes, traced and then untraced for the
# overhead, so each pass has a fixed number of rounds, whatever
# --seconds asks, to end within the time limit.
TRACED_ROUNDS = 2


def _env(work: str) -> None:
    """Engine environment: local[nproc], and every working path inside
    the checkout."""
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    for var, sub in (("SPARK_LOCAL_DIRS", "spark-local"), ("TMPDIR", "tmp")):
        os.environ[var] = os.path.join(work, sub)
        os.makedirs(os.environ[var], exist_ok=True)
    # every JVM, the spark-submit launcher included: temp files in the
    # checkout, and no hsperfdata file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    sys.path[:0] = [ROOT, HERE]


def spark_extra(event_log: str | None = None) -> dict[str, str]:
    if not event_log:
        return {}
    os.makedirs(event_log, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{event_log}",
        "spark.eventLog.compress": "false",
    }


def start_session(extra: dict[str, str]):
    """get_spark() and one job; returns (spark, seconds in get_spark)."""
    from edu_online_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(extra=extra)
    built = time.perf_counter() - t0
    spark.range(0, 1, 1, 1).collect()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, built


def floor(spark) -> dict[str, float]:
    """Calibration: an empty one-task job and a one-shuffle job."""
    empty, shuffle = [], []
    for _ in range(FLOOR_REPEATS):
        t0 = time.perf_counter()
        spark.range(0, 1, 1, 1).collect()
        t1 = time.perf_counter()
        spark.range(0, 1000, 1, 4).repartition(4).collect()
        t2 = time.perf_counter()
        empty.append(t1 - t0)
        shuffle.append(t2 - t1)
    return {"session.floor_job_s": statistics.median(empty),
            "session.floor_shuffle_s": statistics.median(shuffle)}


def config_echo(spark) -> dict:
    import platform

    import pyarrow

    sc = spark.sparkContext
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "master": sc.master,
        "defaultParallelism": sc.defaultParallelism,
        "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "state_store_provider": spark.conf.get("spark.sql.streaming.stateStore.providerClass", None),
        "spark": spark.version,
        "python": platform.python_version(),
        "pyarrow": pyarrow.__version__,
    }


# ---------------------------------------------------------------------------
# Passes and their metrics
# ---------------------------------------------------------------------------

def _by_round(ops: list[dict]) -> list[list[dict]]:
    rounds: dict[int, list[dict]] = {}
    for o in ops:
        rounds.setdefault(o["round"], []).append(o)
    return list(rounds.values())


def batch_pass(spark, prep, tracer) -> dict:
    import workloads
    from measure import median, tail

    res = workloads.run_batch(spark, prep, prep["rounds"], tracer)
    lat = [o["latency_s"] for o in res["ops"]]
    failed = sum(1 for o in res["ops"] if o["problems"])
    tv, tp, n = tail(lat)
    res.update({
        "attempted": len(res["ops"]), "failed": failed,
        "problems": {f"{o['name']}#{o['round']}": o["problems"] for o in res["ops"] if o["problems"]},
        "e2e": {
            "op_p50_s": median(lat), "op_tail_s": tv,
            "rows_per_s": statistics.median(
                sum(o["rows_in"] for o in ops) / sum(o["latency_s"] for o in ops)
                for ops in _by_round(res["ops"])
            ),
            "ok_frac": 1.0 - failed / len(res["ops"]),
        },
        "tail": {"percentile": tp, "samples": n},
    })
    return res


def stream_pass(spark, prep, tracer, timed_sinks) -> dict:
    import workloads
    from measure import median, tail

    res = workloads.run_stream(spark, prep, tracer, timed_sinks)
    problems = workloads.check_stream(prep, res)
    rounds = [0.0] * prep["rounds"]
    rows = [0] * prep["rounds"]
    attempted = failed = 0
    for job, r in res["jobs"].items():
        expected = 1 + prep["rounds"]
        attempted += max(expected, len(r["triggers"]))
        if problems[job]:
            failed += max(expected, len(r["triggers"]))
        for i, p in enumerate(r["triggers"][1:expected]):
            lat = p["durationMs"]["triggerExecution"] / 1000.0
            rounds[i] += lat
            rows[i] += p["numInputRows"]
    ok = [i for i, x in enumerate(rounds) if x > 0] or [0]  # [0]: every job failed
    ok_rounds = [rounds[i] for i in ok]
    tv, tp, n = tail(ok_rounds)
    res.update({
        "attempted": attempted, "failed": failed,
        "problems": {j: p for j, p in problems.items() if p},
        "rounds_s": rounds,
        "e2e": {
            "op_p50_s": median(ok_rounds), "op_tail_s": tv,
            "rows_per_s": statistics.median(rows[i] / rounds[i] if rounds[i] else 0.0 for i in ok),
            "ok_frac": 1.0 - failed / attempted,
        },
        "tail": {"percentile": tp, "samples": n},
    })
    return res


def run(args, work: str) -> dict:
    import workloads
    from measure import cpu_ticks, process_age_s
    from tracing import Tracer

    steal0, total0 = cpu_ticks()
    spark, built = start_session(spark_extra())
    setup_main = process_age_s()
    phases = {}
    mark = [time.perf_counter()]

    def phase(name: str) -> None:
        now = time.perf_counter()
        phases[name] = now - mark[0]
        mark[0] = now

    layer = {"session.start_s": built, **floor(spark)}
    artifact = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                "trace": args.trace, "config": config_echo(spark)}
    print(f"config: {json.dumps(artifact['config'])}", file=sys.stderr)

    def one_pass(spark, tracer, sub: str) -> dict:
        if args.workload == "batch_reference":
            return batch_pass(spark, prep, tracer)
        sprep = workloads.prepare_stream(os.path.join(work, sub), args.seed, prep["rounds"])
        return stream_pass(spark, sprep, tracer, timed_sinks=tracer.enabled) | {"prep": sprep}

    if args.workload == "batch_reference":
        prep = workloads.prepare_batch(work, args.seed)
        prep["rounds"] = workloads.batch_rounds(args.seconds)
        phase("generate")
        workloads.warm_batch(spark, prep)
        phase("warm_up_and_oracle")
        artifact["inputs"] = {"rows": prep["sizes"], "bytes": {
            t: os.path.getsize(f"{prep['tables']}/{t}.parquet") for t in prep["sizes"]}}
    else:
        prep = {"rounds": workloads.stream_rounds(args.seconds)}

    if args.trace:
        import layers
        from tracing import ProgressListener

        prep["rounds"] = TRACED_ROUNDS
        # the traced pass runs first, so the untraced pass after it meets
        # a JVM at least as warm: the overhead reported is an upper bound
        spark.stop()
        spark, _ = start_session(spark_extra(event_log=os.path.join(work, "eventlog")))
        tracer = Tracer(spark, "traced", True)
        listener = ProgressListener()
        spark.streams.addListener(listener)
        phase("traced_session")
        traced = one_pass(spark, tracer, "traced")
        phase("traced_pass")
        slots = spark.sparkContext.defaultParallelism
        spark.stop()
        spark, _ = start_session(spark_extra())
    untraced = one_pass(spark, Tracer(spark, "untraced", False), "untraced")
    passes = [untraced]
    phase("untraced_pass")
    spark.stop()
    if args.workload == "stream_reference":
        artifact["inputs"] = {"lines": untraced["prep"]["lines"], "rows_per_file": workloads.STREAM_ROWS,
                              "files_per_topic": 1 + prep["rounds"]}
    if args.trace:
        passes.append(traced)
        metrics, detail = layers.per_layer(args.workload, traced, tracer, listener,
                                           os.path.join(work, "eventlog"), slots)
        phase("event_log")
        metrics.update(layer)
        metrics["session.peak_rss_mb"] = untraced["peak_rss_mb"]
        for k in ("op_p50_s", "rows_per_s"):
            u, t = untraced["e2e"][k], traced["e2e"][k]
            metrics[f"trace.{k}_overhead_frac"] = (t / u - 1.0) if k == "op_p50_s" else (1.0 - t / u)
        artifact["layers"] = detail
        artifact["traced_e2e"] = traced["e2e"]
    else:
        metrics = dict(untraced["e2e"], setup_s=setup_main)
        artifact["session"] = layer
    artifact["phases_s"] = phases
    steal1, total1 = cpu_ticks()
    # the machine is shared: a run that lost CPU to other tenants says so
    artifact["steal_frac"] = (steal1 - steal0) / max(total1 - total0, 1)
    artifact["untraced"] = {k: untraced[k] for k in ("e2e", "tail", "attempted", "failed", "problems", "wall_s", "peak_rss_mb", "rss_at_peak")}
    artifact["untraced"]["samples"] = (
        [{k: o[k] for k in ("name", "round", "build_s", "action_s", "latency_s", "rows_out")} for o in untraced["ops"]]
        if "ops" in untraced else {"rounds_s": untraced["rounds_s"], "triggers_s": {
            job: [p["durationMs"]["triggerExecution"] / 1000.0 for p in r["triggers"]]
            for job, r in untraced["jobs"].items()}}
    )
    attempted = sum(p["attempted"] for p in passes)
    failed = sum(p["failed"] for p in passes)
    for p in passes:
        for what, found in p["problems"].items():
            print(f"CHECK FAILED {what}: {found}", file=sys.stderr)
    results = os.path.join(ROOT, ".bench_work", "results")
    os.makedirs(results, exist_ok=True)
    path = os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json")
    with open(path, "w") as fh:
        json.dump(artifact, fh, indent=1, default=str)
    print(f"artifact: {path}", file=sys.stderr)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def stop_jvm() -> None:
    """End the JVM that get_spark() launched and wait for it, so that no
    process of the run outlives it. The JVM exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "edu_online_spark")):
        print(f"no edu_online_spark package beside {HERE}; run from a full checkout", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _env(work)
    try:
        out = run(args, work)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    units = {m["name"]: m["unit"] for key in ("end_to_end", "per_layer")
             for m in json.load(open(os.path.join(ROOT, "BENCHMARK.json")))[key]}
    out["metrics"] = {k: {"value": v, "unit": units[k]} for k, v in sorted(out["metrics"].items())}
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
