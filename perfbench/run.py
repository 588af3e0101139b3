"""Repository benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload floor --seed 1 --seconds 26 --trace 0

Builds the seeded input tables, launches Spark, gets ready (set-up), runs
the workload's streaming half for its share of ``--seconds`` and then a fixed
count of batch passes sized to take the rest, checks every result, stops the
JVM and its Python workers and waits for them to exit. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics untraced, the per-layer metrics with ``--trace 1``).
The full record, spans included, goes to
``perfbench/results/<workload>_seed<seed>_trace<trace>.json``.
See perfbench/README.md for the metrics and the run protocol.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Warm-up and measured pass counts are counts, not times, so both sides of a
# comparison warm equally and a faster engine does not shift the median
# along the JIT warm-up slope (README, "Run protocol"). The streaming half
# lasts ``stream_share`` of ``--seconds``; the batch half's counts are sized
# to take the rest.
WORKLOADS = {
    "floor": {
        "sf": 0.01,
        "tables": ["customer", "nation", "orders", "lineitem", "events", "documents"],
        "mix": ["join_agg", "top_k", "fixed_window_keyed", "route_or", "multimodal_decode"],
        "warmup_passes": 2,
        "measured_passes": 3,
        "stream": {"shape": "window", "rate": 2000, "tick_s": 0.1},
        "warmup_batches": 12,
        "stream_share": 0.8,
    },
    "tail": {
        "sf": 0.01,
        "tables": ["lineitem"],
        "mix": ["triangle_count", "graph_assortativity"],
        "warmup_passes": 2,
        "measured_passes": 3,
        "stream": {"shape": "dedup", "rows_per_batch": 100_000, "reach": 200_000,
                   "dedup_window": "3 seconds"},
        "warmup_batches": 6,
        "stream_share": 0.5,
    },
}

END_TO_END = {  # name -> unit
    "setup_s": "s", "pass_s": "s", "stream_eps": "1/s",
    "stream_p50_ms": "ms",
}
PER_LAYER = {
    "session.get_spark_s": "s", "session.load_table_s": "s",
    "compiler.compile_streaming_s": "s", "stream.first_batch_s": "s",
    "queries.cold_s": "s", "queries.build_s": "s", "queries.plan_s": "s",
    "queries.collect_s": "s", "queries.rows": "count", "queries.result_mb": "MB",
    "scheduler.jobs": "count", "scheduler.stages": "count", "scheduler.tasks": "count",
    "scheduler.job_floor_ms": "ms", "stream.jobs_per_batch": "count",
    "executor.run_s": "s", "executor.cpu_s": "s", "executor.gc_s": "s",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "shuffle.spill_mb": "MB",
    "python.total_s": "s", "python.boot_s": "s", "python.sent_mb": "MB",
    "python.received_mb": "MB", "python.rows_received": "count",
    "stream.batches": "count", "stream.trigger_ms": "ms", "stream.add_batch_ms": "ms",
    "stream.wal_commit_ms": "ms", "stream.commit_offsets_ms": "ms",
    "stream.latest_offset_ms": "ms", "stream.query_planning_ms": "ms",
    "state.rows_total": "count", "state.memory_mb": "MB", "state.commit_ms": "ms",
    "state.rows_removed": "count", "sinks.write_ms": "ms",
    "source.rows_per_batch": "count", "source.backlog_s": "s",
    "stream.latency_samples": "count", "memory.peak_rss_mb": "MB",
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args(argv)
    if args.seed < 0 or args.seconds < 1:
        ap.error("--seed must be >= 0 and --seconds >= 1")
    return args


def provenance() -> dict:
    """Git head (when the tree is a git checkout) and a hash of the engine
    and benchmark sources, so a result names the code that produced it."""
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "numaflow_spark", "**", "*.py"), recursive=True)
                   + glob.glob(os.path.join(HERE, "*.py")))
    for path in files:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    head = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=30)
        head = out.stdout.strip() or None
    return {"git_head": head, "source_sha256": h.hexdigest(), "files_hashed": len(files)}


def driver_memory() -> str:
    """A quarter of host memory, capped at 2 GiB: the engine's 48g default
    exceeds small hosts, and the machine is shared."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return f"{max(1024, min(2048, total_kb // 4 // 1024))}m"


def prepare_env(work: str) -> None:
    """Every temp, checkpoint, event-log and warehouse path inside ``work``;
    UTC clock; the checkout importable by the JVM's Python workers."""
    for sub in ("tmp", "local", "ckpt", "events", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ.update({
        "TZ": "UTC",
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "PYTHONPATH": os.pathsep.join([ROOT, HERE]),
        "SPARK_GRAFT_CACHE_TABLES": "1",
        "PYSPARK_PYTHON": sys.executable,
    })
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    time.tzset()


def spark_conf(work: str, trace: bool) -> dict:
    conf = {
        "spark.driver.memory": driver_memory(),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def stop_jvm(spark) -> None:
    """Stop Spark, close the gateway's stdin (the JVM exits on EOF) and wait
    until the JVM and every Python worker it started have exited."""
    from probes import process_tree

    gateway = spark.sparkContext._gateway
    pids = process_tree(gateway.proc.pid)
    spark.stop()
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait(timeout=30)
    deadline = time.time() + 30
    while True:
        alive = [p for p in pids if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        if time.time() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 30
        time.sleep(0.05)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [ROOT, HERE]
    try:
        import numaflow_spark  # noqa: F401
    except ImportError as ex:
        print(f"error: the engine is not importable from {ROOT}: {ex}", file=sys.stderr)
        return 2

    run_name = f"{args.workload}_seed{args.seed}_trace{args.trace}"
    work = os.path.join(HERE, ".work", run_name)
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)
    try:
        record = measure(args, WORKLOADS[args.workload], work, run_name)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    out_dir = os.path.join(HERE, "results")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{run_name}.json"), "w") as f:
        json.dump(record, f, indent=1)
    units = PER_LAYER if args.trace else END_TO_END
    print(json.dumps({
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": {k: {"value": record["metrics"][k], "unit": u} for k, u in units.items()},
    }))
    return 0


def measure(args, wl: dict, work: str, run_name: str) -> dict:
    import datagen
    from batch import check_against_oracle, run_pass
    from probes import EventLog, RssSampler, Tracer, host_load, median, steal_share
    from stream import StreamRun

    from numaflow_spark.session import get_spark, load_table

    host_before = host_load()
    data = os.path.join(work, "data")
    table_rows = datagen.write_tables(data, wl["sf"], args.seed)
    cores = len(os.sched_getaffinity(0))
    tracer = Tracer(run_name, enabled=bool(args.trace))
    half_stream = args.seconds * wl["stream_share"]

    t_launch = time.perf_counter()
    with tracer.span("session.get_spark"):
        spark = get_spark("perfbench", cpus=cores, extra_conf=spark_conf(work, args.trace))
    sampler = RssSampler(spark.sparkContext._gateway.proc.pid)
    sampler.start()
    stream = None
    try:
        with tracer.span("session.load_table"):
            for t in wl["tables"]:
                load_table(spark, data, t).count()
        cold_s, _ = run_pass(spark, wl["mix"], data, tracer, "cold")
        spark.sparkContext.setJobGroup("stream", "stream")
        stream = StreamRun(spark, wl["stream"], args.seed, work, cores, tracer)
        stream.start()
        setup_s = time.perf_counter() - t_launch

        # streaming half: a fixed count of warm-up micro-batches, then measure
        t_end = time.perf_counter() + half_stream
        stream.wait_batches(1 + wl["warmup_batches"], timeout_s=120)
        first_measured = stream.executed()[-1]["batchId"] + 1
        # a slow warm-up must not leave the measured window empty
        t_end = max(t_end, time.perf_counter() + 0.5 * half_stream)
        t_from = time.time()
        while time.perf_counter() < t_end:
            if stream.query.exception() is not None:
                raise RuntimeError(f"stream failed: {stream.query.exception()}")
            time.sleep(0.05)
        t_to = time.time()
        stream.stop()

        # batch half: fixed counts of warm-up and measured passes
        warm_passes = [run_pass(spark, wl["mix"], data, tracer, f"warm{w}")[0]
                       for w in range(wl["warmup_passes"])]
        passes, tables = [], {}
        for p in range(wl["measured_passes"]):
            wall, tables = run_pass(spark, wl["mix"], data, tracer, f"p{p}")
            passes.append(wall)
        peak_rss_mb = sampler.stop()

        # checks, outside the timed region
        t_checks = time.perf_counter()
        verdict = check_against_oracle(tables, data, wl["tables"])
        s_attempted, s_failed, s_detail = stream.check()
        figures = stream.samples(t_from, t_to)
        if figures["latency_samples"] < 3:
            raise RuntimeError(f"only {figures['latency_samples']} stream results landed "
                               "in the measured window")
        phases = stream.phases(first_measured)
        metrics = {
            "setup_s": setup_s,
            "pass_s": median(passes),
            "stream_eps": figures["stream_eps"],
            "stream_p50_ms": figures["stream_p50_ms"],
            "memory.peak_rss_mb": peak_rss_mb,
        }
        checks_s = time.perf_counter() - t_checks
    finally:
        sampler.stop()
        if stream is not None:
            stream.stop()
        t_stop = time.perf_counter()
        stop_jvm(spark)
        stop_s = time.perf_counter() - t_stop
    if args.trace:
        # the event log is complete only once the context has stopped
        log = EventLog(glob.glob(os.path.join(work, "events", "*"))[0])
        metrics.update(layer_metrics(tracer, log, wl, passes, tables, phases, figures,
                                     cold_s, first_measured))
    host_after = host_load()
    failed_queries = {q: why for q, why in verdict.items() if why}
    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": cores, "driver_memory": driver_memory(),
        "provenance": provenance(),
        "host": {"before": host_before, "after": host_after,
                 "steal_share": steal_share(host_before, host_after)},
        "attempted": len(verdict) + s_attempted,
        "failed": len(failed_queries) + s_failed,
        "checks": {"queries": verdict, "stream": s_detail},
        "work": {
            "table_rows": table_rows,
            "result_rows": {q: t.num_rows for q, t in tables.items()},
            "stream_rows_per_batch": phases["source.rows_per_batch"],
            "state_rows": phases["state.rows_total"],
            **({k: metrics[k] for k in ("scheduler.jobs", "scheduler.stages", "scheduler.tasks")}
               if args.trace else {}),
        },
        "overhead_s": {"checks": checks_s, "stop": stop_s},
        "warmup_passes_s": warm_passes,
        "passes_s": passes,
        "stream_phases": phases,
        "latencies_ms": figures["latencies_ms"],
        "feed_late_ms": stream.feed_lateness_ms(),
        "cold_pass_s": cold_s,
        "metrics": metrics,
        "spans": tracer.spans,
    }


def layer_metrics(tracer, log, wl, passes, tables, phases, figures, cold_s, first_measured):
    from probes import median

    tags = [f"p{i}" for i in range(len(passes))]
    by_span = {s["id"]: s for s in tracer.spans}

    def step_s(step: str, tag: str) -> float:
        return sum(s["end"] - s["start"] for s in tracer.spans if s["name"] == step
                   and by_span[s["parent"]].get("group", "").startswith(tag + ":"))

    per_pass = []
    for tag in tags:
        jobs = [j for q in wl["mix"] for j in log.group_jobs(f"{tag}:{q}")]
        per_pass.append(log.totals(jobs))
    layer = lambda k: median(p.get(k, 0.0) for p in per_pass)
    batch_jobs = log.batch_jobs()
    out = {
        "session.get_spark_s": tracer.total("session.get_spark"),
        "session.load_table_s": tracer.total("session.load_table"),
        "compiler.compile_streaming_s": tracer.total("compiler.compile_streaming"),
        "stream.first_batch_s": tracer.total("stream.first_batch"),
        "queries.cold_s": cold_s,
        "queries.build_s": median(step_s("queries.build", t) for t in tags),
        "queries.plan_s": median(step_s("queries.plan", t) for t in tags),
        "queries.collect_s": median(step_s("queries.collect", t) for t in tags),
        "queries.rows": sum(t.num_rows for t in tables.values()),
        "queries.result_mb": sum(t.nbytes for t in tables.values()) / 1e6,
        "scheduler.jobs": layer("jobs"),
        "scheduler.stages": layer("stages"),
        "scheduler.tasks": layer("tasks"),
        "scheduler.job_floor_ms": layer("job_floor_ms"),
        "stream.jobs_per_batch": median(len(j) for b, j in batch_jobs.items() if b >= first_measured),
        "stream.latency_samples": figures["latency_samples"],
    }
    for k in ("executor.run_s", "executor.cpu_s", "executor.gc_s", "shuffle.write_mb",
              "shuffle.read_mb", "shuffle.spill_mb", "python.total_s", "python.boot_s",
              "python.sent_mb", "python.received_mb", "python.rows_received"):
        out[k] = layer(k)
    out.update(phases)
    return out


if __name__ == "__main__":
    sys.exit(main())
