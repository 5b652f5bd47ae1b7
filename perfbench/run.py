"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload ingest_append --seed 1 --seconds 10 --trace 0

Run from the root of a checkout; the workloads are listed in
``BENCHMARK.json``. Inputs are made from ``--seed`` before the clock
starts and the outputs are checked against references after it stops.
The last stdout line is the result: ``correct``, ``attempted``,
``failed`` and the metrics, end-to-end ones with ``--trace 0`` and
per-layer ones with ``--trace 1``. The line before it is a record of the
run (host settings, sample counts, latency tails, failed ratio). A traced
run also writes its spans to ``perfbench/.work/``. Everything else a run
writes stays under ``perfbench/.work/<workload>-<pid>`` and is removed.

The end-to-end metrics, on every workload:

- ``setup_s``: the cold ``get_spark`` of this process plus the
  workload's warm-up; input generation is done before it starts;
- ``op_p50_ms``: median latency of the workload's unit of work, a
  per-file micro-batch (``triggerExecution``) on the ingest workloads, a
  registry query (construction plus execution) on ``serve_queries``;
- ``ops_per_min``: those units per minute, from each file's arrival to
  its commit on ingest, over the summed query times on serve;
- ``bulk_rows_per_s``: rows per second of the bulk write, a single
  trigger draining a staged backlog on ingest, the timed merge into the
  lookup table on serve;
- ``lookup_p50_ms``: median ``read_pruned_where`` point read.

Peak memory is per-layer only (``memory.*``): the peak use of the
driver JVM's heap pools moves with the collector's timing by more than
the bounds between runs of one commit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")


def pin_host(cores: int, work: str) -> dict:
    """Fix the settings a result depends on, and return them for the record."""
    total_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    # get_spark defaults the driver heap to 32g, more than many hosts have
    mem_mb = min(2048, total_mb // 4)
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEM": f"{mem_mb}m",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
    }
    os.environ.update(env)
    os.environ.pop("OMP_NUM_THREADS", None)
    return env


def cpu_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the host so far, from /proc/stat; a
    virtual machine's stolen time is time its CPUs ran someone else."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return (fields[7] if len(fields) > 7 else 0), sum(fields)


def git_sha() -> str:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        )
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    return out.stdout.strip()


def start_session():
    from kafka_connect_bigquery_spark import session

    return session.get_spark(
        "perfbench",
        extra_conf={
            # keep the JVM's scratch files inside the checkout
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
            ),
            "spark.sql.warehouse.dir": os.path.join(os.environ["TMPDIR"], "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def peak_mem_mb(spark) -> dict[str, float]:
    """Peak use of the driver JVM's heap and non-heap memory pools, summed
    over the pools of each kind, and the peak resident memory of this
    process."""
    from py4j.java_gateway import java_import

    jvm = spark.sparkContext._jvm
    java_import(jvm, "java.lang.management.*")
    out = {"jvm_heap": 0.0, "jvm_non_heap": 0.0}
    for pool in jvm.ManagementFactory.getMemoryPoolMXBeans():
        kind = "jvm_heap" if str(pool.getType().name()) == "HEAP" else "jvm_non_heap"
        out[kind] += int(pool.getPeakUsage().getUsed()) / 2**20
    out["python"] = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    return out


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM the gateway launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def summary(values: list[float]) -> dict:
    """Median and the highest percentile with ten samples beyond it."""
    from workloads import percentile, tail_percentile

    q = tail_percentile(len(values))
    return {"n": len(values), "p50": percentile(values, 0.5), "tail_q": q, "tail": percentile(values, q)}


def end_to_end(m: dict, setup_s: float) -> dict:
    from workloads import percentile

    return {
        "setup_s": setup_s,
        "op_p50_ms": percentile(m["op_ms"], 0.5),
        "ops_per_min": m["ops_per_min"],
        "bulk_rows_per_s": m["bulk_rows_per_s"],
        "lookup_p50_ms": percentile(m["lookup_ms"], 0.5),
    }


def per_layer(w, m: dict, tracer, cores: int, mem: dict) -> dict:
    """Per-layer figures of the traced run. Times and job counts of the
    write layers are per write batch (a micro-batch, per-file or bulk, on
    the ingest workloads; a build merge on ``serve_queries``), those of
    ``queries.*`` per query, those of ``warehouse.lookup`` per lookup;
    ``plan.*`` count the nodes of every query's executed plan. Layers a
    workload does not reach read 0."""
    import serve
    import spans

    out: dict[str, float] = {}
    batches = m.get("batches", 0)
    queries = len(getattr(w, "query_ms", {}))

    def layer(name: str, per: int, jobs: bool = True) -> None:
        total, own, n_jobs = tracer.totals(name)
        per = max(1, per)
        out[f"{name}_ms"] = total / per
        out[f"{name}_self_ms"] = own / per
        if jobs:
            out[f"{name}_jobs"] = n_jobs / per

    out["session.get_spark_s"] = tracer.get_spark_s
    out["driver.py4j_calls_per_op"] = sum(tracer.totals_calls(n) for n in w.op_spans) / m["ops"]
    handler_ms = {s.trace: s.ms for s in tracer.named("pipeline.handler")}
    overhead = [
        float(p.durationMs["triggerExecution"]) - handler_ms[f"batch-{p.batchId}"]
        for p in getattr(w, "progress", [])
        if f"batch-{p.batchId}" in handler_ms
    ]
    out["streaming.trigger_overhead_ms"] = statistics.mean(overhead) if overhead else 0.0
    layer("pipeline.handler", batches, jobs=False)
    out["pipeline.jobs_per_batch"] = tracer.totals("pipeline.handler")[2] / max(1, batches)
    out["pipeline.retries"] = tracer.retries
    for name in ("pipeline.convert", "routing.split"):
        layer(name, batches)
    layer("bq_shape.shape", batches, jobs=False)
    for name in (
        "warehouse.append",
        "warehouse.merge",
        "warehouse.read_changes",
    ):
        layer(name, batches)
    commits = tracer.commit_files
    out["warehouse.files_per_commit"] = statistics.mean(commits) if commits else 0.0
    out.update(w.storage())
    layer("warehouse.lookup", len(m["lookup_ms"]))
    for name in ("rollup.refresh", "sketch.refresh"):
        layer(name, batches)
    for name in ("queries.construct", "queries.execute"):
        layer(name, queries)
    query_ms = getattr(w, "query_ms", {})
    for name in serve.QUERIES:
        out[f"queries.{name}_ms"] = query_ms.get(name, 0.0)
    plans = [spans.plan_counts(df) for df in getattr(w, "frames", {}).values()]
    for k in spans.PLAN_COUNTS:
        out[f"plan.{k}"] = sum(p[k] for p in plans)
    stages = tracer.top_level_stages()
    out["spark.executor_run_s"] = stages["run_ms"] / 1000
    out["spark.executor_cpu_s"] = stages["cpu_ms"] / 1000
    out["spark.core_utilization"] = stages["run_ms"] / 1000 / (m["measured_s"] * cores)
    out["spark.shuffle_write_mb"] = stages["shuffle_write_bytes"] / 2**20
    out["spark.spill_mb"] = stages["spill_bytes"] / 2**20
    out["spark.tasks"] = stages["tasks"]
    for k, v in mem.items():
        out[f"memory.{k}_peak_mb"] = v
    return out


def declared_units() -> tuple[dict, dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def workload_classes() -> dict:
    import serve
    import workloads

    return {w.name: w for w in (workloads.IngestAppend, workloads.IngestUpsertIvm, serve.Serve)}


def run(args, work: str) -> tuple[dict, list[str]]:
    """Prepare, set up, measure and check one workload; returns the run
    record and the failed checks."""
    tracer = None
    spans = None
    if args.trace:
        import spans

    def span(name, trace=None):
        return tracer.span(name, trace) if tracer is not None else contextlib.nullcontext()

    w = workload_classes()[args.workload](args.seed, args.seconds, span)
    t0 = time.perf_counter()
    w.prepare(work)
    prepare_s = time.perf_counter() - t0
    spark = None
    try:
        with contextlib.ExitStack() as stack:
            t0 = time.perf_counter()
            spark = start_session()
            get_spark_s = time.perf_counter() - t0
            if spans is not None:
                tracer = spans.Tracer(spark)
                tracer.get_spark_s = get_spark_s
                stack.enter_context(spans.instrument(tracer))
            w.warmup(spark)
            setup_s = time.perf_counter() - t0
            if tracer is not None:
                tracer.reset()
            ticks0 = cpu_ticks()
            m = w.measure()
            ticks1 = cpu_ticks()
        # before the checks, whose reads and oracles are not the program's
        mem = peak_mem_mb(spark)
        t0 = time.perf_counter()
        failures = w.failures + w.check()
        check_s = time.perf_counter() - t0
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "nproc": os.cpu_count(),
            "cores": args.cores,
            "pyspark": __import__("pyspark").__version__,
            "git_sha": git_sha(),
            "host": {k: os.environ[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEM")},
            "prepare_s": prepare_s,
            "get_spark_s": get_spark_s,
            "setup_s": setup_s,
            "measured_s": m["measured_s"],
            # share of the host's CPU time stolen while measuring
            "steal_share": (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1]),
            "check_s": check_s,
            "op_ms": summary(m["op_ms"]),
            "lookup_ms": summary(m["lookup_ms"]),
            "bulk_ms": m["bulk_ms"],
            "rows_per_s": m.get("rows_per_s"),
            "memory_mb": mem,
            "attempted": m["ops"] + len(m["lookup_ms"]) + 1,
            "end_to_end": end_to_end(m, setup_s),
        }
        if tracer is not None:
            record["per_layer"] = per_layer(w, m, tracer, args.cores, mem)
            os.makedirs(WORK, exist_ok=True)
            tracer.dump(os.path.join(WORK, f"spans-{args.workload}-{args.seed}.jsonl"))
        return record, failures
    finally:
        if spark is not None:
            stop_session(spark)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--cores", type=int, default=len(os.sched_getaffinity(0)),
        help="local[N] thread count (default: every usable core)",
    )
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "kafka_connect_bigquery_spark")):
        print(f"no kafka_connect_bigquery_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.workload not in workload_classes():
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    e2e_units, layer_units = declared_units()
    units = layer_units if args.trace else e2e_units

    work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    pin_host(args.cores, work)
    try:
        record, failures = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    metrics = record["per_layer" if args.trace else "end_to_end"]
    if set(metrics) != set(units):
        raise SystemExit(f"metrics {sorted(set(metrics) ^ set(units))} disagree with BENCHMARK.json")
    for f in failures:
        print(f"CHECK FAILED: {f}", file=sys.stderr)
    record["failed"] = len(failures)
    record["failed_ratio"] = len(failures) / record["attempted"]
    print(json.dumps(record))
    print(
        json.dumps(
            {
                "correct": not failures,
                "attempted": record["attempted"],
                "failed": len(failures),
                "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
