"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload live_topk --seed 1 --seconds 20 --trace 0

Runs in one process on `local[<cores>]` with the package's own
session (`session.get_spark`). With `--trace 0` it prints the
end-to-end metrics; with `--trace 1` it records spans around every
call it makes into the package, reads Spark's own counters, and
prints the per-layer metrics (README.md lists both and what each
should move). Exits 1 when an output is wrong, 2 when the run cannot
produce a result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = os.path.join(ROOT, "mrtweety_analytic_spark")
SETUPS = 3
CORES = len(os.sched_getaffinity(0))
WORKLOADS = ("live_topk", "batch_llm_mix")
MIX_MODULES = ("textops", "dedup", "similarity", "lifecycle", "multimodal",
               "quality", "mining", "graph")

END_TO_END = {  # name -> unit
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "latency_tail_ms": "ms",
    "rows_per_s": "1/s",
    "ok_frac": "frac",
}
PER_LAYER = {
    "session.start_s": "s",
    "stream.startup_s": "s",
    "gen.busy_ms": "ms",
    "source.latest_offset_ms": "ms",
    "source.get_batch_ms": "ms",
    "source.backlog_rows": "rows",
    "pipeline.planning_ms": "ms",
    "pipeline.jobs_per_trigger": "count",
    "pipeline.tasks_per_trigger": "count",
    "commit.wal_ms": "ms",
    "commit.offsets_ms": "ms",
    "trigger.execution_ms": "ms",
    "trigger.add_batch_ms": "ms",
    "state.stores": "count",
    "state.rows_total": "rows",
    "state.rows_updated": "rows",
    "state.rows_removed": "rows",
    "state.rows_dropped_late": "rows",
    "state.memory_bytes": "B",
    "state.update_ms": "ms",
    "state.removal_ms": "ms",
    "state.commit_ms": "ms",
    "sink.call_ms": "ms",
    "sink.job_ms": "ms",
    "sink.driver_ms": "ms",
    "sink.rows_in": "rows",
    "sink.docs_written": "count",
    "registry.build_s": "s",
    "registry.build_jobs": "count",
    **{f"operators.{m}.exec_s": "s" for m in MIX_MODULES},
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.shuffle_read_bytes": "B",
    "exec.shuffle_write_bytes": "B",
    "exec.spill_bytes": "B",
    "exec.driver_gap_s": "s",
    "mem.pinned_bytes": "B",
    "mem.pinned_rdds": "count",
    "mem.peak_rss_mb": "MB",
    "baseline.local1_trigger_ms": "ms",
    "trace.overhead_frac": "frac",
}


def tail(values: list[float]) -> float:
    """The highest percentile with at least ten samples beyond it, once
    that is above the median (more than 20 samples); the maximum below
    that."""
    s = sorted(values)
    return s[len(s) - 11] if len(s) > 20 else s[-1]


def _isolate(workdir: str) -> None:
    """Keep every file Spark and its workers write inside the checkout,
    and put the package on the Python workers' path."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(workdir, 'warehouse')} "
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
    )
    os.environ["SKIP_DTYPES"] = "1"  # read by verify_oracle at import
    for p in (ROOT, HERE, os.path.join(ROOT, "tools")):
        if p not in sys.path:
            sys.path.insert(0, p)


def _session(cores: int):
    from mrtweety_analytic_spark.session import get_spark

    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_up(spark) -> None:
    """One small shuffle job: starts the executor's task threads and
    shuffle service, not the workload's own code paths (the stream
    warms those before its window; the batch mix is measured cold)."""
    spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count().collect()


def run(args, workdir: str) -> tuple[dict, dict]:
    import streaming
    from tracing import SparkStats, Tracer, peak_rss_mb, reset_peak_rss

    tracer = Tracer(bool(args.trace))
    if args.workload == "batch_llm_mix":
        import mix

        sf, corpus_rows = mix.prepare(args.seed, workdir)

    setups, starts, spark = [], [], None
    for i in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.time()
        with tracer.span("session.start", f"setup/{i}"):
            spark = _session(CORES)
        t1 = time.time()
        with tracer.span("warm_up", f"setup/{i}"):
            warm_up(spark)
        starts.append(t1 - t0)
        setups.append(time.time() - t0)
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    reset_peak_rss(jvm_pid)  # the peak of the workload, not of set-up
    stats = SparkStats(spark)

    if args.workload == "batch_llm_mix":
        res = mix.run_mix(spark, sf, corpus_rows, tracer, stats)
    else:
        res = streaming.run_live(spark, args.seed, args.seconds, workdir, tracer, stats)
        if args.trace:
            res["layers"]["gen.busy_ms"] = streaming.gen_busy_ms(
                spark, args.seed, res["trigger_rows"])
    layers = {"session.start_s": statistics.median(starts),
              "mem.peak_rss_mb": peak_rss_mb(jvm_pid), **res["layers"]}
    if args.trace and args.workload == "live_topk":
        # Single-thread baseline: the same job on local[1], one trigger
        # after its warm-up documents.
        spark.stop()
        spark = _session(1)
        base = streaming.run_live(spark, args.seed, 0, workdir,
                                  Tracer(True), SparkStats(spark))
        layers["baseline.local1_trigger_ms"] = base["layers"]["trigger.execution_ms"]
        res["correct"] = res["correct"] and base["correct"]
    spark.stop()

    lat = res["latency_ms"]
    e2e = {
        "setup_s": statistics.median(setups),
        "latency_p50_ms": statistics.median(lat),
        "latency_tail_ms": tail(lat),
        "rows_per_s": res["rows_per_s"],
        "ok_frac": (res["attempted"] - res["failed"]) / res["attempted"],
    }
    if args.trace:
        tracer.dump(os.path.join(ROOT, ".perfbench",
                                 f"spans-{args.workload}-seed{args.seed}.jsonl"))
    print(f"setups_s={[round(x, 2) for x in setups]} "
          f"latency_ms={[round(x) for x in lat]} "
          f"startup_s={res.get('startup_s', 0):.1f}", file=sys.stderr)
    return res, {"e2e": e2e, "layers": layers, "samples": len(lat)}


def _shutdown() -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers) to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(PACKAGE):
        print(f"package not found at {PACKAGE}", file=sys.stderr)
        return 2

    workdir = os.path.join(ROOT, ".perfbench", f"{args.workload}-{os.getpid()}")
    # A terminated run still stops Spark and removes its work directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    _isolate(workdir)
    try:
        res, out = run(args, workdir)
    except RuntimeError as e:
        print(f"run failed: {e}", file=sys.stderr)
        return 2
    finally:
        _shutdown()
        shutil.rmtree(workdir, ignore_errors=True)

    if args.trace:
        values = {k: out["layers"].get(k, 0) for k in PER_LAYER}
        units = PER_LAYER
    else:
        values, units = out["e2e"], END_TO_END
    for k, v in values.items():
        print(f"{args.workload} {k} = {v:.6g} {units[k]}")
    print(f"{args.workload} samples = {out['samples']}")
    if res["mismatch"]:
        print(f"MISMATCH: {json.dumps(res['mismatch'], default=str)}", file=sys.stderr)
    print(json.dumps({
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in values.items()},
    }))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
