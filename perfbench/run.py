#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Generates the workload's inputs from
the seed, sets the Spark session and the workload up once, measures for
``--seconds``, checks the outputs, and
prints one JSON object as the last line of standard output:
end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``. Workloads and metrics are described in perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import tempfile
import time

import harness as H

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: End-to-end metrics, printed by every workload with --trace 0.
END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "latency_p50_s": "s",
    "throughput_per_s": "1/s",
}


def configure_env(work: str) -> dict[str, int]:
    """Size the session for this box and keep Spark's files in ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    heap = H.driver_heap_mb(H.available_ram_mb())
    os.environ["SPARK_GRAFT_CPUS"] = str(H.cpu_count())
    os.environ["SPARK_DRIVER_MEMORY"] = f"{heap}m"
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp  # gettempdir() caches its first answer
    # collected timestamps become naive datetimes in the local zone
    os.environ["TZ"] = "UTC"
    time.tzset()
    return {"cores": H.cpu_count(), "driver_heap_mb": heap}


def start_session(work: str):
    from data_pipeline_for_real_time_retail_analytics_spark.session import get_spark

    events = os.path.join(work, "eventlog")
    os.makedirs(events, exist_ok=True)
    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # initial heap = max heap: the heap does not grow by GC
            # heuristics, which made resident memory differ run to run
            "spark.driver.extraJavaOptions": (
                f"-Xms{os.environ['SPARK_DRIVER_MEMORY']} "
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work}"),
            # on in traced and untraced runs alike, so the two differ only
            # by the spans and job tags
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
            "spark.sql.streaming.numRecentProgressUpdates": "100000",
            # keep every commit-log entry: stream latency is read from them
            "spark.sql.streaming.minBatchesToRetain": "100000",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Shut the Py4J gateway and wait for the JVM process to end, so the
    run does not exit while the JVM it started is still running."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


WORKLOADS = {
    "stream_live": "stream_live.StreamLive",
    "elt_cdc": "elt_cdc.EltCdc",
    "query_mix": "query_mix.QueryMix",
    "corpus_curation": "corpus_curation.CorpusCuration",
    "batch_mix": "batch_mix.BatchMix",
}


def workload_class(name: str):
    module, cls = WORKLOADS[name].split(".")
    return getattr(importlib.import_module(module), cls)


def run(args, work: str, t_process: float) -> dict:
    import per_layer

    box = configure_env(work)
    wl = workload_class(args.workload)(work, args.seed, args.seconds, args.scale)
    t_gen = time.perf_counter()
    inputs = wl.generate()
    generate_s = time.perf_counter() - t_gen

    with H.RssSampler() as rss:
        t0 = time.perf_counter()
        spark = start_session(work)
        session_start_s = time.perf_counter() - t0
        wl.prepare(spark)
        # process start to the first timed operation: interpreter start,
        # imports, JVM and session start, preparation and warm-up, less
        # the benchmark's own input generation
        setup_s = time.time() - t_process - generate_s
        tracer = H.Tracer(spark.sparkContext, enabled=bool(args.trace))
        t_run = time.perf_counter()
        wl.run(spark, tracer)
        run_s = time.perf_counter() - t_run
    attempted, failed, checks = wl.check(spark)
    app_id = spark.sparkContext.applicationId
    spark.stop()
    stop_jvm()

    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "scale": args.scale, "box": box, "inputs": inputs, "checks": checks,
        "window_s": run_s, "setup_s": setup_s, "session_start_s": session_start_s,
        "generate_s": generate_s,
        **wl.detail(),
    }
    print("perfbench detail " + json.dumps(detail, default=str))
    if args.trace:
        counters = H.read_event_log(H.event_log_path(os.path.join(work, "eventlog"), app_id))
        metrics = per_layer.collect(
            wl, tracer, counters,
            session={"start_s": session_start_s},
            bench={"generate_s": generate_s},
        )
        units = per_layer.UNITS
        tracer.write(os.path.join(out_dir(), f"spans-{args.workload}-seed{args.seed}.jsonl"))
    else:
        metrics = dict(wl.end_to_end())
        metrics["setup_s"] = setup_s
        metrics["peak_rss_mb"] = rss.peak_mb
        units = END_TO_END
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }


def out_dir() -> str:
    path = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(path, exist_ok=True)
    return path


def main(argv: list[str] | None = None) -> int:
    t_process = H.process_start_time()
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True,
                    choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "tiny"], default="full",
                    help="tiny: smallest inputs, for the smoke tests")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import data_pipeline_for_real_time_retail_analytics_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the package from {ROOT}: {exc}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-seed{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        result = run(args, work, t_process)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
