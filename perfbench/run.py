#!/usr/bin/env python3
"""weatherlake benchmark: one command, two workloads.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 8 --trace 0

Workloads (see README.md in this directory):
  serve           feed-to-gold backfill as set-up, then cache-first HTTP
                  serving with warehouse fallbacks and concurrent refreshes
  registry_sweep  a frozen slice of the 55-query headline set at sf0.01

With ``--trace 0`` the last stdout line carries the end-to-end metrics; with
``--trace 1`` it carries the per-layer metrics from a separate, traced run
(Spark event log + spans around each layer call). Every run writes its full
record to ``.perfbench/results/`` in the checkout and removes its state.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

from common import (  # noqa: E402
    CPUS,
    RunDir,
    gc_figures,
    java_child,
    metric,
    package_present,
    peak_rss_mb,
    save_result,
    start_spark,
    stop_spark,
    untraced_history,
)

WORKLOADS = ("serve", "registry_sweep")

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "typical_ms": "ms",
    "slow_ms": "ms",
    "driver_peak_rss_mb": "MiB",
}

PIPELINE_LAYERS = {
    "session.start_s": "s",
    "jvm.heap_after_gc_mb": "MiB",
    "jvm.gc_pause_ms": "ms",
    "ingest.s": "s",
    "ingest.jobs": "count",
    "ingest.tasks_per_shard": "ratio",
    "ingest.outside_job_s": "s",
    "ingest.executor_cpu_s": "s",
    "warehouse.load_daily_s": "s",
    "warehouse.monthly_agg_s": "s",
    "warehouse.incremental_s": "s",
    "warehouse.jobs": "count",
    "warehouse.shuffle_bytes": "bytes",
    "warehouse.files_written": "count",
    "cache.refresh_s": "s",
    "cache.refresh_jobs": "count",
    "cache.read_snapshot_ms": "ms",
    "serving.hit_ms": "ms",
    "serving.fallback_ms": "ms",
    "serving.fallback_jobs_per_request": "count",
    "serving.fallback_share": "ratio",
    "serving.cached_city_hit_ratio": "ratio",
    "httpserver.overhead_ms": "ms",
    "httpserver.hot_jobs_per_request": "count",
    "httpserver.churn_jobs_per_request": "count",
    "httpserver.churn_executor_cpu_s": "s",
}


def per_layer_units() -> dict[str, str]:
    from registry import MODULES

    units = dict(PIPELINE_LAYERS)
    for m in MODULES:
        units.update(
            {
                f"op.{m}.query_s": "s",
                f"op.{m}.jobs": "count",
                f"op.{m}.outside_job_s": "s",
                f"op.{m}.executor_cpu_s": "s",
                f"op.{m}.shuffle_bytes": "bytes",
            }
        )
    return units


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def provenance(args, detail: dict) -> dict:
    import pyspark

    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": int(CPUS),
        "pyspark": pyspark.__version__,
        "python": sys.version.split()[0],
        "sf": detail.get("sf"),
        "sentinels_warm_s": detail.get("sentinels_warm_s"),
    }


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    # Let a termination request unwind through the clean-up below.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not package_present():
        print("weather_database_system_spark is not in this checkout", file=sys.stderr)
        return 2
    traced = bool(args.trace)
    run_dir = RunDir(args.workload, args.seed)
    run_dir.isolate()
    server = None
    spark = None
    try:
        from spans import Tracer

        if args.workload == "serve":
            import serve

            # The server's JVM starts while this process builds the data.
            server = serve.Server(
                run_dir, run_dir.sub("warehouse"), run_dir.sub("cache"), traced
            )
        t0 = time.perf_counter()
        event_log = run_dir.sub("eventlog") if traced else None
        gc_log = os.path.join(run_dir.path, "driver-gc.log") if traced else None
        spark = start_spark(run_dir, f"perfbench-{args.workload}", event_log, gc_log)
        session_start_s = time.perf_counter() - t0
        tracer = Tracer(args.workload, spark, enabled=traced)

        if args.workload == "serve":
            res = serve.run(spark, tracer, run_dir, args.seed, args.seconds, server, traced)
            rss = res["rss_mb"]
        else:
            import registry

            res = registry.run(spark, tracer)
            rss = peak_rss_mb(java_child(os.getpid()))
        # Stopping flushes and closes the event logs. The server goes
        # first: it is a child of this process, and stop_spark waits for
        # every process under this one.
        if server is not None:
            server.stop()
        stop_spark(spark)
        spark = None

        setup_s = res["setup_done"] - T_START
        e2e = {"setup_s": setup_s, **res["end_to_end"], "driver_peak_rss_mb": rss}
        bad = [k for k, v in e2e.items() if not math.isfinite(v) or v <= 0]
        if bad:
            raise RuntimeError(f"end-to-end metrics not positive and finite: {bad}")
        layers = {}
        if traced:
            from spans import attribute, read_event_log

            attribute(tracer.spans, read_event_log(event_log))
            layers = {k: 0 for k in per_layer_units()}
            layers["session.start_s"] = session_start_s
            # The heap figures are those of the JVM whose peak resident set
            # is driver_peak_rss_mb: the server's in serve.
            layers.update(
                ("jvm." + k, v)
                for k, v in gc_figures(server.gc_log if server else gc_log).items()
            )
            if args.workload == "serve":
                server_log = read_event_log(server.event_log_dir)
                layers.update(serve.layer_metrics(tracer, res, server_log))
            else:
                layers.update(registry.layer_metrics(tracer))
    finally:
        try:
            if server is not None:
                server.stop()
            if spark is not None:
                stop_spark(spark)
        finally:
            run_dir.remove()

    prov = provenance(args, res["detail"])
    error_ratio = res["failed"] / res["attempted"]
    record = {
        "provenance": prov,
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "error_ratio": error_ratio,
        "failures": res["failures"],
        "end_to_end": e2e,
        "named": {k: {"value": v, "unit": u} for k, (v, u) in res["named"].items()},
        "per_layer": layers,
        "detail": res["detail"],
        "spans": tracer.spans if traced else [],
    }
    if traced:
        record["tracing_overhead"] = tracing_overhead(args.workload, e2e)
    path = save_result(args.workload, args.seed, traced, record)

    print("provenance " + json.dumps(prov, sort_keys=True))
    print(f"error_ratio {error_ratio:.6f} ({res['failed']} of {res['attempted']})")
    for f in res["failures"]:
        print("FAILED " + f)
    for k, (v, u) in res["named"].items():
        print(f"named {k} = {v:.6g} {u}")
    if traced:
        for k, d in record["tracing_overhead"].items():
            print(f"tracing_overhead {k}: traced {d['traced']:.6g} untraced {d['untraced']} diff {d['diff']}")
    print(f"record {os.path.relpath(path)}")
    units = per_layer_units() if traced else END_TO_END
    values = layers if traced else e2e
    sys.stdout.flush()
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": {k: metric(values[k], u) for k, u in units.items()},
            }
        ),
        flush=True,
    )
    return 0 if res["failed"] == 0 else 1


def tracing_overhead(workload: str, traced_e2e: dict) -> dict:
    """Traced minus untraced for each end-to-end metric; the untraced side
    is the median of the earlier untraced runs of this workload in the same
    checkout (None when there are none)."""
    history = untraced_history(workload)
    out = {}
    for k, v in traced_e2e.items():
        base = [d["end_to_end"][k] for d in history if k in d.get("end_to_end", {})]
        med = statistics.median(base) if base else None
        out[k] = {
            "traced": v,
            "untraced": med,
            "diff": None if med is None else v - med,
            "runs": len(base),
        }
    return out


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
