"""registry_sweep: a frozen slice of the 55-query headline set, run through
the registry's public ``queries()`` surface at sf0.01.

Set-up starts the session and pays its one-off costs (JVM code paths,
Spark's Python worker, the Python DataSource processes) on work outside
the slice. The measured phase is one pass over the slice in its pinned
order: each query's first execution in that warmed session, timed through
the no-op sink as in ``bench.py``, so driver-side collection is not part
of the figure. Every result is then collected and hash-compared with its
DuckDB oracle (``oracle_sql()`` plus the canonicalizer in
``tests/oracle.py``), untimed.
"""

from __future__ import annotations

import tempfile
import time

from common import BENCH_DIR, geomean
from spans import Tracer

SF_DIR = f"{BENCH_DIR}/data/sf0.01"
SF = 0.01

# The slice: the first query, in the frozen headline order, of each of the
# thirteen operator modules the headline set touches, plus the second
# host-drift sentinel (topk_global). Pinned here, order included, so a
# registry change cannot silently change what is measured. The order is
# fixed rather than seeded: a query's first execution costs more the
# earlier it runs, and a seeded order made that the largest source of
# run-to-run spread. The workload's inputs (tables, slice, order) do not
# depend on the seed.
SLICE = (
    "pricing_summary",            # relational (drift sentinel 1)
    "topk_global",                # relational (drift sentinel 2)
    "dedup_exact",                # dedup
    "ann_brute_force",            # similarity
    "text_quality",               # textan
    "asof_attribution",           # temporal
    "stream_session_window",      # windows
    "rollup_cascade_day",         # rollup
    "cohort_retention",           # behavioral
    "stratified_sample",          # scale
    "contamination_eval_overlap", # trainprep
    "embedding_gram_matrix",      # featurize
    "feed_daily_rollup",          # ingest
    "png_decode_features",        # multimodal
)

# The thirteen operator modules of the 55-query headline set (from
# ``fn.__module__``), with the number of headline queries each owns.
MODULES = (
    "relational",  # 20
    "dedup",       # 6
    "trainprep",   # 6
    "similarity",  # 4
    "textan",      # 4
    "temporal",    # 4
    "behavioral",  # 4
    "ingest",      # 2
    "windows",     # 1
    "rollup",      # 1
    "scale",       # 1
    "featurize",   # 1
    "multimodal",  # 1
)
SENTINELS = ("pricing_summary", "topk_global")


def module_of(fn) -> str:
    return fn.__module__.rsplit(".", 1)[-1]


def run(spark, tracer: Tracer) -> dict:
    import duckdb

    import __spark_entry__ as em
    from tests.oracle import canonicalize, register_duck_views
    from weather_database_system_spark.pipeline.ingest import read_observation_feed
    from weather_database_system_spark.session import release_persisted
    from weather_database_system_spark.sources.observation_feed import (
        write_feed_fixtures,
    )

    queries, oracle = em.queries(), em.oracle_sql()

    # Set-up: the session's one-off costs, on work outside the slice, so
    # that no query of the slice pays them: JVM code paths (a shuffle and a
    # parquet scan), Spark's Python worker and the Python DataSource
    # processes (a one-day feed read).
    with tracer.span("session_warmup", "setup"):
        noop = lambda df: df.write.format("noop").mode("overwrite").save()  # noqa: E731
        noop(spark.range(200_000).selectExpr("id % 97 AS k").groupBy("k").count())
        noop(spark.read.parquet(f"{SF_DIR}/nation.parquet"))
        noop(spark.range(4).mapInPandas(lambda it: it, "id long"))
        feed = tempfile.mkdtemp()
        station = [{"latitude": 1.0, "longitude": 2.0}]
        write_feed_fixtures(feed, station, "2024-01-01", "2024-01-01", 1)
        noop(read_observation_feed(spark, station, "2024-01-01", "2024-01-01",
                                   shard_days=1, payload_dir=feed))
        con = duckdb.connect()
        register_duck_views(con, SF_DIR)
    setup_done = time.perf_counter()

    # One timed pass: each query's first execution in the warmed session,
    # through the no-op sink. The collect for the oracle comparison runs
    # after the timed span, before the query's persisted intermediates are
    # released, and is not timed.
    attempted = failed = 0
    failures: list[str] = []
    times: dict[str, float] = {}
    t_start = time.perf_counter()
    for name in SLICE:
        fn = queries[name]
        attempted += 1
        try:
            with tracer.span(name, "op." + module_of(fn), query=name):
                t0 = time.perf_counter()
                df = fn(spark, SF_DIR)
                df.write.format("noop").mode("overwrite").save()
                times[name] = time.perf_counter() - t0
            pdf = df.toPandas()
        except Exception as exc:  # noqa: BLE001 — counted, reported
            times.pop(name, None)
            failed += 1
            failures.append(f"{name}: {type(exc).__name__}: {exc}")
            continue
        finally:
            release_persisted()
        want = con.execute(oracle[name]).df()
        if not (
            sorted(pdf.columns) == sorted(want.columns)
            and len(pdf) == len(want) > 0
            and canonicalize(pdf) == canonicalize(want)
        ):
            failed += 1
            failures.append(f"{name}: result differs from the DuckDB oracle")
    measured_s = time.perf_counter() - t_start
    con.close()

    total = sum(times.values())
    geo_ms = geomean([v * 1e3 for v in times.values()])
    slowest = max(times, key=times.get)
    named = {
        "registry_total_s": (total, "s"),
        "registry_geomean_ms": (geo_ms, "ms"),
        "registry_slowest_ms": (times[slowest] * 1e3, "ms"),
    }
    return {
        "attempted": attempted,
        "failed": failed,
        "failures": failures,
        "setup_done": setup_done,
        "end_to_end": {
            "ops_per_s": len(times) / total,
            "typical_ms": geo_ms,
            "slow_ms": named["registry_slowest_ms"][0],
        },
        "named": named,
        "detail": {
            "measured_s": measured_s,
            "query_s": times,
            "slowest": slowest,
            "sentinels_warm_s": sentinel_seconds(spark),
            "sf": SF,
            "slice": list(SLICE),
        },
    }


def sentinel_seconds(spark) -> dict[str, float]:
    """Warm seconds of the two host-drift sentinels (second of two runs),
    for workloads that do not run them anyway."""
    import __spark_entry__ as em
    from weather_database_system_spark.session import release_persisted

    queries = em.queries()
    out = {}
    for name in SENTINELS:
        for _ in range(2):
            t0 = time.perf_counter()
            queries[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
            release_persisted()
            out[name] = time.perf_counter() - t0
    return out


def layer_metrics(tracer: Tracer) -> dict:
    """Per-module figures from the traced pass."""
    from spans import totals

    out = {}
    for m in MODULES:
        t = totals(tracer.by_layer("op." + m))
        out[f"op.{m}.query_s"] = t["s"]
        out[f"op.{m}.jobs"] = t["jobs"]
        out[f"op.{m}.outside_job_s"] = t["outside_job_s"]
        out[f"op.{m}.executor_cpu_s"] = t["cpu_s"]
        out[f"op.{m}.shuffle_bytes"] = t["shuffle_bytes"]
    return out
