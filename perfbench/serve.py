"""serve: the feed-to-gold pipeline as set-up, then cache-first HTTP
serving under refresh churn.

Set-up (timed as ``setup_s``; its stages are the pipeline figures):
  1. the server starts as its own process through the package CLI
     (``python -m weather_database_system_spark serve-http --port 0``), so
     client and server do not share an interpreter lock;
  2. meanwhile, in this process, a backfill of CITIES cities from offline
     feed fixtures: per city ``ingest_feed`` (bronze + silver), then
     ``silver_to_daily`` + ``load_daily``, ``build_monthly_agg`` and
     ``refresh_cache``;
  3. an incremental batch: one more 30-day shard for one hot city under a
     later ``fetched_at``, through ``ingest_feed`` -> ``load_daily`` (the
     batch-id anti-join) -> ``refresh_monthly_incremental`` ->
     ``refresh_cache``;
  4. cache states: the hot cities fresh, the third city expired.

Load, closed loop, in two phases:
  hot    (a quarter of the seconds) one reader ``GET /api/monthly`` over
         the hot cities, seeded and skewed 3:1; every reply should come
         from the cache and Spark should run no job;
  churn  (the rest) 3 readers, 80% of whose requests go to the hot cities
         and 20% to the cold city, which falls back to a warehouse
         query, while a fourth thread loops ``POST /api/sync-now`` over the
         hot cities, rewriting their snapshots beside the reads.

Every response must be 200 and its ``data`` must equal the city's monthly
rows worked out in closed form from ``fixture_hourly_values``.
"""

from __future__ import annotations

import datetime as dt
import http.client
import json
import os
import queue
import random
import subprocess
import sys
import threading
import time
from decimal import ROUND_HALF_UP, Decimal
from urllib.parse import quote

from common import (
    CPUS,
    PACKAGE,
    ROOT,
    RunDir,
    descendants,
    java_child,
    peak_rss_mb,
    percentile,
    spark_conf,
    stop_process,
    timing_summary,
    wait_gone,
)
import registry
from spans import Tracer

CITIES = 3
HOT = 2             # cities 0..HOT-1 are hot; city HOT has an expired snapshot
HOT_WEIGHTS = (3, 1)
COLD_SHARE = 0.2
SHARD_DAYS = 30
SHARDS = 3          # backfill history per city, in 30-day shards
READERS = 3         # churn-phase readers (plus one refresh loop)
HOT_READERS = 1     # hot-phase readers: one client measures the hit path unqueued
HOT_PHASE_SHARE = 0.25  # share of the measured seconds spent in the hot phase
WARMUP_ROUNDS = 2   # server warm-up: fallbacks and refreshes before the load
SERVER_START_TIMEOUT_S = 150
HTTP_TIMEOUT_S = 60
REL_TOL = 1e-9      # float tolerance for the closed-form comparison


# --- inputs ---------------------------------------------------------------

def make_inputs(seed: int) -> dict:
    rng = random.Random(seed)
    names = rng.sample(
        ["Stockton", "Fresno", "Modesto", "Merced", "Sacramento", "Lodi",
         "Tracy", "Visalia", "Chico", "Redding", "Davis", "Manteca"],
        CITIES,
    )
    cities = [
        {
            "name": n,
            "s": i,  # fixture station index
            "station": {
                "latitude": round(rng.uniform(32.5, 41.5), 3),
                "longitude": round(-rng.uniform(115.5, 123.5), 3),
            },
        }
        for i, n in enumerate(names)
    ]
    # January 1 of a non-leap year: the backfill covers exactly January to
    # March and the incremental shard exactly April, whatever the seed, so
    # every seed does the same amount of work.
    start = dt.date(rng.choice((2021, 2022, 2023)), 1, 1)
    end = start + dt.timedelta(days=SHARDS * SHARD_DAYS - 1)
    inc_start = end + dt.timedelta(days=1)
    inc_end = inc_start + dt.timedelta(days=SHARD_DAYS - 1)
    return {
        "cities": cities,
        "start": start.isoformat(),
        "end": end.isoformat(),
        "inc_start": inc_start.isoformat(),
        "inc_end": inc_end.isoformat(),
        "inc_city": 0,  # the busier hot city
        "rng_seed": rng.randrange(1 << 30),
    }


def expected_monthly(inputs: dict) -> dict[str, list[dict]]:
    """Each city's monthly rows, in closed form from the fixture generator:
    avg_temp_c over non-null temperatures, total_rain_mm with null
    precipitation filled as 0, both accumulated as decimal(30,10) the way
    the warehouse does."""
    from weather_database_system_spark.sources.observation_feed import (
        fixture_hourly_values,
    )

    q = Decimal("1E-10")
    out = {}
    for c in inputs["cities"]:
        ranges = [(inputs["start"], inputs["end"])]
        if c["s"] == inputs["inc_city"]:
            ranges.append((inputs["inc_start"], inputs["inc_end"]))
        months: dict[str, list] = {}
        for a, b in ranges:
            base = dt.datetime.fromisoformat(a)
            hours = (dt.date.fromisoformat(b) - dt.date.fromisoformat(a)).days * 24 + 24
            for g in range(hours):
                key = (base + dt.timedelta(hours=g)).strftime("%Y-%m-01")
                acc = months.setdefault(key, [Decimal(0), 0, Decimal(0)])
                v = fixture_hourly_values(c["s"], g)
                if v["temperature_2m"] is not None:
                    acc[0] += Decimal(repr(v["temperature_2m"])).quantize(q, ROUND_HALF_UP)
                    acc[1] += 1
                rain = v["precipitation"] if v["precipitation"] is not None else 0.0
                acc[2] += Decimal(repr(rain)).quantize(q, ROUND_HALF_UP)
        out[c["name"]] = [
            {
                "city": c["name"],
                "month": m,
                "avg_temp_c": float(t) / n,
                "total_rain_mm": float(r),
            }
            for m, (t, n, r) in sorted(months.items())
        ]
    return out


def rows_match(got: list[dict], want: list[dict]) -> bool:
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if g.get("city") != w["city"] or g.get("month") != w["month"]:
            return False
        for k in ("avg_temp_c", "total_rain_mm"):
            if g.get(k) is None or abs(g[k] - w[k]) > REL_TOL * max(1.0, abs(w[k])):
                return False
    return True


# --- the server process ---------------------------------------------------

class Server:
    """``serve-http`` as a child process with its own Spark driver."""

    def __init__(self, run: RunDir, warehouse: str, cache: str, traced: bool):
        conf_dir = run.sub("server-conf")
        self.event_log_dir = run.sub("server-eventlog") if traced else None
        self.gc_log = os.path.join(run.path, "server-gc.log") if traced else None
        conf = spark_conf(run, self.event_log_dir, self.gc_log)
        with open(os.path.join(conf_dir, "spark-defaults.conf"), "w", encoding="utf-8") as fh:
            for k, v in conf.items():
                fh.write(f"{k} {v}\n")
        env = run.child_env()
        env["SPARK_CONF_DIR"] = conf_dir
        self.log_path = os.path.join(run.path, "server.log")
        self._log = open(self.log_path, "wb")
        # Unbuffered (-u): the "listening" line must reach the pipe as soon
        # as it is printed, not when a block buffer fills.
        self.proc = subprocess.Popen(
            [sys.executable, "-u", "-m", PACKAGE, "--cpus", CPUS, "serve-http",
             "--warehouse", warehouse, "--cache", cache, "--port", "0"],
            cwd=ROOT,
            env=env,
            stdout=subprocess.PIPE,
            stderr=self._log,
        )
        self._lines: queue.Queue = queue.Queue()
        threading.Thread(target=self._pump, daemon=True).start()
        self.port: int | None = None

    def _pump(self) -> None:
        for line in self.proc.stdout:
            self._lines.put(line)
        self._lines.put(None)

    def wait_listening(self, deadline: float) -> int:
        while self.port is None:
            try:
                line = self._lines.get(timeout=max(0.1, deadline - time.time()))
            except queue.Empty:
                raise RuntimeError("server did not start in time") from None
            if line is None:
                raise RuntimeError("server exited; see " + self.log_path)
            try:
                doc = json.loads(line)
            except ValueError:
                continue
            if doc.get("status") == "listening":
                self.port = int(doc["port"])
        return self.port

    def jvm_peak_rss_mb(self) -> float:
        pid = java_child(self.proc.pid)
        if pid is None:
            raise RuntimeError("server JVM not found")
        return peak_rss_mb(pid)

    def stop(self) -> None:
        """Stop the server and wait for it and its JVM (which outlives the
        Python process by a few seconds) to exit."""
        if self._log.closed:
            return
        tree = descendants(self.proc.pid)
        stop_process(self.proc)
        wait_gone(tree)
        self._log.close()


def http_call(port: int, method: str, path: str) -> tuple[int, bytes, float]:
    t0 = time.perf_counter()
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=HTTP_TIMEOUT_S)
    try:
        conn.request(method, path)
        resp = conn.getresponse()
        body = resp.read()
        status = resp.status
    finally:
        conn.close()
    return status, body, (time.perf_counter() - t0) * 1e3


# --- workload -------------------------------------------------------------

def setup_pipeline(spark, tracer: Tracer, run: RunDir, inputs: dict, on_gold) -> dict:
    from weather_database_system_spark.pipeline.cache import refresh_cache
    from weather_database_system_spark.pipeline.ingest import ingest_feed
    from weather_database_system_spark.pipeline.warehouse import (
        build_monthly_agg,
        load_daily,
        refresh_monthly_incremental,
        silver_to_daily,
    )
    from weather_database_system_spark.sources.observation_feed import (
        write_feed_fixtures,
    )

    payloads = run.sub("payloads")
    stations = [c["station"] for c in inputs["cities"]]
    write_feed_fixtures(payloads, stations, inputs["start"], inputs["end"], SHARD_DAYS)
    write_feed_fixtures(payloads, stations, inputs["inc_start"], inputs["inc_end"], SHARD_DAYS)
    bronze, silver = run.sub("bronze"), run.sub("silver")
    warehouse, cache = run.sub("warehouse"), run.sub("cache")
    fetched = dt.datetime(2025, 1, 1)

    def ingest(c: dict, start: str, end: str, fetched_at: dt.datetime, shards: int) -> None:
        with tracer.span("ingest_feed", "ingest", shards=shards, city=c["name"]):
            ingest_feed(
                spark, [c["station"]], start, end,
                city=c["name"], state="CA", shard_days=SHARD_DAYS,
                payload_dir=payloads, bronze_path=bronze, silver_path=silver,
                fetched_at=fetched_at,
            )

    t0 = time.perf_counter()
    for c in inputs["cities"]:
        ingest(c, inputs["start"], inputs["end"], fetched, SHARDS)
    with tracer.span("load_daily", "warehouse.load_daily"):
        load_daily(silver_to_daily(spark.read.parquet(silver)), warehouse)
    with tracer.span("build_monthly_agg", "warehouse.monthly_agg"):
        build_monthly_agg(spark, warehouse)
    on_gold()
    for c in inputs["cities"][:HOT]:
        with tracer.span("refresh_cache", "cache.refresh", city=c["name"]):
            refresh_cache(spark, warehouse, cache, c["name"])
    backfill_s = time.perf_counter() - t0

    city = inputs["cities"][inputs["inc_city"]]
    t0 = time.perf_counter()
    with tracer.span("incremental_batch", "incremental"):
        ingest(city, inputs["inc_start"], inputs["inc_end"], fetched + dt.timedelta(days=40), 1)
        with tracer.span("load_daily", "warehouse.incremental"):
            load_daily(silver_to_daily(spark.read.parquet(silver)), warehouse)
        months = sorted({inputs["inc_start"][:7] + "-01", inputs["inc_end"][:7] + "-01"})
        with tracer.span("refresh_monthly_incremental", "warehouse.incremental"):
            refresh_monthly_incremental(spark, warehouse, months)
        with tracer.span("refresh_cache", "cache.refresh", city=city["name"]):
            refresh_cache(spark, warehouse, cache, city["name"])
    incremental_s = time.perf_counter() - t0

    # One snapshot that has already expired: written as of two hours ago
    # with a one-hour TTL.
    expired = inputs["cities"][HOT]["name"]
    with tracer.span("refresh_cache", "cache.refresh", city=expired):
        refresh_cache(
            spark, warehouse, cache, expired, ttl_sec=3600,
            now=dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
            - dt.timedelta(hours=2),
        )
    files = sum(len(fs) for _, _, fs in os.walk(warehouse))
    silver_rows = CITIES * SHARDS * SHARD_DAYS * 24
    return {
        "warehouse": warehouse,
        "cache": cache,
        "backfill_s": backfill_s,
        "incremental_s": incremental_s,
        "silver_rows": silver_rows,
        "warehouse_files": files,
    }


def hot_deck(rng: random.Random, hot: list[str]) -> list[tuple[str, str]]:
    """One block of hot-city reads in the exact HOT_WEIGHTS proportions,
    in seeded order."""
    block = [("hot", c) for c, w in zip(hot, HOT_WEIGHTS) for _ in range(w)]
    rng.shuffle(block)
    return block


def churn_deck(rng: random.Random, hot: list[str], cold: list[str]) -> list[tuple[str, str]]:
    """One block of churn-phase reads: COLD_SHARE of them to the cold
    cities, the rest to the hot ones in HOT_WEIGHTS proportions, in seeded
    order. Fixed proportions per block keep the mix, and so the share of
    slow requests, the same from run to run."""
    n_cold = len(cold)
    n_hot = round(n_cold * (1 - COLD_SHARE) / COLD_SHARE)
    per = n_hot // sum(HOT_WEIGHTS)
    block = [("cold", c) for c in cold]
    block += [("hot", c) for c, w in zip(hot, HOT_WEIGHTS) for _ in range(w * per)]
    rng.shuffle(block)
    return block


def _client(port, phase, next_call, deadline, out, barrier):
    barrier.wait()
    while time.perf_counter() < deadline:
        method, route, kind, city = next_call()
        try:
            status, body, ms = http_call(port, method, f"{route}?city={quote(city)}")
        except OSError as exc:
            status, body, ms = None, repr(exc).encode(), 0.0
        out.append((phase, method, city, kind, status, body, ms, time.perf_counter()))


def _cycle(make_block):
    """Endless calls from repeated blocks."""
    buf: list = []

    def nxt():
        if not buf:
            buf.extend(reversed(make_block()))
        return buf.pop()

    return nxt


def run_phase(port: int, phase: str, calls: list, seconds: float) -> tuple[list, float, float]:
    """Closed loop: one thread per call source, each sending its next
    request when the previous reply arrives, for ``seconds``. Returns the
    records, the measured window (first send to last reply) and its start
    on the wall clock."""
    out: list = []
    barrier = threading.Barrier(len(calls) + 1)
    deadline = time.perf_counter() + seconds
    threads = [
        threading.Thread(target=_client, args=(port, phase, c, deadline, out, barrier))
        for c in calls
    ]
    for t in threads:
        t.start()
    barrier.wait()
    t0, epoch0 = time.perf_counter(), time.time()
    for t in threads:
        t.join()
    return out, max(r[7] for r in out) - t0, epoch0


def drive_load(port: int, inputs: dict, seconds: float) -> dict:
    """The hot phase (HOT_PHASE_SHARE of the seconds: readers of fresh
    snapshots only), then the churn phase (readers with cold cities plus
    one refresh loop)."""
    names = [c["name"] for c in inputs["cities"]]
    hot, cold = names[:HOT], names[HOT:]
    master = random.Random(inputs["rng_seed"])

    def reader(make):
        rng = random.Random(master.randrange(1 << 30))
        blocks = _cycle(lambda: make(rng))
        return lambda: ("GET", "/api/monthly", *blocks())

    def syncer():
        rng = random.Random(master.randrange(1 << 30))
        blocks = _cycle(lambda: rng.sample(hot, len(hot)))
        return lambda: ("POST", "/api/sync-now", "sync", blocks())

    hot_calls = [reader(lambda r: hot_deck(r, hot)) for _ in range(HOT_READERS)]
    churn_calls = [reader(lambda r: churn_deck(r, hot, cold)) for _ in range(READERS)]
    hot_rec, hot_window, hot_epoch = run_phase(port, "hot", hot_calls, seconds * HOT_PHASE_SHARE)
    churn_rec, churn_window, churn_epoch = run_phase(
        port, "churn", churn_calls + [syncer()], seconds * (1 - HOT_PHASE_SHARE)
    )
    return {
        "records": hot_rec + churn_rec,
        "hot_window": hot_window,
        "churn_window": churn_window,
        "hot_epoch": (hot_epoch, hot_epoch + hot_window),
        "churn_epoch": (churn_epoch, churn_epoch + churn_window),
        "hot_requests": len(hot_rec),
        "churn_requests": len(churn_rec),
    }


def check_responses(records: list, expected: dict) -> dict:
    """Verify every response and sort its latency into a class: hot-phase
    hit, churn-phase hit, fallback or refresh. In the hot phase every
    snapshot is fresh and nothing rewrites it, so a reply from the
    warehouse there is a failure."""
    lat = {"hot_hit": [], "churn_hit": [], "fallback": [], "sync": []}
    failures = []
    churn_hot = churn_hot_cache = 0
    for phase, method, city, kind, status, body, ms, _ in records:
        if status != 200:
            failures.append(f"{method} {city}: status {status}: {body[:200]!r}")
            continue
        doc = json.loads(body)
        if method == "POST":
            if not doc.get("success") or doc.get("rows_cached") != len(expected[city]):
                failures.append(f"POST {city}: unexpected reply {doc}")
            else:
                lat["sync"].append(ms)
            continue
        if not rows_match(doc.get("data") or [], expected[city]):
            failures.append(f"GET {city}: data differs from the closed form")
            continue
        source = doc.get("source")
        if source not in ("cache", "warehouse"):
            failures.append(f"GET {city}: unknown source {source}")
            continue
        if phase == "hot":
            if source != "cache":
                failures.append(f"GET {city}: hot-phase reply from the {source}")
            else:
                lat["hot_hit"].append(ms)
            continue
        if kind == "hot":
            churn_hot += 1
            churn_hot_cache += source == "cache"
        lat["churn_hit" if source == "cache" else "fallback"].append(ms)
    return {
        "lat": lat,
        "failures": failures,
        "churn_hot": churn_hot,
        "churn_hot_cache": churn_hot_cache,
    }


def direct_calls(spark, tracer: Tracer, state: dict, inputs: dict, expected: dict) -> dict:
    """In-process calls of the public serving functions against the same
    warehouse, cache and request mix, for the serve-layer figures."""
    from weather_database_system_spark.pipeline.cache import read_snapshot
    from weather_database_system_spark.pipeline.serving import serve_monthly

    names = [c["name"] for c in inputs["cities"]]
    hot, cold = names[:HOT], names[HOT:]
    rng = random.Random(inputs["rng_seed"] + 1)
    wh, cache = state["warehouse"], state["cache"]
    read_ms, hit_ms, fb_ms, failures = [], [], [], []
    hot_calls = _cycle(lambda: hot_deck(rng, hot))
    for _ in range(400):
        city = hot_calls()[1]
        t0 = time.perf_counter()
        read_snapshot(cache, city)
        read_ms.append((time.perf_counter() - t0) * 1e3)
    for _ in range(400):
        city = hot_calls()[1]
        t0 = time.perf_counter()
        doc = serve_monthly(spark, wh, cache, city)
        hit_ms.append((time.perf_counter() - t0) * 1e3)
        if doc["source"] != "cache" or not rows_match(doc["data"], expected[city]):
            failures.append(f"direct hit {city}")
    for i in range(20):
        city = cold[i % len(cold)]
        with tracer.span("serve_monthly_fallback", "serving.fallback", city=city):
            t0 = time.perf_counter()
            doc = serve_monthly(spark, wh, cache, city)
            fb_ms.append((time.perf_counter() - t0) * 1e3)
        if doc["source"] != "warehouse" or not rows_match(doc["data"], expected[city]):
            failures.append(f"direct fallback {city}")
    return {"read_ms": read_ms, "hit_ms": hit_ms, "fallback_ms": fb_ms, "failures": failures}


def check_warehouse(spark, state: dict, expected: dict) -> list[str]:
    """Every city-month of monthly_agg against the closed form."""
    from weather_database_system_spark.pipeline.warehouse import read_monthly

    rows = [
        r.asDict()
        for r in read_monthly(spark, state["warehouse"]).orderBy("city", "month").collect()
    ]
    failures = []
    for city, want in expected.items():
        if not rows_match([r for r in rows if r["city"] == city], want):
            failures.append(f"monthly_agg {city}: differs from the closed form")
    return failures


def run(spark, tracer: Tracer, run_dir: RunDir, seed: int, seconds: float,
        server: Server, traced: bool) -> dict:
    inputs = make_inputs(seed)
    names = [c["name"] for c in inputs["cities"]]
    warm_fail: list[str] = []

    def warm_server() -> None:
        """Once gold exists, take the server's first Spark queries and
        writes (JIT, codegen) off the measured window, while this process
        goes on with the cache and the incremental batch."""
        try:
            port = server.wait_listening(time.time() + SERVER_START_TIMEOUT_S)
            steady = names[1 - inputs["inc_city"]]
            rounds = [("GET", c) for c in names[HOT:]] + [("POST", steady), ("GET", steady)]
            for method, city in rounds * WARMUP_ROUNDS:
                route = "/api/monthly" if method == "GET" else "/api/sync-now"
                status, _, _ = http_call(port, method, f"{route}?city={quote(city)}")
                if status != 200:
                    warm_fail.append(f"warm-up {method} {city}: status {status}")
        except (OSError, RuntimeError) as exc:
            warm_fail.append(f"warm-up: {exc}")

    warmer = threading.Thread(target=warm_server)
    state = setup_pipeline(spark, tracer, run_dir, inputs, warmer.start)
    expected = expected_monthly(inputs)
    with tracer.span("server_warmup_wait", "setup"):
        warmer.join()
    if server.port is None:
        raise RuntimeError("; ".join(warm_fail) or "server did not start")
    setup_done = time.perf_counter()

    load = drive_load(server.port, inputs, seconds)
    rss = server.jvm_peak_rss_mb()
    res = check_responses(load["records"], expected)
    failures = warm_fail + res["failures"] + check_warehouse(spark, state, expected)
    direct = direct_calls(spark, tracer, state, inputs, expected) if traced else None
    if direct:
        failures += direct["failures"]
    sentinels = registry.sentinel_seconds(spark)

    lat = res["lat"]
    # Every reported timing needs samples: a class with none (every hot
    # reply failed, or no fallback happened) fails the run rather than
    # reporting a figure that is not a number.
    empty = [k for k, v in lat.items() if not v]
    if empty:
        raise RuntimeError(f"no correct {', '.join(empty)} replies; " + "; ".join(failures[:5]))
    hot_hit, churn_hit = timing_summary(lat["hot_hit"]), timing_summary(lat["churn_hit"])
    fb, sync = timing_summary(lat["fallback"]), timing_summary(lat["sync"])
    churn_gets = len(lat["churn_hit"]) + len(lat["fallback"])
    named = {
        "pipeline_rows_per_s": (state["silver_rows"] / state["backfill_s"], "rows/s"),
        "incremental_load_s": (state["incremental_s"], "s"),
        "hot_rps": (load["hot_requests"] / load["hot_window"], "1/s"),
        "monthly_hit_p50_ms": (hot_hit["p50_ms"], "ms"),
        "monthly_hit_p99_ms": (percentile(lat["hot_hit"], 99), "ms"),
        "serve_rps": (load["churn_requests"] / load["churn_window"], "1/s"),
        "churn_hit_p50_ms": (churn_hit["p50_ms"], "ms"),
        "monthly_fallback_p50_ms": (fb["p50_ms"], "ms"),
        "monthly_fallback_p95_ms": (percentile(lat["fallback"], 95), "ms"),
        "sync_now_p50_ms": (sync["p50_ms"], "ms"),
        "cached_city_hit_ratio": (res["churn_hot_cache"] / max(1, res["churn_hot"]), "ratio"),
    }
    return {
        "attempted": len(load["records"]) + len(inputs["cities"]),
        "failed": len(failures),
        "failures": failures[:20],
        "setup_done": setup_done,
        "rss_mb": rss,
        "end_to_end": {
            "ops_per_s": named["serve_rps"][0],
            "typical_ms": hot_hit["p50_ms"],
            "slow_ms": fb["p50_ms"],
        },
        "named": named,
        "detail": {
            "hot_window_s": load["hot_window"],
            "churn_window_s": load["churn_window"],
            "hot_requests": load["hot_requests"],
            "churn_requests": load["churn_requests"],
            "hot_hit": hot_hit,
            "churn_hit": churn_hit,
            "fallback": fb,
            "sync": sync,
            "fallback_share": len(lat["fallback"]) / max(1, churn_gets),
            "churn_hot_requests": res["churn_hot"],
            "churn_hot_cache_responses": res["churn_hot_cache"],
            "warehouse_files": state["warehouse_files"],
            "silver_rows": state["silver_rows"],
            "backfill_s": state["backfill_s"],
            "inputs": {k: v for k, v in inputs.items() if k != "cities"} | {"cities": names},
            "sentinels_warm_s": sentinels,
            "sf": registry.SF,
        },
        "direct": direct,
        "hot_epoch": load["hot_epoch"],
        "churn_epoch": load["churn_epoch"],
    }


def layer_metrics(tracer: Tracer, result: dict, server_log: dict) -> dict:
    """Per-layer figures of the pipeline and serving layers."""
    from spans import totals

    ing = totals(tracer.by_layer("ingest"))
    shards = sum(s["shards"] for s in tracer.by_layer("ingest"))
    ld = totals(tracer.by_layer("warehouse.load_daily"))
    mo = totals(tracer.by_layer("warehouse.monthly_agg"))
    inc = totals(tracer.by_layer("warehouse.incremental"))
    ref = tracer.by_layer("cache.refresh")
    ref_t = totals(ref)
    fb = totals(tracer.by_layer("serving.fallback"))
    direct, d = result["direct"], result["detail"]

    def server_jobs(window):
        return [j for j in server_log["jobs"] if window[0] <= j["start"] <= window[1]]

    hot_jobs, churn_jobs = server_jobs(result["hot_epoch"]), server_jobs(result["churn_epoch"])
    direct_hit = percentile(direct["hit_ms"], 50)
    return {
        "ingest.s": ing["s"],
        "ingest.jobs": ing["jobs"],
        "ingest.tasks_per_shard": ing["tasks"] / shards,
        "ingest.outside_job_s": ing["outside_job_s"],
        "ingest.executor_cpu_s": ing["cpu_s"],
        "warehouse.load_daily_s": ld["s"],
        "warehouse.monthly_agg_s": mo["s"],
        "warehouse.incremental_s": inc["s"],
        "warehouse.jobs": ld["jobs"] + mo["jobs"] + inc["jobs"],
        "warehouse.shuffle_bytes": ld["shuffle_bytes"] + mo["shuffle_bytes"] + inc["shuffle_bytes"],
        "warehouse.files_written": d["warehouse_files"],
        "cache.refresh_s": percentile([s["end"] - s["start"] for s in ref], 50),
        "cache.refresh_jobs": ref_t["jobs"] / ref_t["n"],
        "cache.read_snapshot_ms": percentile(direct["read_ms"], 50),
        "serving.hit_ms": direct_hit,
        "serving.fallback_ms": percentile(direct["fallback_ms"], 50),
        "serving.fallback_jobs_per_request": fb["jobs"] / fb["n"],
        "serving.fallback_share": d["fallback_share"],
        "serving.cached_city_hit_ratio": result["named"]["cached_city_hit_ratio"][0],
        "httpserver.overhead_ms": d["hot_hit"]["p50_ms"] - direct_hit,
        "httpserver.hot_jobs_per_request": len(hot_jobs) / d["hot_requests"],
        "httpserver.churn_jobs_per_request": len(churn_jobs) / d["churn_requests"],
        "httpserver.churn_executor_cpu_s": sum(j["cpu_ns"] for j in churn_jobs) / 1e9,
    }
