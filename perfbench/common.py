"""Helpers shared by the workloads: isolated run state, statistics, process
memory and the result line."""

from __future__ import annotations

import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
PACKAGE = "weather_database_system_spark"
RESULTS_DIR = os.path.join(ROOT, ".perfbench", "results")
CPUS = str(len(os.sched_getaffinity(0)))
# A fixed 1 GiB heap (initial = maximum) for both JVMs, not the package's
# default (8g maximum, grown on demand). On a 4-vCPU host the server's peak
# resident set moved by 12% (IQR / median over five runs) at the default
# and by 7% with a fixed 2 GiB heap, with the collector's sizing choices;
# at 1 GiB it moves by 2%. With the heap fixed, driver_peak_rss_mb follows
# memory outside the heap; heap occupancy and GC pauses are reported per
# layer from the GC log instead.
DRIVER_MEM = "1g"


def package_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py"))


class RunDir:
    """A fresh directory per run that owns every piece of state the run
    writes: Spark local dirs, the stored-index scratch volume, temp files,
    zones, warehouse, cache and event logs. Removed when the run ends."""

    def __init__(self, workload: str, seed: int):
        base = os.path.join(ROOT, ".perfbench", "runs")
        self.path = os.path.join(base, f"{workload}-s{seed}-p{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(self.path)

    def sub(self, name: str) -> str:
        p = os.path.join(self.path, name)
        os.makedirs(p, exist_ok=True)
        return p

    def child_env(self) -> dict[str, str]:
        """Environment for this process and every process it starts. The
        PYTHONPATH entry lets Spark's Python workers import the package
        when the checkout is not the interpreter's working directory."""
        env = dict(os.environ)
        env.update(
            PYTHONPATH=os.pathsep.join(
                p for p in (ROOT, env.get("PYTHONPATH", "")) if p
            ),
            WDSS_SCRATCH_DIR=self.sub("scratch"),
            SPARK_LOCAL_DIRS=self.sub("spark-local"),
            TMPDIR=self.sub("tmp"),
            SPARK_GRAFT_CPUS=CPUS,
            SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
            PYSPARK_PYTHON=sys.executable,
            # Every JVM, the spark-submit launcher included: temp files in
            # the run directory and no hsperfdata file in the system one.
            JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={self.sub('tmp')}",
        )
        return env

    def isolate(self) -> None:
        os.environ.update(self.child_env())
        if ROOT not in sys.path:
            sys.path.insert(0, ROOT)
        import tempfile

        tempfile.tempdir = None  # re-read TMPDIR

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def spark_conf(run: RunDir, event_log: str | None, gc_log: str | None) -> dict[str, str]:
    """Session settings the benchmark owns: quiet console, every on-disk
    default pointed into the run directory, and the fixed heap. In traced
    runs ``event_log`` names a directory for an uncompressed JSON event log
    and ``gc_log`` a file for the JVM's GC log (the heap figures)."""
    java_opts = f"-Xms{DRIVER_MEM} -Dderby.system.home={run.sub('tmp')}"
    if gc_log:
        java_opts += f" -Xlog:gc:file={gc_log}"
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": run.sub("spark-warehouse"),
        "spark.driver.extraJavaOptions": java_opts,
        "spark.driver.memory": DRIVER_MEM,
    }
    if event_log:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def start_spark(run: RunDir, app: str, event_log: str | None, gc_log: str | None):
    from weather_database_system_spark.session import get_spark

    spark = get_spark(app_name=app, cpus=CPUS, extra_conf=spark_conf(run, event_log, gc_log))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# --- statistics ---------------------------------------------------------

def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile, p in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = (len(xs) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(n: int) -> float | None:
    """Highest of the usual reporting percentiles that still has at least
    ten samples beyond it, or None when there are too few samples."""
    for p in (99.9, 99.0, 95.0, 90.0, 75.0):
        if n * (100.0 - p) / 100.0 >= 10:
            return p
    return None


def timing_summary(values_ms: list[float]) -> dict:
    """Median plus the highest percentile with ten samples beyond it, with
    the sample count."""
    out = {"n": len(values_ms), "p50_ms": percentile(values_ms, 50)}
    p = tail_percentile(len(values_ms))
    if p is not None:
        out["tail_pct"] = p
        out["tail_ms"] = percentile(values_ms, p)
    return out


def geomean(values: list[float]) -> float:
    return math.exp(statistics.fmean(math.log(v) for v in values))


# --- processes ------------------------------------------------------------

def child_pids(pid: int) -> list[int]:
    """Direct children of ``pid`` (a scan of /proc, which needs no optional
    kernel interface)."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[1]) == pid:
            out.append(int(name))
    return out


def descendants(pid: int) -> list[int]:
    out = []
    for c in child_pids(pid):
        out.append(c)
        out.extend(descendants(c))
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def wait_gone(pids: list[int], timeout: float = 60.0) -> None:
    """Wait until every pid has exited; terminate stragglers at half the
    timeout and kill them at the end of it."""
    start = time.monotonic()
    sent = None
    while True:
        alive = [p for p in pids if _alive(p)]
        if not alive:
            return
        waited = time.monotonic() - start
        sig = signal.SIGKILL if waited > timeout else signal.SIGTERM if waited > timeout / 2 else None
        if sig is not None and sig != sent:
            for p in alive:
                try:
                    os.kill(p, sig)
                except OSError:
                    pass
            sent = sig
        if waited > timeout + 10:
            raise RuntimeError(f"processes did not exit: {alive}")
        time.sleep(0.05)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM that pyspark launched for it and
    every process under it, and wait for them all."""
    from pyspark import SparkContext

    tree = descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits at end of input
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    wait_gone(tree)


def java_child(pid: int) -> int | None:
    for c in child_pids(pid):
        try:
            with open(f"/proc/{c}/comm", encoding="ascii") as fh:
                if fh.read().strip() == "java":
                    return c
        except OSError:
            continue
    return None


def peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of a process, in MiB."""
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


_GC_PAUSE = re.compile(r"GC\(\d+\) Pause .* \d+[KMG]->(\d+)([KMG])\(\d+[KMG]\) ([\d.]+)ms")
_MIB = {"K": 1 / 1024, "M": 1.0, "G": 1024.0}


def gc_figures(path: str) -> dict:
    """Peak heap still in use after a collection (MiB; with a fixed heap
    the occupancy before one is always close to the heap size) and the
    summed pause time (ms), from a JVM ``-Xlog:gc`` file."""
    peak_mb = pause_ms = 0.0
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            m = _GC_PAUSE.search(line)
            if m:
                peak_mb = max(peak_mb, int(m.group(1)) * _MIB[m.group(2)])
                pause_ms += float(m.group(3))
    return {"heap_after_gc_mb": peak_mb, "gc_pause_ms": pause_ms}


def stop_process(proc: subprocess.Popen, timeout: float = 30.0) -> None:
    """Interrupt, then terminate, then kill; always waits for the exit."""
    for sig, wait in ((signal.SIGINT, timeout), (signal.SIGTERM, 10.0)):
        if proc.poll() is not None:
            return
        proc.send_signal(sig)
        try:
            proc.wait(timeout=wait)
            return
        except subprocess.TimeoutExpired:
            continue
    proc.kill()
    proc.wait()


# --- output ---------------------------------------------------------------

def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def save_result(workload: str, seed: int, trace: bool, doc: dict) -> str:
    os.makedirs(RESULTS_DIR, exist_ok=True)
    name = f"{workload}-s{seed}-{'traced' if trace else 'untraced'}-{int(time.time() * 1000)}.json"
    path = os.path.join(RESULTS_DIR, name)
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(doc, fh, indent=1, sort_keys=True)
    return path


def untraced_history(workload: str) -> list[dict]:
    """Records of the earlier untraced runs of a workload in this
    checkout."""
    if not os.path.isdir(RESULTS_DIR):
        return []
    docs = []
    for name in sorted(os.listdir(RESULTS_DIR)):
        if name.startswith(workload + "-") and "-untraced-" in name:
            with open(os.path.join(RESULTS_DIR, name), encoding="utf-8") as fh:
                docs.append(json.load(fh))
    return docs
