"""Shared plumbing for the benchmark: scratch space, the Spark session,
the host fingerprint, memory sampling and small statistics helpers.

Everything the benchmark writes lives in one scratch directory inside
the checkout, created per run and removed when the run ends.
"""

from __future__ import annotations

import json
import os
import platform
import shutil
import subprocess
import sys
import tempfile
import threading
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)
SCRATCH_PREFIX = ".perfbench-run-"

#: Spark local property that names the layer a job belongs to.  Set
#: only by the traced run's wrappers (tracing.py); the event log carries
#: it on every job and stage.
LAYER_PROP = "perfbench.layer"

#: Driver heap for the benchmark session.  Smaller than the engine's
#: 8g default so the run stays light on a shared host; every workload
#: here fits in a fraction of it.
DRIVER_MEM = "3g"


def make_scratch() -> str:
    """Per-run scratch dir inside the checkout, plus the env that keeps
    Spark, the JVM and the Python workers writing only there."""
    root = tempfile.mkdtemp(prefix=SCRATCH_PREFIX, dir=REPO_ROOT)
    tmp = os.path.join(root, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    # every JVM (the spark-submit launcher too): no hsperfdata in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(root, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    tempfile.tempdir = tmp
    return root


def remove_scratch(root: str) -> None:
    shutil.rmtree(root, ignore_errors=True)


def start_session(scratch: str, eventlog_dir: str | None = None):
    """Engine session (``build_session``) with console progress off, all
    local state under ``scratch`` and, for the traced run, an
    uncompressed, non-rolling event log."""
    from data_pipeline_spark.session import build_session

    tmp = os.path.join(scratch, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(scratch, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(scratch, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Dderby.system.home={tmp}",
    }
    if eventlog_dir is not None:
        os.makedirs(eventlog_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": eventlog_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = build_session("perfbench", cpus=host_cpus(), extra_conf=conf)
    spark.sparkContext.setLogLevel("FATAL")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python worker
    daemon) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 — the JVM may already be gone
        pass
    if proc is not None:
        try:
            if proc.stdin is not None:
                proc.stdin.close()
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


# ----------------------------------------------------------------------
# memory: driver JVM + Python workers, straight from /proc
# ----------------------------------------------------------------------

def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, ValueError, IndexError):
        return 0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_bytes(root_pid: int) -> int:
    """RSS of a process and all its descendants."""
    kids = _children()
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += _rss_bytes(pid)
        todo.extend(kids.get(pid, ()))
    return total


class RssSampler:
    """Background sampler of the driver JVM's process tree RSS (the JVM
    forks the Python worker daemon, so workers are inside the tree)."""

    def __init__(self, pid: int, period: float = 0.25):
        self.pid, self.period = pid, period
        self.peak = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.pid))
            self._stop.wait(self.period)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join()
        self.peak = max(self.peak, tree_rss_bytes(self.pid))


# ----------------------------------------------------------------------
# host fingerprint
# ----------------------------------------------------------------------

def _cpu_model() -> str:
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return platform.processor() or "unknown"


def _mem_total_mb() -> int:
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) // 1024
    except OSError:
        pass
    return -1


def _java_version() -> str:
    try:
        r = subprocess.run(
            ["java", "-version"], capture_output=True, text=True, timeout=30
        )
        lines = (r.stderr or r.stdout).splitlines()
        return next(x for x in lines if "version" in x).strip()
    except (OSError, subprocess.SubprocessError, StopIteration):
        return "unknown"


def _git_commit() -> str:
    """HEAD of the checkout when it is a git repository, else unknown."""
    try:
        r = subprocess.run(
            ["git", "-C", REPO_ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def _cpu_probe(iters: int = 3_000_000) -> dict:
    """Short calibration: ``tools/scaling_probe.py --worker cpu`` at the
    host's core count (pure-Python busy loops, no Spark).  Work per
    second well below its usual value marks a degraded host window."""
    probe = os.path.join(REPO_ROOT, "tools", "scaling_probe.py")
    cpus = host_cpus()
    cmd = [sys.executable, probe, "--worker", "cpu", "--cpus", str(cpus),
           "--iters", str(iters)]
    try:
        r = subprocess.run(cmd, capture_output=True, text=True, timeout=60)
        out = json.loads(r.stdout.strip().splitlines()[-1])
        return {"cpus": cpus, "work_per_sec": round(out["work_per_sec"]),
                "elapsed_s": round(out["elapsed"], 3)}
    except (OSError, subprocess.SubprocessError, ValueError, IndexError, KeyError):
        return {"cpus": cpus, "work_per_sec": None}


def cpu_times() -> tuple[float, float]:
    """(all, steal) CPU time of the host in seconds, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return 0.0, 0.0
    hz = os.sysconf("SC_CLK_TCK")
    steal = vals[7] if len(vals) > 7 else 0
    return sum(vals[:8]) / hz, steal / hz


def steal_share(before: tuple[float, float]) -> float | None:
    """Share of the host's CPU time the hypervisor took since
    ``before``: time this VM wanted to run and was not let."""
    total, steal = cpu_times()
    d = total - before[0]
    return round((steal - before[1]) / d, 4) if d > 0 else None


def host_fingerprint() -> dict:
    import pandas
    import pyarrow
    import pyspark

    load1, load5, _ = os.getloadavg()
    return {
        "nproc": host_cpus(),
        "cpu_model": _cpu_model(),
        "mem_total_mb": _mem_total_mb(),
        "loadavg_1m": round(load1, 2),
        "loadavg_5m": round(load5, 2),
        "java": _java_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "python": platform.python_version(),
        "git_commit": _git_commit(),
        "cpu_probe": _cpu_probe(),
    }


# ----------------------------------------------------------------------
# statistics
# ----------------------------------------------------------------------

def median(xs) -> float:
    xs = sorted(xs)
    if not xs:
        return 0.0
    n = len(xs)
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2


class Clock:
    """perf_counter with a zero at construction."""

    def __init__(self):
        self.t0 = time.perf_counter()

    def now(self) -> float:
        return time.perf_counter() - self.t0
