"""Run context shared by the workloads: per-run scratch dirs, the Spark
session sized to the host, op accounting, latency statistics and the
driver process-tree memory sampler."""

from __future__ import annotations

import os
import platform
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(REPO, ".bench_run")


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def host_mem_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 0


def driver_mem() -> str:
    """A quarter of host memory, between 1 and 4 GiB."""
    return f"{max(1024, min(4096, host_mem_mb() // 4))}m"


def prepare_env(run_dir: str) -> None:
    """Keep every scratch file of the run (Spark block dirs, JVM and Python
    temp files) under ``run_dir``. Must run before pyspark starts a JVM."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM of the run, the spark-submit launcher too: temp files in the
    # run dir, and no perf-data file (it always goes to /tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    import tempfile

    tempfile.tempdir = None
    if REPO not in sys.path:
        sys.path.insert(0, REPO)


def start_spark(run_dir: str, extra_conf: dict[str, str] | None = None):
    """The engine's session via ``session.get_spark``, fitted to the host."""
    from fluss_iceberg_spark.session import get_spark

    conf = {
        "spark.driver.memory": driver_mem(),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
    }
    conf.update(extra_conf or {})
    cpus = host_cpus()
    spark = get_spark(app_name="lakebench", cpus=cpus, extra_conf=conf)
    ship_package(spark, run_dir)
    return spark


def ship_package(spark, run_dir: str) -> None:
    """Ship the engine package to Python workers from a zip inside the run
    dir, and mark the context shipped so the registry's own shipping step
    (which zips into the system temp dir) is skipped."""
    from fluss_iceberg_spark import runtime

    pkg = os.path.join(REPO, "fluss_iceberg_spark")
    out = os.path.join(run_dir, "fluss_iceberg_spark.zip")
    with zipfile.ZipFile(out, "w") as z:
        for root, _, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, REPO))
    sc = spark.sparkContext
    sc.addPyFile(out)
    setattr(sc, runtime._FLAG, True)


def host_block(seed: int, sizes: dict) -> dict:
    import duckdb
    import pyarrow
    import pyspark

    try:
        sha = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=REPO, capture_output=True,
            text=True, timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        sha = None
    return {
        "cpus": host_cpus(),
        "mem_mb": host_mem_mb(),
        "driver_mem": driver_mem(),
        "git_sha": sha,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "duckdb": duckdb.__version__,
        "pyarrow": pyarrow.__version__,
        "seed": seed,
        "sizes": sizes,
    }


class Ops:
    """Per-op accounting for one closed-loop client: wall times of ops that
    finished (with the round they ran in), attempted/failed counts and the
    first error line. A failing op is counted and the loop goes on."""

    def __init__(self):
        self.round = 0  # the workload counts its rounds here
        self.samples: list[tuple[str, float, int]] = []
        self.intervals: list[tuple[str, float, float]] = []
        self.attempted = 0
        self.failed = 0
        self.first_error: str | None = None

    def run(self, kind: str, fn, *args):
        t0 = time.time()
        try:
            out = fn(*args)
        except Exception as e:  # noqa: BLE001 - counted, not fatal
            self.fail(kind, e)
            return None
        self.add(kind, t0, time.time())
        return out

    def fail(self, kind: str, exc: Exception, count: int = 1) -> None:
        self.attempted += count
        self.failed += count
        if self.first_error is None:
            lines = str(exc).splitlines()
            self.first_error = f"{kind}: {type(exc).__name__}: {lines[0] if lines else ''}"
            traceback.print_exc(file=sys.stderr)

    def add(self, kind: str, t0: float, t1: float) -> None:
        """Record an op timed elsewhere (a streaming tick)."""
        self.attempted += 1
        self.samples.append((kind, t1 - t0, self.round))
        self.intervals.append((kind, t0, t1))

    def times(self, prefix: str = "") -> list[float]:
        return [s for k, s, _ in self.samples if k.startswith(prefix)]

    def round_tail(self, prefix: str = "") -> float:
        """The median over rounds of each round's slowest op. Every round
        runs the same mix, so this is the mix's tail, and one round slowed
        by the host does not move it."""
        slowest: dict[int, float] = {}
        for k, s, r in self.samples:
            if k.startswith(prefix):
                slowest[r] = max(s, slowest.get(r, 0.0))
        return statistics.median(slowest.values()) if slowest else float("nan")


def p50(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def tail(xs: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond): the order statistic with 10
    samples above it, or a quarter of the samples when there are fewer
    than 40, so a short run reports its p75 rather than a value below the
    median."""
    n = len(xs)
    if not xs:
        return float("nan"), 0.0, 0
    beyond = max(1, min(10, n // 4)) if n > 1 else 0
    k = n - 1 - beyond
    return sorted(xs)[k], round(100.0 * (k + 1) / n, 1), beyond


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, end the JVM (it exits when its stdin closes) and
    wait until no process the run started is left."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout)
    deadline = time.time() + timeout
    while _descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)


def _proc_table() -> tuple[dict[int, list[int]], dict[int, int]]:
    """(children by parent pid, resident KiB by pid) from /proc."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{d}/statm") as f:
                rss[int(d)] = int(f.read().split()[1]) * os.sysconf("SC_PAGESIZE") // 1024
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(d))
    return children, rss


def _descendants(root: int) -> list[int]:
    children, _ = _proc_table()
    out, stack = [], list(children.get(root, []))
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(children.get(p, []))
    return out


def _tree_rss_kb(root: int) -> int:
    """Resident memory of ``root`` and all its descendants."""
    children, rss = _proc_table()
    total, stack = 0, [root]
    while stack:
        p = stack.pop()
        total += rss.get(p, 0)
        stack.extend(children.get(p, []))
    return total


class RssSampler:
    """Samples the driver process tree (Python driver, JVM, Python workers)
    every ``interval`` seconds on a daemon thread; ``peak_mb`` is the max."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(me))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join()
        self.peak_kb = max(self.peak_kb, _tree_rss_kb(os.getpid()))

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
