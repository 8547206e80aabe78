"""Host fit, Spark session lifetime, memory sampling and summary statistics.

Everything the benchmark needs around the engine but not from it: the
launch environment sized to this host, one ``local[4]`` session per run
that is stopped (JVM included) before the process exits, and a sampler of
the resident memory of the whole process tree (driver, JVM, Python workers).
"""

from __future__ import annotations

import math
import os
import shutil
import threading

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")

CORES = 4  # fixed so that runs on any host compare like with like

# Driver JVM heap: 30% of physical memory, at most 2 GB, committed at start.
# The inputs need far less; a heap that grows lets G1 grow it by different
# amounts from run to run (peak RSS of identical runs measured 2.0-2.9 GB
# with a growable 4.6 GB heap), which would swamp the memory metric.
DRIVER_MEM_SHARE = 0.3
DRIVER_MEM_MAX_MB = 2048


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile (0 ≤ q ≤ 100) of a non-empty sequence."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sequence")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return percentile(values, 50.0)


def driver_mem_spec(meminfo_path: str = "/proc/meminfo") -> str:
    """JVM heap for the driver from MemTotal (the engine default is 48g)."""
    with open(meminfo_path) as f:
        for line in f:
            if line.startswith("MemTotal:"):
                kb = int(line.split()[1])
                break
        else:
            raise RuntimeError(f"no MemTotal in {meminfo_path}")
    mb = min(int(kb / 1024 * DRIVER_MEM_SHARE), DRIVER_MEM_MAX_MB)
    return f"{max(mb, 1024)}m"


def fit_host_env() -> None:
    """Launch environment for this host, set before the JVM starts.

    Workers import ``geopull_spark`` through the inherited PYTHONPATH, so the
    checkout root goes on it whatever the working directory is. Scratch
    space (Spark local dirs, temp files) stays inside the checkout."""
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["SPARK_DRIVER_MEM"] = driver_mem_spec()
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # the JVM that spark-submit runs to build the driver command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")


def start_session(event_log_dir: str | None):
    """One ``local[4]`` session through the engine's factory, with Python
    workers spawned before anything is timed."""
    from geopull_spark.session import get_spark

    tmp = os.path.join(WORK, "tmp")
    heap = os.environ["SPARK_DRIVER_MEM"]
    conf = {
        "spark.driver.extraJavaOptions": f"-Xms{heap} -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir is not None:
        # Spark 4.1 writes zstd-compressed rolling directories by default;
        # a single plain file is what the stdlib reader parses
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", master=f"local[{CORES}]",
                      shuffle_partitions=CORES * 4, extra_conf=conf)
    spark.range(0, CORES * 10, 1, numPartitions=CORES).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()
    return spark


def stop_session(spark) -> None:
    """Stop the context, then the JVM, and wait until the JVM has exited
    (its Python workers are its children and end with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _tree_rss_bytes(root_pid: int) -> int:
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            with open(f"/proc/{name}/statm") as f:
                resident = int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended between listdir and open
        pid = int(name)
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(pid)
        rss[pid] = resident * page
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total


class RssSampler:
    """Peak resident memory of this process and all its descendants,
    sampled on a background thread."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            self.peak = max(self.peak, _tree_rss_bytes(pid))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20
