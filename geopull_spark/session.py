"""SparkSession factory tuned for the engine.

Local-mode defaults mirror what we'd set cluster-side: AQE on (runtime
re-planning + skew-join splitting), Arrow transfer for the pandas-UDF geometry
kernels, shuffle partitions sized to cores rather than the 200 default.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import SparkSession


def default_cpus() -> int:
    """Local cores: ``SPARK_GRAFT_CPUS``, else every CPU of the host."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)


def default_driver_memory(meminfo_path: str = "/proc/meminfo") -> str:
    """Driver JVM heap: ``SPARK_DRIVER_MEM``, else half of the host's
    ``MemTotal`` (at least 1 GB). In local mode this heap holds the
    executors too, so it is sized to the host rather than fixed."""
    spec = os.environ.get("SPARK_DRIVER_MEM")
    if spec:
        return spec
    with open(meminfo_path) as f:
        kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    return f"{max(kb // 2048, 1024)}m"


def get_spark(
    app_name: str = "geopull_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = default_cpus()
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "8"
        shuffle_partitions = cpus if n == "*" else int(n)
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE, its partition coalescing and skew-join splitting, and Arrow's
        # 10000 rows per batch are pyspark 4.1 defaults and are not restated
        # here (tests/test_pipeline.py pins each of them).
        # AQE coalescing targets max(minPartitionSize, bytes/parallelism);
        # with the default 1MB floor our geometry group-kernels (tiny bytes,
        # huge CPU) collapse onto ~1 task (measured 10.5× slowdown on the
        # blocker stage). minPartitionSize=1b keeps the coalesce target at
        # bytes/parallelism → every shuffle lands near defaultParallelism.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1b")
        # The ann_lsh driver query semi-joins two per-query top-k frames on
        # (q_id, vec_id); both sides are already hash-partitioned by q_id
        # from their top-k windows. With the default
        # requireAllClusterKeysForCoPartition=true the planner rejects that
        # subset-key partitioning and re-shuffles both sides: the plan goes
        # from 7 to 9 Exchanges. No other driver query's plan changes with
        # this setting. Equal full keys always co-locate under a hash of any
        # common subset, so results are equal.
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
        # Shuffle writer: the bypass-merge writer opens one temp file +
        # 32 KB buffer PER REDUCE PARTITION per map task; at R reduce
        # partitions on a many-core executor that is M×R file
        # create/write/close/merge ops — measured 85 cpu-s (0.67 s/task)
        # to shuffle 4 MB at M=R=128 vs 7.9 cpu-s with the sort-based
        # writer, which writes ONE spill file per map task regardless of
        # R. Large shuffles already take the sort path (bypass only
        # applies at R ≤ 200), so forcing it is scale-neutral.
        .config("spark.shuffle.sort.bypassMergeThreshold", "2")
        # pyspark 4.1 captures the Python call site of every Column operator
        # for DataFrameQueryContext: ~24 py4j calls per operator instead of
        # ~4. Off, a world_build op (4-core host, 6 ops each side) planned
        # its 6 phases in 0.94 s instead of 1.49 s, with 1,515 py4j calls
        # instead of 2,690 (extract: 0.13 s instead of 0.28 s). pyspark
        # caches the flag per process on first use, so it must be set here,
        # in the builder. Lost: the Python file:line in analysis errors;
        # extra_conf can turn it back on.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", default_driver_memory())
    )
    # Python workers launch through a PYTHONPATH-sanitizing wrapper: with
    # pyspark.zip (and inherited jars) on the worker path, CPython 3.11's
    # eager zipimport invalidation costs ~150 ms PER TASK inside pyspark's
    # setup_spark_files (one TOC re-parse per cached zip finder — measured,
    # see pyworker.sh). The wrapper strips archive entries so workers import
    # the pip pyspark from site-packages like the driver does. Opt out with
    # GEOPULL_WORKER_PYTHON=python (or any interpreter path).
    worker_py = os.environ.get("GEOPULL_WORKER_PYTHON")
    if worker_py is None:
        wrapper = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pyworker.sh")
        if os.access(wrapper, os.X_OK):
            # wrap whatever interpreter was configured; with none configured,
            # the driver's own (a bare "python" may be absent or another one)
            prev = os.environ.get("PYSPARK_PYTHON")
            if prev and os.path.basename(prev) != "pyworker.sh":
                os.environ["GEOPULL_BASE_PYTHON"] = prev
            else:
                os.environ.setdefault("GEOPULL_BASE_PYTHON", sys.executable)
            worker_py = wrapper
    if worker_py:
        # pyspark resolves the worker interpreter from PYSPARK_PYTHON at
        # SparkContext init (spark.pyspark.python alone is not consulted by
        # the in-process python driver), so set both.
        os.environ["PYSPARK_PYTHON"] = worker_py
        b = b.config("spark.pyspark.python", worker_py)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
