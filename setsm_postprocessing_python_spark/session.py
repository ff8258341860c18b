"""SparkSession factory tuned for this engine, and the one owner of the
caches the engine makes (cache_scope / cached / checkpointed).

Local mode is the sandbox proxy for a multi-executor cluster; the configs
below are the ones that matter at cluster scale too (AQE, Arrow, shuffle
partition sizing).
"""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager
from pathlib import Path
from typing import Callable

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession

# the directory that holds this package, put on the Python workers' path
PACKAGE_ROOT = str(Path(__file__).resolve().parent.parent)

# ---------------------------------------------------------------------------
# cache lifetime: the one owner of every persist the engine makes
# ---------------------------------------------------------------------------
# cached()/checkpointed() register a release with the innermost
# cache_scope() open on the CURRENT thread: any thread can drive Spark (a
# driver thread pool, a py4j callback), and closing one thread's scope
# must not release another thread's caches. Outside any scope it lands in
# the process-wide default scope, kept until release_caches(): bench.py
# and the benchmark re-invoke registered queries unscoped and their warm
# passes reuse these caches (Spark's CacheManager dedupes a re-persist of
# an identical plan, so repeated calls add no entries).
Release = Callable[[], object]


class _Scopes(threading.local):
    def __init__(self):
        self.stack: list[list[Release]] = []


_SCOPES = _Scopes()
_DEFAULT_SCOPE: list[Release] = []


def _own(release: Release) -> None:
    (_SCOPES.stack[-1] if _SCOPES.stack else _DEFAULT_SCOPE).append(release)


def cached(df: DataFrame) -> DataFrame:
    """df.persist(), released when the innermost open scope closes."""
    df = df.persist()
    _own(df.unpersist)
    return df


def checkpointed(df: DataFrame) -> DataFrame:
    """df.localCheckpoint() (eager; cuts the lineage), its blocks released
    when the innermost open scope closes. Spark keeps a local checkpoint's
    RDD persisted and has no public release for it, so the handle is taken
    from the frame's LogicalRDD."""
    df = df.localCheckpoint()
    rdd = df._jdf.queryExecution().logical().rdd()
    _own(lambda: rdd.unpersist(False))
    return df


def _release(handles: list[Release]) -> None:
    while handles:
        try:
            handles.pop()()
        except Py4JError:
            pass  # stopped session / already-freed handle


@contextmanager
def cache_scope():
    """Release everything cached()/checkpointed() inside the block when it
    exits. Materialize (collect/write) results inside the block: after it,
    cached inputs recompute and released checkpoints cannot be read."""
    handles: list[Release] = []
    _SCOPES.stack.append(handles)
    try:
        yield
    finally:
        _SCOPES.stack.pop()
        _release(handles)


def release_caches() -> None:
    """Empty the default scope. Idempotent. A handle whose session has
    already stopped is dropped silently — the default scope spans
    sessions in a long-lived process, and one dead handle must not leave
    the live ones persisted."""
    _release(_DEFAULT_SCOPE)


def default_driver_memory(meminfo: str | None) -> str:
    """The smaller of 16g and half of MemTotal, given /proc/meminfo's
    text; 16g when it is unavailable or carries no MemTotal line."""
    for line in (meminfo or "").splitlines():
        if line.startswith("MemTotal:"):
            mib = int(line.split()[1]) // 2048  # kB -> MiB, halved
            return "16g" if mib >= 16 * 1024 else f"{mib}m"
    return "16g"


def _read_meminfo() -> str | None:
    try:
        return Path("/proc/meminfo").read_text()
    except OSError:
        return None


def get_spark(
    parallelism: int | None = None,
    app_name: str = "setsm_pps_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) the engine SparkSession.

    parallelism: local[N] thread count; defaults to $SPARK_GRAFT_CPUS or '*'.
    shuffle_partitions: defaults to max(parallelism, 32) locally. On a real
    cluster this would be sized so post-shuffle partitions are 100-200 MB;
    AQE coalescing then trims small ones at runtime.

    Cached plans may coalesce too (canChangeCachedPlanOutputPartitioning,
    off by default in Spark 4.1): otherwise a cached()/checkpointed() frame
    keeps all shuffle_partitions partitions however few rows it holds, and
    every later read of it launches that many tasks.

    The Python workers run under the engine's daemon, `pyworker`
    (spark.python.daemon.module), which stops CPython 3.11 from re-reading
    pyspark.zip's directory before every Python task; its docstring says
    why that is safe. The workers import it by package name, so the
    package root is merged into spark.executorEnv.PYTHONPATH, and a
    session works from any working directory with PYTHONPATH unset.
    """
    if parallelism is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
        par = int(env) if env else (os.cpu_count() or 8)
    else:
        master = f"local[{parallelism}]"
        par = parallelism
    if shuffle_partitions is None:
        shuffle_partitions = max(par, 32)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
                "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM")
                or default_driver_memory(_read_meminfo()))
        # deterministic float semantics for oracle parity
        .config("spark.sql.codegen.wholeStage", "true")
        # Shuffle I/O tuning for this sandbox (single-node, many threads):
        # the bypass-merge writer creates numPartitions files per map task —
        # with 32 concurrent writers on one ext4 volume the fs serializes and
        # local[32] runs SLOWER than local[8] (measured 4.7x). The sort-based
        # writer (one file + index per task) + tmpfs local dirs + plain IO
        # streams restore linear scaling. On a real cluster with NVMe local
        # dirs these are left to their defaults.
        .config("spark.shuffle.sort.bypassMergeThreshold", "0")
        .config("spark.file.transferTo", "false")
        .config("spark.python.daemon.module",
                "setsm_postprocessing_python_spark.pyworker")
    )
    if os.path.isdir("/dev/shm"):
        builder = builder.config("spark.local.dir", "/dev/shm/spark-tmp")
    conf = dict(extra_conf or {})
    conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(filter(None, (
        PACKAGE_ROOT, conf.get("spark.executorEnv.PYTHONPATH"))))
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
