"""SparkSession factory with engine defaults.

Reference analog: imposm2 has no session concept — parallelism was a
``--concurrency`` flag fanning out multiprocessing workers
(imposm/app.py::main, imposm/dbimporter.py). Here parallelism is Spark's;
the knobs we own are driver memory, AQE, Arrow batch size, shuffle partition
counts, locality wait in local mode, and the Python worker daemon
(worker_daemon.py), which keeps every Python task from re-reading
pyspark.zip.

``cache_scope(name)`` is the one owner of frames that outlive the call that
persisted them (reference analog: imposm/cache/__init__.py::OSMCache, one
intermediate cache per import run, overwritten by the next run).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# Arrow batch size governs kernel batch granularity (reference analog: the
# executemany batch size in imposm/dbimporter.py insert loops).
DEFAULT_ARROW_BATCH = 10_000


def _default_shuffle_partitions(master: str) -> int:
    """Shuffle partitions for `master`: its task slots, at least 8.

    ``local[N]`` and ``local[N,F]`` run N slots, ``local-cluster[W,C,M]``
    W executors of C cores. ``*`` and masters without a bracket (``local``,
    ``yarn``, ``k8s://...``) give ``os.cpu_count()``.
    """
    if "[" not in master:
        return os.cpu_count() or 8
    args = master[master.find("[") + 1 : master.find("]")].split(",")
    if master.startswith("local-cluster"):
        return max(int(args[0]) * int(args[1]), 8)
    if args[0].strip() == "*":
        return os.cpu_count() or 8
    return max(int(args[0]), 8)


def get_spark(
    app_name: str = "imposm2_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with engine defaults.

    master defaults to ``local[$SPARK_GRAFT_CPUS]`` (env) or ``local[*]``,
    shuffle_partitions to the master's task slots (_default_shuffle_partitions).

    Python workers start from ``imposm2_spark.worker_daemon``, so executors
    must be able to import ``imposm2_spark`` when their Python daemon starts:
    install the package or put it on their PYTHONPATH. Shipping it only with
    ``--py-files`` is not enough: those files join a worker's path at the
    start of each task, after the daemon has started. Such a job builds its
    own session on Spark's stock daemon, as scripts/submit_spine.py does.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        # match core count, not the 200 default — local mode shuffles hit disk
        shuffle_partitions = _default_shuffle_partitions(master)

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # JVM default is 1g — too small for wide multi-table plans (many
        # concurrent broadcasts) once caches accumulate; only effective at
        # session creation, overridable via extra_conf / env
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        )
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            os.environ.get("SPARK_GRAFT_ARROW_BATCH", str(DEFAULT_ARROW_BATCH)),
        )
        .config("spark.ui.enabled", "false")
        # pyspark invalidates import caches at the start of every Python task,
        # which re-read pyspark.zip's directory: ~0.14 CPU-s per task
        .config("spark.python.daemon.module", "imposm2_spark.worker_daemon")
        .config("spark.driver.extraJavaOptions", "-Duser.timezone=UTC")
    )
    if master.startswith("local") and not master.startswith("local-cluster"):
        # single-JVM: every task slot sees the same storage, so waiting for a
        # "better" locality level only stalls the scheduler (measured: a
        # coalesce(1) over a parallelized collection burned the full 3s
        # default before launching its one task). On a real cluster — and on
        # local-cluster[...], which runs real multi-JVM executors — leave
        # the default: rack/node locality is worth waiting for there.
        b = b.config("spark.locality.wait", "0s")
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# scope name -> the frames its latest call holds (cache_scope)
_SCOPES: dict[str, list[DataFrame]] = {}


def cache_scope(name: str) -> Callable[[DataFrame], DataFrame]:
    """Release the frames the previous `name` scope held; return `hold`.

    `hold(df)` persists `df` at the default level (unless it is already
    cached, e.g. a result its producer persisted) and records it, so the
    next call with the same `name` releases it. A query invoked again and
    again (bench reps, oracle passes) thus pins one set of caches, not one
    per call: CacheManager entries live until unpersist() or session stop,
    whatever happens to the Python references. The released frames stay
    recomputable through their lineage.

    The release comes BEFORE the new persist: CacheManager keys entries by
    semantic plan equality, so a rerun on identical input shares its
    predecessor's entry. Persist-then-release dropped that shared entry and
    every rerun ran uncached ("Asked to cache already cached data").

    Frames of a stopped session are dropped without a JVM call: their
    cache died with the session, and unpersist() on them fails in the JVM.
    """
    for df in _SCOPES.pop(name, ()):
        if df.sparkSession.sparkContext._jsc is not None:
            df.unpersist()
    held = _SCOPES[name] = []

    def hold(df: DataFrame) -> DataFrame:
        if not df.is_cached:
            df.persist()
        held.append(df)
        return df

    return hold
