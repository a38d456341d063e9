"""SparkSession factory with the engine's scale-posture defaults, and the
one place that runs jobs side by side or changes session conf.

Local testing runs ``local[N]`` (single JVM); the configs below are the ones
that matter identically on a 1000-executor cluster: AQE for runtime
re-planning (coalesce, skew-join), a shuffle-partition count sized to the
parallelism at hand, Arrow for the Pandas-UDF path, and UTC session time.

Session conf is session-wide, so a value set for one thread's jobs is
seen by every other thread's jobs too. :func:`concurrently` and
:func:`scoped_conf` therefore share one re-entrant lock: a conf scope
on another thread waits until the running legs finish, a thread that
holds the lock may nest either, and a leg that tries to change conf
raises instead of deadlocking.
"""

from __future__ import annotations

import functools
import os
import threading
from contextlib import contextmanager, nullcontext

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "datacooker-dist-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or cpus
    b = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def default_parallelism(spark: SparkSession) -> int:
    """Cluster default parallelism, safe under sessions with no JVM-backed
    SparkContext (e.g. Spark Connect)."""
    try:
        return spark.sparkContext.defaultParallelism
    except Exception:
        return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def fan_out(df):
    """Repartition a small-split scan to cluster parallelism before
    CPU-heavy per-row work (optimization guide §2.5: an unsplittable or
    single-split input starves every pre-shuffle stage — "repartition
    immediately after the read"). The bench corpus tables are single
    row-group parquet files, so WITHOUT this every tokenize/hash/encode
    pass that precedes the first exchange runs as ONE task regardless
    of cluster size (measured: the classifier featurization pass went
    15.3 s → 3.2 s on local[32] with this alone). Parallelism derives
    from the cluster (``defaultParallelism``), never a constant.

    SCALE-CONDITIONAL (optimization round 12, VERDICT r11): at 100 TB
    the scan already arrives in thousands of splits, and an
    unconditional round-robin ``repartition(n)`` there is a full
    corpus shuffle plus the hidden local sort every keyless
    repartition pays (``spark.sql.execution.sortBeforeRepartition``,
    guide §2.5) — pure cost on already-parallel input. The exchange is
    therefore added ONLY when the plan's observed parallelism is below
    the cluster's; a multi-split input passes through untouched
    (``tests/test_plans.py`` pins both shapes). Results are
    partition-invariant either way — the suite's odd-partitioning
    oracle mirror (DDS_SIM_CPUS=4 DDS_SIM_SHUFFLE=5) is the standing
    proof obligation."""
    n = default_parallelism(df.sparkSession)
    try:
        # Physical-plan partition count of the frame as it stands. A
        # plan without an exchange runs no job here; under AQE a plan
        # that ends in an exchange runs its shuffle map stages as a job
        # of their own, and the frame's own execution runs them again.
        current = df.rdd.getNumPartitions()
    except Exception:
        current = 0  # planning failure → keep the historical behavior
    if current >= n:
        return df
    return df.repartition(n)


#: Held by :func:`concurrently` while its legs run and by
#: :func:`scoped_conf` while its value is set.
_CONF_LOCK = threading.RLock()
_LEG = threading.local()


def as_leg(fn):
    """Mark ``fn`` as a leg: it runs on another thread while its caller
    holds the conf lock, so inside it :func:`scoped_conf` raises and a
    nested :func:`concurrently` does not take the lock again."""

    @functools.wraps(fn)
    def leg(*args, **kwargs):
        outer = getattr(_LEG, "active", False)
        _LEG.active = True
        try:
            return fn(*args, **kwargs)
        finally:
            _LEG.active = outer

    return leg


def concurrently(spark: SparkSession, fns, width: int) -> list:
    """Run the callables ``fns`` on a pool of ``width`` threads and
    return their results in list order once every one is done.

    Each leg is wrapped in ``inheritable_thread_target(spark)`` on the
    calling thread, so its jobs keep the caller's local properties (job
    group, description) and job tags. If legs fail, the first failure in
    list order is raised, and only after all legs have finished."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    # One inheritable_thread_target(spark) per leg: each call clones the
    # caller's local properties once, and legs that shared one clone
    # would see each other's SQL execution ids and job descriptions.
    wrapped = [inheritable_thread_target(spark)(as_leg(f)) for f in fns]
    # Inside a leg the leg's caller already holds the lock.
    lock = nullcontext() if getattr(_LEG, "active", False) else _CONF_LOCK
    with lock, ThreadPoolExecutor(max_workers=width) as pool:
        legs = [pool.submit(w) for w in wrapped]
    return [leg.result() for leg in legs]


@contextmanager
def scoped_conf(spark: SparkSession, key: str, value):
    """Set the session conf ``key`` to ``value`` for the ``with`` block
    and restore the previous value on exit, also when the block raises.
    Only jobs that EXECUTE inside the block see the value, so wrap eager
    work (collect, localCheckpoint, a drained stream), not a lazy plan.

    The scope waits while another thread's :func:`concurrently` legs
    run, and no leg starts on another thread while it holds. Entering a
    scope inside a leg raises ``RuntimeError``: the leg's caller holds
    the lock, and the change would reach its sibling legs."""
    if getattr(_LEG, "active", False):
        raise RuntimeError(
            f"scoped_conf({key!r}) inside a concurrently() leg or a drain's "
            f"batch function; set the conf around the concurrently() call"
        )
    with _CONF_LOCK:
        prev = spark.conf.get(key)
        spark.conf.set(key, str(value))
        try:
            yield
        finally:
            spark.conf.set(key, prev)
