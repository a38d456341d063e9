"""SparkSession factory with the engine's scale-posture defaults.

Local testing runs ``local[N]`` (single JVM); the configs below are the ones
that matter identically on a 1000-executor cluster: AQE for runtime
re-planning (coalesce, skew-join), a shuffle-partition count sized to the
parallelism at hand, Arrow for the Pandas-UDF path, and UTC session time.
"""

from __future__ import annotations

import os

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


def default_parallelism(spark: SparkSession, fallback: int | None = None) -> int:
    """Cluster default parallelism, safe under sessions with no JVM-backed
    SparkContext (e.g. Spark Connect)."""
    try:
        return spark.sparkContext.defaultParallelism
    except Exception:
        return fallback or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def fan_out(df, parallelism: int | None = None):
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
    n = parallelism or default_parallelism(df.sparkSession)
    try:
        # Physical-plan partition count of the frame as it stands
        # (no job runs — this only materializes the RDD lineage).
        current = df.rdd.getNumPartitions()
    except Exception:
        current = 0  # planning failure → keep the historical behavior
    if current >= n:
        return df
    return df.repartition(n)
