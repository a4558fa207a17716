"""SparkSession factory tuned for the engine.

Test/bench entry points run on ``local[$SPARK_GRAFT_CPUS]`` (default: the
CPUs the process may run on, :func:`graft_cpus`) but every config here is
chosen to survive a 1000-executor cluster: AQE on (runtime
coalesce + skew-join splitting), shuffle partitions sized to cores locally and
meant to be overridden upward on a real cluster, Arrow enabled for the few
Pandas-UDF paths, and UTC session time so timestamp semantics are
deployment-independent.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """``min(16g, half of physical RAM)``, in megabytes."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(16 * 1024, ram // 2 // 2**20)}m"


def graft_cpus() -> str:
    """Local task slots: $SPARK_GRAFT_CPUS, else the CPUs this process may
    run on (its affinity mask, not the host's count)."""
    return os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))


def get_spark(
    app_name: str = "mysql-cdc-debezium-starrocks-spark",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession on ``local[graft_cpus()]``
    with $SPARK_SHUFFLE_PARTITIONS (default: as many) shuffle partitions;
    ``extra_conf`` overrides any setting."""
    cpus = graft_cpus()
    shuffle = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus))
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # guide §3.1/§9: let the planner pick shuffled-hash join when its
        # size conditions are met (skips the sort-merge sort; the build
        # side must fit a partition's execution memory — keep shuffle
        # partitions sized per §2.2 on a real cluster).  AQE additionally
        # rewrites SMJ -> SHJ at runtime when every post-shuffle partition
        # is under the local-map threshold.  Both env-overridable so a
        # deployment (or an A/B) can restore the spill-safest defaults.
        .config(
            "spark.sql.join.preferSortMergeJoin",
            os.environ.get("SPARK_PREFER_SMJ", "false"),
        )
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            os.environ.get("SPARK_SHJ_LOCALMAP", str(64 * 1024 * 1024)),
        )
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
        # local-mode driver == executor: size the heap to the task slots
        # plus the session artifact cache (guide §5).  8g for 32 concurrent
        # tasks left ~250 MB execution memory each BEFORE the ~26 persisted
        # artifact kinds a warm session holds; once the full census was
        # cached, storage squeezed execution and the shuffle-heavy dedup
        # band joins degraded ~2x (tools/minibench.py --warm-all:
        # dedup_cross_source_matrix 1.9 vs 1.0 normalized fresh-session,
        # recovered at 16g).  The
        # default is 16g capped at half the host's RAM, so a small host is
        # not promised more heap than it has.  On a real cluster this is
        # ordinary executor sizing; SPARK_DRIVER_MEMORY overrides it.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY", _default_driver_memory()),
        )
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
