"""SparkSession factory tuned for this engine.

Local-mode testing uses ``local[N]``; on a real cluster the same settings
apply except master/memory come from spark-submit. AQE is always on so
runtime stats re-plan shuffles (skew-join splitting, partition coalescing)
— required at 100 TB where static planning guesses wrong.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Defaults chosen for scale: AQE on (runtime re-planning), Arrow on
#: (vectorized pandas-UDF transfer), UTC timestamps everywhere,
#: ANSI off so malformed log data degrades to NULL instead of failing a
#: 1000-executor job 6 hours in (we use try_* semantics throughout anyway).
_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.ansi.enabled": "false",
    "spark.ui.enabled": "false",
    "spark.driver.extraJavaOptions": "-Djava.net.preferIPv4Stack=true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # The fused parse+enrich stage generates a lot of code; smaller split
    # methods JIT-compile sooner (measured: steady-state per-group wall
    # reached 1 job earlier, ~15% total win on a 4-group run).
    "spark.sql.codegen.methodSplitThreshold": "256",
    # Transcript text compresses ~5× in parquet and the per-row parse work
    # is heavy, so default 128MB splits starve wide machines (measured:
    # 6/32 cores busy on a 250MB input). 16MB keeps scan parallelism ≈
    # cores even on small-ish inputs; post-shuffle AQE advisory to match.
    # On a 100TB cluster the input dwarfs the core count and these could
    # return to defaults.
    "spark.sql.files.maxPartitionBytes": str(16 * 1024 * 1024),
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(16 * 1024 * 1024),
    # Sink compression: zstd level 1 instead of snappy. Measured on the
    # pinned pipeline (round 5, interleaved reps under host noise):
    # local[32]@16M ~101s vs ~108s snappy, local[2]@4M ~210s vs ~227s —
    # faster at BOTH core counts, because zstd-1 compresses ~30-40%
    # smaller at near-snappy speed, and fewer bytes through the sink is
    # less traffic on the shared memory bus (the saturated-pair
    # bottleneck) and less I/O on a real cluster. Level 1 explicitly:
    # parquet's default level 3 pays more compression CPU for little
    # extra ratio on this data. (zstd SHUFFLE codec and ParallelGC were
    # also screened and measured slower; dictionary-off was worse.)
    "spark.sql.parquet.compression.codec": "zstd",
    "spark.hadoop.parquet.compression.codec.zstd.level": "1",
    # InferFiltersFromConstraints explodes combinatorially on the staged
    # alias chains feeding the CIDR range joins (driver pinned for minutes
    # hashing constraint trees — measured 22s→175s per added join). The
    # inferred not-null filters are worthless here (broadcast lookups),
    # so turn constraint propagation off.
    "spark.sql.constraintPropagation.enabled": "false",
    # Dynamic partition pruning's probe (PartitionPruning.trimAliases)
    # recursively INLINES every projection alias below a join when a
    # partitioned scan is in the plan — exponential on the staged
    # extraction alias chain (thread-dumped: driver pinned >7 min in
    # trimAliases on a 3000-row input once the broadcast joins sat above
    # the cgroup-partitioned scan without a lineage barrier). DPP can
    # never fire for this engine: the commit-group partition column is
    # never a join key (lookups join on _join_ip/_join_v4), so the rule
    # is pure planning cost here.
    "spark.sql.optimizer.dynamicPartitionPruning.enabled": "false",
}


def _cgroup_value(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read().strip()
    except OSError:
        return None


def host_cores() -> int:
    """CPUs this process may use: the affinity mask, capped by a cgroup v2
    CPU quota (``cpu.max``)."""
    n = len(os.sched_getaffinity(0))
    quota = _cgroup_value("/sys/fs/cgroup/cpu.max")
    if quota and not quota.startswith("max"):
        q, period = quota.split()
        n = min(n, max(1, int(q) // int(period)))
    return n


def host_memory_mb() -> int:
    """Physical memory in MiB, capped by a cgroup v2 limit (``memory.max``)."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    limit = _cgroup_value("/sys/fs/cgroup/memory.max")
    if limit and limit.isdigit():
        total = min(total, int(limit) // 2**20)
    return total


def default_driver_memory() -> str:
    """A quarter of the host's (or cgroup's) memory, at least 1 GiB. In
    local mode the driver heap also holds every executor task's memory,
    and the JVM's resident size runs past ``-Xmx`` (metaspace, code cache,
    direct buffers) while Python workers sit beside it, so a heap sized
    near physical memory gets the process OOM-killed instead of GC'd."""
    return f"{max(1024, host_memory_mb() // 4)}m"


def get_spark(
    app_name: str = "logboost_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``cores`` defaults to $SPARK_GRAFT_CPUS, else to the CPUs this process
    may use (:func:`host_cores`). The driver heap defaults to
    $SPARK_DRIVER_MEMORY, else to :func:`default_driver_memory`; an
    ``extra_conf`` entry for ``spark.driver.memory`` wins over both.
    ``shuffle_partitions`` defaults to 2× cores — on a real cluster you
    would size this to total-cores × 2-3 and let AQE coalesce.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS") or host_cores())
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cores, 8)
    driver_memory = os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory()
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", driver_memory)
    )
    for k, v in _DEFAULTS.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
