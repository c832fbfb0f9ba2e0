"""SparkSession factory with the engine's canonical configuration."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _local_dir() -> str:
    for cand in ("/dev/shm/spark-local", "/tmp/spark-local"):
        try:
            os.makedirs(cand, exist_ok=True)
            return cand
        except OSError:
            continue
    return "/tmp"


_GIB = 1 << 30


def host_memory_bytes() -> int:
    """Memory this process may use: the smaller of the cgroup limit (v2
    `memory.max`, else v1 `memory.limit_in_bytes`; absent or "max" = no
    limit) and the kernel's MemAvailable estimate."""
    limits = []
    for path in (
        "/sys/fs/cgroup/memory.max",
        "/sys/fs/cgroup/memory/memory.limit_in_bytes",
    ):
        try:
            with open(path) as f:
                raw = f.read().strip()
        except OSError:
            continue
        if raw.isdigit():
            limits.append(int(raw))
        break
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    limits.append(int(line.split()[1]) * 1024)
                    break
    except OSError:
        pass
    return min(limits) if limits else 2 * _GIB


def default_driver_memory() -> str:
    """Half of the host's usable memory for the driver heap, kept within
    [1g, 24g]: local mode is driver-only, so the one JVM gets real
    memory, while the other half stays for its off-heap use and the
    Python workers. A fixed default larger than the host aborts the JVM
    at launch (the -Xms pin below reserves the whole heap up front)."""
    mib = min(max(host_memory_bytes() // 2, _GIB), 24 * _GIB) >> 20
    return f"{mib}m"


def default_cores() -> int:
    """CPUs this process may run on (affinity mask, not the machine's
    count)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # platforms without affinity masks
        return os.cpu_count() or 1


def get_spark(
    app_name: str = "simages_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS") or default_cores())
    shuffle_partitions = shuffle_partitions or cores
    # resolve driver memory ONCE, honoring an extra_conf override: the
    # -Xms below must track whatever spark.driver.memory ends up being —
    # a pinned -Xms24g with an overridden -Xmx4g aborts the JVM at launch
    # ("Initial heap size set to a larger value than the maximum")
    driver_mem = (extra_conf or {}).get(
        "spark.driver.memory",
        os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory(),
    )
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # INT96 (Spark's legacy parquet timestamp encoding) carries NO
        # footer min/max statistics, which blinds every stats-pruned path
        # (SnapshotTable.scan, delete_matching) on timestamp columns like
        # warc_ts; TIMESTAMP_MICROS is the modern type, matches Spark's
        # internal precision exactly, and gets stats
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # local mode = driver-only: give the one JVM real memory (sized
        # from the host by default_driver_memory); a small heap makes
        # cache+execution churn/GC the bottleneck long before CPU
        .config("spark.driver.memory", driver_mem)
        # this sandbox's virtio disk has ~50ms file-metadata latency; the
        # bypass shuffle writer opens R files per map task and spends 10×
        # more time creating files than writing bytes. tmpfs local dir +
        # the single-file sort writer remove the pathology. (On a real
        # cluster leave local dirs on instance storage — this is a local-
        # mode tuning, not an engine semantic.)
        .config("spark.local.dir", _local_dir())
        .config("spark.shuffle.sort.bypassMergeThreshold", "1")
        # Firecracker-VM JVM tuning, each measured in this sandbox:
        # -Xms == -Xmx: G1 otherwise uncommits/recommits heap regions and
        #   every recommit page-faults through the slow host path (observed
        #   9.5s young pauses with User=0.00s Sys=9.51s);
        # capped GC threads: G1's default one-GC-thread-per-CPU serializes
        #   pauses on stolen vCPUs (identical query 23-52s -> 0.7-3s);
        # more C2 threads: first execution JIT-compiles Spark's large
        #   generated methods, 2 compiler threads starve under 32 task
        #   threads.
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{driver_mem} "
            "-XX:ParallelGCThreads=8 -XX:ConcGCThreads=2 -XX:CICompilerCount=6",
        )
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
