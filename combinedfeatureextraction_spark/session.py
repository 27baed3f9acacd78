"""SparkSession factory with scale-appropriate defaults.

Local mode is a stand-in for a multi-executor cluster: every config here
(AQE, skew-join handling, Arrow batching, shuffle-partition sizing) is the
one you'd set on a 1000-executor cluster; only ``master`` changes.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "cfe_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for the engine.

    ``cpus=None`` → ``local[$SPARK_GRAFT_CPUS or *]``. On a real cluster the
    caller passes master/deploy-mode via spark-submit and this function only
    layers the SQL confs (builder configs are no-ops when a session exists).
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or None
    master = f"local[{cpus}]" if cpus else "local[*]"
    sp = shuffle_partitions or int(
        os.environ.get("CFE_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # match partition count to parallelism, not the 200 default
        .config("spark.sql.shuffle.partitions", str(sp))
        # scan split size (guide §6). The 128 MB default packs a whole
        # 100 MB-class multi-row-group file into ONE scan task, idling
        # every other core through the map stage; 16 MB right-sizes
        # splits to the local core budget (row groups land one per
        # split). Scale-dependent: on a cluster with TB-scale inputs set
        # CFE_MAX_PARTITION_BYTES=512m-1g (fewer, larger map tasks feed
        # shuffles better, §2.2) — parallelism there comes from file
        # count, not split granularity.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("CFE_MAX_PARTITION_BYTES", "16m"),
        )
        # AQE: runtime coalesce + skew-join splitting (Zipf keys, SURVEY §4)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for every pandas UDF / toPandas hop. 64k-row batches: the
        # 10k default makes the Python boundary IPC-roundtrip-bound —
        # measured 4.3 s vs 3.2 s (vs 2.1 s pure-JVM) for the LSH matmul
        # scan of 8M vectors at local[32]; per-batch numpy work amortizes
        # with batch size.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # ObjectHashAggregate (collect_set/min_by/...) falls back to
        # SORT-based merging after this many distinct groups per task —
        # the 128 default silently turns every corpus-scale collect_set /
        # argmax aggregation into a full sort. 128k groups × ~100-byte
        # entries bounds the hash map at ~13 MB/task (well inside
        # execution memory at any scale); beyond it the sort fallback
        # still engages gracefully.
        .config(
            "spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
            "131072",
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("CFE_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    # Shuffle/spill scratch on the fastest local storage (guide §5):
    # the sandbox's /tmp default is disk-backed while /dev/shm is tmpfs
    # — scripts/scaling_run.py has used the tmpfs dir since r02, now the
    # default everywhere. On a cluster this is the NVMe local dir the
    # platform provisions per executor; CFE_SPARK_LOCAL_DIR overrides,
    # and the Spark default applies where /dev/shm doesn't exist.
    local_dir = os.environ.get("CFE_SPARK_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/cfe_spark_local"
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)
        b = b.config("spark.local.dir", local_dir)
    # Python workers: on Python < 3.13 every task re-reads pyspark.zip's
    # directory once per cached zipimporter (0.13 s a task on 3.11.7,
    # 0.18 s on 3.12.1); pydaemon skips the re-read while the zip is
    # unchanged. Only for a local master whose JVM this process launches:
    # its workers inherit this process's environment, so they can import
    # the module. Under spark-submit (PYSPARK_GATEWAY_PORT set) or on a
    # cluster they may not, and keep the stock pyspark.daemon.
    if master.startswith("local") and "PYSPARK_GATEWAY_PORT" not in os.environ:
        b = b.config(
            "spark.python.daemon.module", "combinedfeatureextraction_spark.pydaemon"
        )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
