"""SparkSession factory with scale-appropriate defaults.

Local mode is a stand-in for a multi-executor cluster: every config here
(AQE, skew-join handling, Arrow batching, shuffle-partition sizing) is the
one you'd set on a 1000-executor cluster; only ``master`` changes.
"""

from __future__ import annotations

import os
import shlex

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
#: free bytes /dev/shm must report for Spark's scratch to go there;
#: Docker's default /dev/shm is 64 MB, where a spill fails with ENOSPC
SHM_MIN_FREE_BYTES = 2 << 30
#: the directory that holds this package
_PKG_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _local_dir() -> str | None:
    """Shuffle/spill scratch on the fastest local storage (guide §5): the
    /dev/shm tmpfs when it has ``SHM_MIN_FREE_BYTES`` free, where /tmp may
    be disk-backed. On a cluster this is the NVMe local dir the platform
    provisions per executor. ``CFE_SPARK_LOCAL_DIR`` overrides; ``None``
    (Spark's default) where /dev/shm is missing or too small."""
    local_dir = os.environ.get("CFE_SPARK_LOCAL_DIR")
    if local_dir is not None:
        return local_dir
    try:
        st = os.statvfs("/dev/shm")
    except OSError:
        return None
    if st.f_bavail * st.f_frsize < SHM_MIN_FREE_BYTES:
        return None
    return "/dev/shm/cfe_spark_local"


def _submitted_master() -> bool:
    """Whether spark-submit holds the master: it started this driver (its
    JVM is up and ``PYSPARK_GATEWAY_PORT`` names it) or pyspark will start
    the JVM with ``PYSPARK_SUBMIT_ARGS`` that name one."""
    if os.environ.get("PYSPARK_GATEWAY_PORT"):
        return True
    args = shlex.split(os.environ.get("PYSPARK_SUBMIT_ARGS", ""))
    return any(a == "--master" or a.startswith("--master=") for a in args)


def get_spark(
    app_name: str = "cfe_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for the engine.

    ``cpus=None`` → ``local[$SPARK_GRAFT_CPUS or *]``, unless spark-submit
    already set the master: a driver started by spark-submit, or a
    ``--master`` in ``PYSPARK_SUBMIT_ARGS``, keeps its master and this
    function only layers the confs. A session that already exists is
    returned as it is: the builder would reset its runtime confs (shuffle
    partitions) under the code that built it.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or None
    master = f"local[{cpus}]" if cpus else "local[*]"
    sp = shuffle_partitions or int(
        os.environ.get("CFE_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )
    b = (
        SparkSession.builder.appName(app_name)
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
        # Local files through RawLocalFileSystem, not the checksummed
        # LocalFileSystem that wraps it: no .crc sidecar per written file.
        # Without the native Hadoop library each created file or directory
        # forks a `chmod` process (Shell.execCommand in setPermission), so
        # a sidecar is one more fork and one more file per output file.
        # Affects file:// paths only (HDFS and S3 keep their own
        # filesystems); parquet pages keep their own CRC.
        .config("spark.hadoop.fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
    )
    if not _submitted_master():
        b = b.master(master)
    local_dir = _local_dir()
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)
        b = b.config("spark.local.dir", local_dir)
    # Python workers unpickle the engine's own functions (per_row_map's
    # batch loop, pandas UDFs), so they must import this package even when
    # the driver found it through sys.path rather than the cwd or
    # PYTHONPATH: put the package's parent directory on their path (on a
    # cluster, where executors get the package through --py-files, a
    # directory they lack is skipped).
    conf = dict(extra_conf or {})
    key = "spark.executorEnv.PYTHONPATH"
    conf[key] = os.pathsep.join(p for p in (conf.get(key), _PKG_PARENT) if p)
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
