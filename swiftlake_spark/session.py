"""SparkSession factory.

One place where every engine session is configured, equivalent to the
reference's DuckDB instance bootstrap (``SwiftLakeEngine.java:409-446``:
memory limit, threads, UTC).  Spark-side we additionally turn on AQE
(runtime re-planning, partition coalescing, skew-join splitting) and the
Arrow transfer path for the Pandas-UDF operators.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from swiftlake_spark.config import EngineConfig


def build_session(config: EngineConfig | None = None) -> SparkSession:
    cfg = config or EngineConfig()
    b = (
        SparkSession.builder.master(cfg.effective_master)
        .appName(cfg.app_name)
        .config("spark.sql.session.timeZone", cfg.session_timezone)
        .config("spark.sql.shuffle.partitions", str(cfg.effective_shuffle_partitions))
        .config("spark.sql.adaptive.enabled", str(cfg.adaptive).lower())
        .config("spark.sql.adaptive.coalescePartitions.enabled", str(cfg.adaptive).lower())
        .config("spark.sql.adaptive.skewJoin.enabled", str(cfg.adaptive).lower())
        .config("spark.sql.execution.arrow.pyspark.enabled", str(cfg.arrow).lower())
        .config("spark.sql.autoBroadcastJoinThreshold", cfg.broadcast_threshold)
        .config("spark.sql.files.maxPartitionBytes", cfg.max_partition_bytes)
        .config("spark.sql.parquet.compression.codec", cfg.parquet_compression)
        # row-group sizing: parquet writer block size tracks the reference's
        # 122_880-row groups only approximately (Spark sizes by bytes);
        # 128 MiB blocks are the parquet-mr default and scan-friendly.
        .config("spark.sql.sources.parallelPartitionDiscovery.parallelism",
                str(cfg.listing_parallelism))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.ansi.enabled", "false")
    )
    if cfg.driver_memory:
        b = b.config("spark.driver.memory", cfg.driver_memory)
    for k, v in cfg.extra_conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ensure_worker_imports(spark)
    return spark


_WORKER_IMPORTS_ADDED: set[int] = set()


def ensure_worker_imports(spark: SparkSession) -> None:
    """Make ``swiftlake_spark`` importable inside Spark's Python workers.

    Cloudpickled UDF closures reference module-level functions by import
    path; when the driving process runs from a different cwd the workers
    can't import the package.  Shipping a zip via ``addPyFile`` puts it on
    every worker's sys.path regardless of cwd.  Spark's file server may
    serve the zip for as long as the process lives, so its directory is
    removed at interpreter exit, not before."""
    key = id(spark.sparkContext)
    if key in _WORKER_IMPORTS_ADDED:
        return
    import atexit
    import shutil
    import tempfile

    import swiftlake_spark

    pkg_dir = os.path.dirname(os.path.abspath(swiftlake_spark.__file__))
    tmp = tempfile.mkdtemp(prefix="swl_pkg_")
    atexit.register(shutil.rmtree, tmp, True)
    zip_base = os.path.join(tmp, "swiftlake_spark_pkg")
    path = shutil.make_archive(
        zip_base, "zip", root_dir=os.path.dirname(pkg_dir), base_dir="swiftlake_spark"
    )
    spark.sparkContext.addPyFile(path)
    _WORKER_IMPORTS_ADDED.add(key)


def tune_existing(spark: SparkSession, cfg: EngineConfig) -> SparkSession:
    """Apply the runtime-settable subset of the config to a session we did
    not create (the driver hands us one in ``__spark_entry__.entry``)."""
    ensure_worker_imports(spark)
    spark.conf.set("spark.sql.session.timeZone", cfg.session_timezone)
    spark.conf.set("spark.sql.shuffle.partitions", str(cfg.effective_shuffle_partitions))
    try:
        spark.conf.set("spark.sql.adaptive.enabled", str(cfg.adaptive).lower())
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", cfg.broadcast_threshold)
        spark.conf.set(
            "spark.sql.sources.parallelPartitionDiscovery.parallelism",
            str(cfg.listing_parallelism))
    except Exception:
        pass  # conf may be static in some deployments; best-effort
    return spark
