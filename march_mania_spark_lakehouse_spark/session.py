"""SparkSession factory.

Parity with the reference's session builder (`src/common/spark.py:57-82`):
AQE enabled, tuned shuffle partitions, pinned timezone — re-expressed for
local[N] testing while keeping every knob meaningful on a real cluster.

Scale posture (100 TB): every conf here is also correct on a 1000-executor
cluster — AQE handles runtime coalescing + skew joins, shuffle partitions
are overridable via env, and Arrow is enabled for any pandas-UDF exchange.
"""

from __future__ import annotations

import os
from collections.abc import Mapping

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))

#: Env override of where graph loops keep their iteration state
#: (`operators/graph.py`); ``disk`` takes it out of memory (the scale
#: probe runs the 100x graph probes with it to fit the 8 GB local heap).
ITER_STATE_ENV = "SPARK_GRAFT_ITER_STATE"


def _local_dir(env: Mapping[str, str], has_tmpfs: bool) -> str:
    """``spark.local.dir`` for a session: ``SPARK_GRAFT_LOCAL_DIR`` when
    set; else a tmpfs dir when the host has ``/dev/shm``; else ``/tmp``.

    tmpfs is skipped when ``SPARK_GRAFT_ITER_STATE=disk``: that mode
    exists to take iteration state out of RAM, and on tmpfs its
    DISK_ONLY checkpoint blocks, shuffle files and spill would land in
    RAM again (or fail on a small ``/dev/shm``)."""
    explicit = env.get("SPARK_GRAFT_LOCAL_DIR")
    if explicit is not None:
        return explicit
    if has_tmpfs and env.get(ITER_STATE_ENV) != "disk":
        return "/dev/shm/spark_graft_local"
    return "/tmp"


def get_spark(
    app_name: str = "march_mania_spark_lakehouse_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    On a real cluster the master/memory settings come from spark-submit;
    locally we default to ``local[$SPARK_GRAFT_CPUS]``.
    """
    # Before the JVM starts: make google.protobuf importable (real
    # package if installed, vendored miniproto shim otherwise) so the
    # transformWithStateInPandas state protocol works in Python workers
    # — they inherit PYTHONPATH from the environment captured here.
    from march_mania_spark_lakehouse_spark.vendor import ensure_protobuf

    ensure_protobuf()

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]"))
        .appName(app_name)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Default minPartitionSize (1 MiB) lets AQE coalesce a small
        # shuffle down to 1-2 partitions, which serializes any
        # Python-heavy stage that follows (applyInPandas folds ran 3×
        # slower). 64 KiB keeps parallelismFirst's default-parallelism
        # target effective for small inputs; at 100 TB shuffles are far
        # above either floor, so the knob only affects the small end.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Scan-partition sizing: 128 MiB splits keep one task's input
        # comfortably in executor memory at any table size; raise for
        # clusters with fat executors, lower for memory-tight ones.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "134217728"),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # INTENTIONAL session-wide global: parquet field-id resolution.
        # The Delta columnMapping.mode=id reader (delta_log._read_files_raw)
        # builds read schemas carrying parquet.field.id metadata; Spark
        # consults this flag at ACTION time (probed empirically — a
        # set/restore around the lazy `spark.read` silently yields nulls),
        # so it cannot be scoped per-read. It is a no-op for read schemas
        # without field-id metadata, i.e. every other read in the engine.
        .config("spark.sql.parquet.fieldId.read.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEMORY", "8g"))
        # Shuffle/spill scratch space (guide §2.1/§6): every shuffle map
        # task creates+closes a data and an index file, and on this
        # sandbox's overlay root that costs ~150 ms of blocked time PER
        # MAP TASK regardless of bytes (measured round 14: a 32-map-task
        # KB-sized shuffle spends 5 s of summed task time in shuffle
        # write; the same shuffle on tmpfs spends 0.6 s). Default to a
        # tmpfs scratch dir when one exists and no explicit dir is
        # given; on a real cluster the platform (YARN/k8s) provisions
        # spark.local.dir on fast NVMe and SPARK_GRAFT_LOCAL_DIR (or the
        # platform conf) takes precedence — shuffle data is
        # re-computable, so tmpfs loses nothing but page cache.
        .config(
            "spark.local.dir",
            _local_dir(os.environ, os.path.isdir("/dev/shm")),
        )
        .config("spark.ui.enabled", "false")
        # Keep harness-captured stdout/stderr tails clean (the bench driver
        # records the last ~2000 chars; \r progress frames are pure noise).
        .config("spark.ui.showConsoleProgress", "false")
    )
    # Object-store connector (reference S6: S3A → MinIO, src/common/
    # spark.py:63-72): same spark.hadoop.fs.s3a.* surface, env-gated so
    # local runs pay nothing. Endpoint implies path-style access +
    # static credentials, the self-hosted object-store contract.
    endpoint = os.environ.get("SPARK_GRAFT_S3_ENDPOINT")
    if endpoint:
        builder = (
            builder.config("spark.hadoop.fs.s3a.endpoint", endpoint)
            .config("spark.hadoop.fs.s3a.path.style.access", "true")
            .config(
                "spark.hadoop.fs.s3a.connection.ssl.enabled",
                os.environ.get("SPARK_GRAFT_S3_SSL", "false"),
            )
            .config(
                "spark.hadoop.fs.s3a.access.key",
                os.environ.get("SPARK_GRAFT_S3_ACCESS_KEY", ""),
            )
            .config(
                "spark.hadoop.fs.s3a.secret.key",
                os.environ.get("SPARK_GRAFT_S3_SECRET_KEY", ""),
            )
            .config(
                "spark.hadoop.fs.s3a.aws.credentials.provider",
                "org.apache.hadoop.fs.s3a.SimpleAWSCredentialsProvider",
            )
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
