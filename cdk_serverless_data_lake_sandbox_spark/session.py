"""SparkSession factory with scale-aware defaults.

Single place where engine tuning lives so tests, bench, and the driver
entry all run the same config. Defaults are sized for local[N] but the
knobs are the ones that matter on a 1000-executor cluster: AQE (runtime
coalesce + skew-join), shuffle partition count, broadcast threshold,
Arrow for any pandas-UDF edge.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from cdk_serverless_data_lake_sandbox_spark.compat import ensure_protobuf


def get_spark(
    app_name: str = "cdk-serverless-data-lake-sandbox-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    # Must run before the gateway launches: Python workers inherit the
    # JVM's environment, so the vendored protobuf path (needed by the
    # transformWithStateInPandas worker) has to be in PYTHONPATH now.
    ensure_protobuf()
    # Reclaim scratch trees left by SIGKILLed sessions (atexit never
    # ran there); age-bounded so concurrent live sessions are safe.
    from cdk_serverless_data_lake_sandbox_spark.operators._helpers import vacuum_scratch

    vacuum_scratch()
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # Deterministic timestamps regardless of host TZ (oracle parity).
        .config("spark.sql.session.timeZone", "UTC")
        # AQE: runtime partition coalescing, skew-join splitting, and
        # dynamic join-strategy switching. At 100 TB this is what keeps
        # a skewed groupBy/join from stalling on one straggler task.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", "32"))),
        )
        # Dims under this size are broadcast — no shuffle for the
        # region/nation/supplier/part side of star joins.
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # SHJ policy: sort-merge is the static planner's choice; a
        # shuffled-hash join comes only from AQE's runtime rewrite, when
        # every post-shuffle partition is under the 64 MB local-map
        # threshold, so a hash build can never exceed 64 MB/partition
        # and a misestimated or skewed build side spills instead of
        # OOMing. Preferring SHJ statically gained only ~6% geomean on
        # the join-heavy queries and was 1.21x slower on
        # copurchase_triangles (OPTIMIZATION_r12.md).
        .config("spark.sql.join.preferSortMergeJoin", "true")
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
        # Arrow batches for the pandas-UDF edges (MinHash, multimodal).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
