"""SparkSession factory tuned for the extraction workload.

Local mode here, but every knob is chosen for the 1000-executor case:
AQE for runtime skew handling, Arrow for the pandas-UDF hot path,
shuffle partitions sized to cores (overridable per scale factor).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "deepseek_ocr_omnidocbench_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores`` defaults to $SPARK_GRAFT_CPUS or all local cores.  On a real
    cluster the master/cores come from spark-submit; everything else here
    still applies.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 8
    if shuffle_partitions is None:
        # one shuffle partition per core locally; on a cluster this should be
        # 2-3x total cores — callers pass it explicitly at scale.
        shuffle_partitions = max(int(cores), 8)

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch size bounds pandas-UDF memory per task; giant HTML blobs
        # mean fewer rows per batch is safer than the 10k default.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "32g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # extraction runs in the scan's own splits, so the split size sets
        # its last wave: at 128m a 612 MB table was 5 splits on 4 cores
        # (one task in the second wave); inputs under cores x 32 MB still
        # split as bytes / cores
        .config("spark.sql.files.maxPartitionBytes", "32m")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
