"""SparkSession factory tuned for the extraction workload.

Local mode here, but every knob is chosen for the 1000-executor case:
AQE for runtime skew handling, Arrow for the pandas-UDF hot path,
shuffle partitions sized to cores (overridable per scale factor).
"""

from __future__ import annotations

import os
import site

from pyspark.sql import SparkSession

DAEMON_MODULE = __package__ + ".worker_daemon"


def _driver_memory() -> str:
    """Half of physical memory, capped at 32g: the heap may grow to its
    maximum, and beside it run the Python workers."""
    half = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2
    return "%dm" % min(half >> 20, 32 << 10)


def _workers_import_package() -> bool:
    """Whether a Python worker started in this directory with this
    environment can import the package: its parent is the working
    directory (``python -m`` puts it on ``sys.path``), on ``PYTHONPATH``
    or a site-packages directory."""
    parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    dirs = [os.getcwd(), *site.getsitepackages(), site.getusersitepackages()]
    dirs += [os.path.abspath(p) for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    return any(os.path.realpath(d) == os.path.realpath(parent) for d in dirs)


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
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM") or _driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # extraction runs in the scan's own splits, so the split size sets
        # its last wave: at 128m a 612 MB table was 5 splits on 4 cores
        # (one task in the second wave); inputs under cores x 32 MB still
        # split as bytes / cores
        .config("spark.sql.files.maxPartitionBytes", "32m")
    )
    if _workers_import_package():
        # each task's set-up re-reads pyspark.zip's directory once per
        # cached zipimporter; this daemon drops the subpackage ones first
        builder = builder.config("spark.python.daemon.module", DAEMON_MODULE)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
