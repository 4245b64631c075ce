"""Iceberg deployment path for the stage-checkpoint protocol.

The sandbox ships no iceberg-spark runtime jar, so `StageCheckpoint`
(lineage.py) implements the protocol on plain parquet + atomic renames.
This module is the 1:1 mapping onto Iceberg for the real cluster —
capability-gated so the rest of the engine never depends on the jar:

| parquet stand-in (lineage.py)      | Iceberg (here)                      |
|------------------------------------|-------------------------------------|
| bucket dir write + os.rename       | `overwritePartitions()` snapshot    |
| lineage-*.json append              | `lineage` table append              |
| committed_buckets set difference   | anti-join against lineage snapshot  |
| restart-safe bucket granularity    | same salt-bucket column             |
| done-flag atomicity                | Iceberg snapshot commit atomicity   |

At 10^12 docs the additional wins are metadata-level: partition pruning
on the bucket column, snapshot time travel for debugging a bad stage,
and `expire_snapshots` for retention.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .lineage import StageCheckpoint


def iceberg_available(spark: SparkSession) -> bool:
    """True when an Iceberg catalog is usable in this session."""
    try:
        # py4j resolves missing classes to lazy package objects, so a
        # plain attribute probe never fails — ask the classloader
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.iceberg.Snapshot")
        return True
    except Exception:
        return False


class IcebergStageCheckpoint(StageCheckpoint):
    """StageCheckpoint over Iceberg tables: the same bucket loop
    (``StageCheckpoint.run_stage``), with Iceberg's store steps.

    ``catalog.namespace`` must point at a configured Iceberg catalog
    (spark.sql.catalog.<name>=org.apache.iceberg.spark.SparkCatalog).
    Raises a clear error at construction when the runtime jar is absent
    so callers fall back to the parquet implementation explicitly.

    Idempotency: lineage is appended *after* the data commit, so a crash
    between them re-runs the bucket on restart.  The stage table is
    partitioned by ``_bucket`` and each bucket commits via
    ``overwritePartitions()``, so a re-run replaces that bucket's rows
    instead of duplicating them (parquet: tmp-write + atomic rename).
    """

    def __init__(self, spark: SparkSession, namespace: str,
                 n_buckets: int = 16, key_col: str = "url"):
        if not iceberg_available(spark):
            raise RuntimeError(
                "Iceberg runtime not on the classpath; use "
                "sources.lineage.StageCheckpoint (parquet protocol) instead")
        self.spark = spark
        self.namespace = namespace
        self.n_buckets = n_buckets
        self.key_col = key_col
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {namespace}.lineage "
            "(stage string, partition_id int, doc_count bigint, bytes bigint, "
            "n_failed bigint, failure_urls array<string>, elapsed_sec double, "
            "committed_at timestamp) USING iceberg")

    def committed_buckets(self, stage: str) -> set[int]:
        rows = self.spark.sql(
            f"SELECT DISTINCT partition_id FROM {self.namespace}.lineage "
            f"WHERE stage = '{stage}'").collect()
        return {r["partition_id"] for r in rows}

    def _append_lineage(self, rows: list[dict]) -> None:
        cols = ["stage", "partition_id", "doc_count", "bytes", "n_failed",
                "failure_urls", "elapsed_sec"]
        self.spark.createDataFrame(
            [tuple(r[c] for c in cols) for r in rows],
            "stage string, partition_id int, doc_count bigint, bytes bigint, "
            "n_failed bigint, failure_urls array<string>, elapsed_sec double",
        ).withColumn("committed_at", F.current_timestamp()) \
            .writeTo(f"{self.namespace}.lineage").append()

    def _write_bucket(self, stage: str, bucket: int, out: DataFrame) -> None:
        table = f"{self.namespace}.{stage}"
        w = out.withColumn("_bucket", F.lit(bucket)).writeTo(table)
        # Create whenever absent (a retried bucket b != 0 may be the
        # first writer if the table was dropped between runs).
        tables = self.spark.sql(f"SHOW TABLES IN {self.namespace}").collect()
        if stage not in {r["tableName"] for r in tables}:
            w.partitionedBy("_bucket").create()
        else:
            w.overwritePartitions()

    def _read_bucket(self, stage: str, bucket: int) -> DataFrame:
        return self.spark.table(f"{self.namespace}.{stage}") \
            .where(F.col("_bucket") == bucket).drop("_bucket")

    def read_stage(self, stage: str) -> DataFrame:
        return self.spark.table(f"{self.namespace}.{stage}").drop("_bucket")

    def lineage(self) -> DataFrame:
        # the parquet class reads lineage files under ``root``; here the
        # rows live in the namespace's lineage table
        return self.spark.table(f"{self.namespace}.lineage")
