"""Stage checkpointing with per-partition lineage + anti-join resume.

Re-expresses the reference's work-queue protocol — sha1 work groups,
done-flag objects, stale locks (olmocr/olmocr/work_queue.py:30-225) — as
atomic table commits, on the RStore model (immutable chunks plus a small
commit index):

* each stage writes its output bucketed by ``xxhash64(url) % n_buckets``
  to ``<root>/<stage>/bucket=NNNNN``, one Spark job per bucket (its
  counts are observed on the write), and appends one lineage row per
  bucket — the commit index that ``read_stage`` reads, carrying the
  bucket's schema so reading starts no schema-inference job;
* a killed job resumes by anti-joining its input's bucket ids against
  committed lineage rows — only missing buckets recompute (O7);
* commit atomicity comes from write-then-rename of the bucket directory
  plus the lineage append.  ``sources/iceberg.py`` overrides only these
  store steps to run the same loop over Iceberg tables.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
from pathlib import Path

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

MAX_FAILURE_URLS = 20  # failing keys kept per lineage row


class StageCheckpoint:
    """Parquet-backed staged pipeline with lineage + resume."""

    def __init__(self, spark: SparkSession, root: str, n_buckets: int = 16,
                 key_col: str = "url"):
        self.spark = spark
        self.root = root
        self.n_buckets = n_buckets
        self.key_col = key_col
        os.makedirs(root, exist_ok=True)

    # -- lineage ------------------------------------------------------------

    def _lineage_path(self) -> str:
        return os.path.join(self.root, "lineage")

    def _lineage_lines(self) -> list[str]:
        # published files only: a kill inside _append_lineage leaves a
        # partial .json.tmp that is not part of the log
        files = sorted(glob.glob(os.path.join(self._lineage_path(), "*.json")))
        return [line for fn in files for line in Path(fn).read_text().splitlines()]

    def committed_buckets(self, stage: str) -> set[int]:
        rows = map(json.loads, self._lineage_lines())
        return {r["partition_id"] for r in rows if r["stage"] == stage}

    def committed_schemas(self, stage: str) -> set:
        """The schemas (JSON, None where unrecorded) of a stage's
        committed buckets."""
        rows = map(json.loads, self._lineage_lines())
        return {r.get("schema") for r in rows if r["stage"] == stage}

    def _append_lineage(self, rows: list[dict]) -> None:
        path = self._lineage_path()
        os.makedirs(path, exist_ok=True)
        fname = os.path.join(path, "lineage-%d-%d.json" % (int(time.time() * 1e6), os.getpid()))
        tmp = fname + ".tmp"
        with open(tmp, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        os.rename(tmp, fname)  # atomic publish (Iceberg-commit analog)

    # -- store steps --------------------------------------------------------

    def stage_output_path(self, stage: str, bucket: int) -> str:
        return os.path.join(self.root, stage, "bucket=%05d" % bucket)

    def _write_bucket(self, stage: str, bucket: int, out: DataFrame) -> None:
        path = self.stage_output_path(stage, bucket)
        tmp = path + "__tmp"
        out.write.mode("overwrite").parquet(tmp)
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)

    def _read_bucket(self, stage: str, bucket: int) -> DataFrame:
        return self.spark.read.parquet(self.stage_output_path(stage, bucket))

    def read_stage(self, stage: str) -> DataFrame:
        # one path per committed bucket: no ``bucket`` partition column.
        # The schema recorded at commit spares parquet's schema-inference
        # job (a log written before schemas were recorded still infers).
        rows = [r for r in map(json.loads, self._lineage_lines()) if r["stage"] == stage]
        reader = self.spark.read
        schemas = {r.get("schema") for r in rows}
        if len(schemas) == 1 and None not in schemas:
            reader = reader.schema(T.StructType.fromJson(json.loads(schemas.pop())))
        return reader.parquet(*[
            self.stage_output_path(stage, b)
            for b in sorted({r["partition_id"] for r in rows})])

    # -- stage run ----------------------------------------------------------

    def bucket_of(self, df: DataFrame) -> DataFrame:
        return df.withColumn(
            "_bucket", F.pmod(F.xxhash64(self.key_col), F.lit(self.n_buckets)).cast("int"))

    def run_stage(self, stage: str, inp: DataFrame, transform,
                  failure_col: str | None = None,
                  cross_bucket: bool = False) -> DataFrame:
        """Apply ``transform(df) -> df`` per uncommitted bucket; commit each
        bucket's output + lineage row; return the stage's full output.

        Restart-safe: committed buckets are skipped via lineage anti-join
        semantics (here: set difference on bucket ids, since buckets are
        the work granularity — the exact analog of done-flag hashes).

        Per-partition metrics (north rule "lineage + metrics"): each row
        carries doc_count, bytes (the sum of an ``n_chars`` column, when
        the output has one), elapsed wall seconds, docs/sec, and — when
        ``failure_col`` names a column whose NULLs mean a failed row —
        the failure count plus up to ``MAX_FAILURE_URLS`` failing keys
        (the reference's per-doc error tracking,
        olmocr/olmocr/pipeline.py:430-434).

        ``observe`` sits last, right above the write, so it runs in the
        write's result stage, where Spark applies each partition's update
        once even when a task is retried: the counts are exact.

        ``cross_bucket=True`` runs the transform over the FULL input as
        one committed unit (bucket 0) — for stages whose semantics span
        buckets (global dedup: a dup pair can straddle bucket keys).
        Resume granularity is the whole stage: committed -> skipped.
        """
        done = self.committed_buckets(stage)
        if cross_bucket:
            todo = [] if 0 in done else [0]
        else:
            bucketed = self.bucket_of(inp)
            todo = sorted(set(range(self.n_buckets)) - done)
        for b in todo:
            t0 = time.monotonic()
            part = inp if cross_bucket else \
                bucketed.where(F.col("_bucket") == b).drop("_bucket")
            out = transform(part)
            n_chars = F.col("n_chars") if "n_chars" in out.columns else F.lit(0)
            metrics = [F.count(F.lit(1)).alias("n"),
                       F.coalesce(F.sum(n_chars), F.lit(0)).alias("bytes")]
            if failure_col in out.columns:
                metrics.append(F.count(F.when(F.col(failure_col).isNull(), 1))
                               .alias("n_failed"))
            obs = Observation()
            self._write_bucket(stage, b, out.observe(obs, *metrics))
            m = obs.get
            n, n_failed = int(m["n"]), int(m.get("n_failed", 0))
            failure_urls: list[str] = []
            if n_failed and self.key_col in out.columns:
                failure_urls = [
                    r[self.key_col] for r in self._read_bucket(stage, b)
                    .where(F.col(failure_col).isNull())
                    .select(self.key_col).limit(MAX_FAILURE_URLS).collect()]
            elapsed = time.monotonic() - t0
            self._append_lineage([{
                "stage": stage, "partition_id": b,
                "doc_count": n, "bytes": int(m["bytes"]),
                "n_failed": n_failed, "failure_urls": failure_urls,
                "elapsed_sec": round(elapsed, 3),
                "docs_per_sec": round(n / elapsed, 2) if elapsed > 0 else 0.0,
                "committed_at": time.time(),
                "schema": out.schema.json(),
            }])
        return self.read_stage(stage)

    def throughput_report(self) -> DataFrame:
        """Per-stage docs/sec + failure totals from lineage rows — the
        MetricsKeeper analog (olmocr/olmocr/metrics.py:7-100, A12)."""
        lin = self.lineage()
        return (
            lin.groupBy("stage")
            .agg(F.sum("doc_count").alias("docs"),
                 F.sum("bytes").alias("bytes"),
                 F.sum("n_failed").alias("n_failed"),
                 F.sum("elapsed_sec").alias("cpu_stage_sec"),
                 F.round(F.sum("doc_count") / F.sum("elapsed_sec"), 2)
                 .alias("docs_per_sec_serial"))
        )

    def lineage(self) -> DataFrame:
        return self.spark.read.json(
            self.spark.sparkContext.parallelize(self._lineage_lines(), 1))
