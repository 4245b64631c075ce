"""The checkpoint loop's store contract: one Spark job per bucket, exact
failure counts with a capped key sample, a lineage log that ignores
unpublished files, and checkpointed output equal to the inline run."""

import os

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from deepseek_ocr_omnidocbench_spark.plans.extract_pipeline import (
    run_pipeline,
    run_pipeline_inline,
)
from deepseek_ocr_omnidocbench_spark.sources.lineage import (
    MAX_FAILURE_URLS,
    StageCheckpoint,
)
from deepseek_ocr_omnidocbench_spark.sources.pages import (
    PAGES_ARROW_SCHEMA,
    generate_pages,
)


@pytest.fixture(scope="module")
def pages_df(spark):
    rows = generate_pages(100, seed=21)
    pdf = pa.Table.from_pylist(rows, schema=PAGES_ARROW_SCHEMA).to_pandas()
    return spark.createDataFrame(pdf).cache()


def test_one_job_per_bucket(spark, pages_df, tmp_path, monkeypatch):
    """A shuffle-free transform commits each bucket in exactly one job:
    the counts ride on the write, nothing reads the bucket back."""
    pages_df.count()  # materialize the cache outside the counted group
    ck = StageCheckpoint(spark, str(tmp_path), n_buckets=4)
    monkeypatch.setattr(ck, "read_stage", lambda stage: None)
    sc = spark.sparkContext
    group = "one-job-per-bucket-%d" % os.getpid()
    sc.setJobGroup(group, "run_stage job count")
    try:
        ck.run_stage("ident", pages_df,
                     lambda df: df.select("url", F.length("html").alias("n_chars")),
                     failure_col="url")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 4
    monkeypatch.undo()
    lin = ck.lineage().collect()
    assert sum(r["doc_count"] for r in lin) == 100
    assert sum(r["bytes"] for r in lin) == \
        pages_df.agg(F.sum(F.length("html"))).first()[0]
    assert all(r["n_failed"] == 0 and r["failure_urls"] == [] for r in lin)


def test_failure_urls_are_capped_not_the_count(spark, pages_df, tmp_path):
    ck = StageCheckpoint(spark, str(tmp_path), n_buckets=1)
    ck.run_stage("all_fail", pages_df,
                 lambda df: df.select("url", F.lit(None).cast("string").alias("md")),
                 failure_col="md")
    (row,) = ck.lineage().collect()
    assert row["n_failed"] == 100
    assert len(row["failure_urls"]) == MAX_FAILURE_URLS
    assert len(set(row["failure_urls"])) == MAX_FAILURE_URLS


def test_empty_buckets_commit_zero_rows(spark, tmp_path):
    """More buckets than rows: the empty buckets still commit a lineage
    row with zero counts, and the stage reads back whole."""
    df = spark.createDataFrame([("u%d" % i,) for i in range(3)], "url string")
    ck = StageCheckpoint(spark, str(tmp_path), n_buckets=16)
    out = ck.run_stage("sparse", df, lambda d: d, failure_col="url")
    lin = ck.lineage().collect()
    assert len(lin) == 16
    assert sum(r["doc_count"] for r in lin) == 3
    assert sorted(r["url"] for r in out.collect()) == ["u0", "u1", "u2"]


def _partial_tmp(root):
    lin_dir = os.path.join(root, "lineage")
    os.makedirs(lin_dir, exist_ok=True)
    with open(os.path.join(lin_dir, "lineage-1-1.json.tmp"), "w") as f:
        f.write('{"stage": "s", "partit')  # killed mid-append


def test_partial_lineage_tmp_alone_is_ignored(spark, pages_df, tmp_path):
    """A kill during the lineage append leaves only a partial .json.tmp:
    the restart must see no committed bucket and run normally."""
    root = str(tmp_path)
    _partial_tmp(root)
    ck = StageCheckpoint(spark, root, n_buckets=2)
    assert ck.committed_buckets("s") == set()
    out = ck.run_stage("s", pages_df, lambda df: df.select("url"))
    assert out.count() == 100


def test_partial_lineage_tmp_beside_published_is_ignored(spark, pages_df,
                                                         tmp_path):
    root = str(tmp_path)
    ck = StageCheckpoint(spark, root, n_buckets=2)
    ck.run_stage("s", pages_df, lambda df: df.select("url"))
    _partial_tmp(root)
    lin = ck.lineage()
    assert "_corrupt_record" not in lin.columns
    assert lin.count() == 2
    rep = ck.throughput_report().collect()
    assert [(r["stage"], r["docs"]) for r in rep] == [("s", 100)]


def test_checkpointed_pipeline_equals_inline(spark, pages_df, tmp_path):
    """No partition column leaks from the bucket directories: the
    checkpointed run returns the inline run's columns and rows."""
    ck = run_pipeline(spark, pages_df, str(tmp_path), n_buckets=2)
    inline = run_pipeline_inline(pages_df)
    assert ck.columns == inline.columns
    key = lambda df: sorted(map(tuple, df.collect()), key=repr)  # noqa: E731
    assert key(ck) == key(inline)


def test_resume_with_nothing_to_recompute_runs_no_job(spark, pages_df, tmp_path):
    """Each stage is read back with the schema its lineage rows recorded,
    so a resume over a fully committed root starts no Spark job before
    the caller's first action, and returns the first run's rows."""
    first = run_pipeline(spark, pages_df, str(tmp_path), n_buckets=2)
    want = sorted(map(tuple, first.collect()), key=repr)
    sc = spark.sparkContext
    group = "no-op-resume-%d" % os.getpid()
    sc.setJobGroup(group, "resume job count")
    try:
        again = run_pipeline(spark, pages_df, str(tmp_path), n_buckets=2)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert again.schema == first.schema
    assert sorted(map(tuple, again.collect()), key=repr) == want
