"""The benchmark's forcing query must compute every output column.

    python3 -m pytest perfbench/test_forcing.py -q

A count() over the documents frame lets Catalyst prune the quality and
language columns, which are most of the documents stage's cost; the
digests the benchmark collects keep them.
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import inputs  # noqa: E402
from perfbench.workloads import force_exprs  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    from deepseek_ocr_omnidocbench_spark.session import get_spark

    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    s = get_spark(app_name="perfbench-tests", cores=2)
    yield s
    s.stop()


def _frame(spark, rows):
    from deepseek_ocr_omnidocbench_spark.sources.pages import PAGES_ARROW_SCHEMA

    return spark.createDataFrame(
        pa.Table.from_pylist(rows, schema=PAGES_ARROW_SCHEMA).to_pandas())


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _forced_names(df, key):
    return df.select(*force_exprs(df, key)).columns


def test_extract_output_is_forced(spark):
    from deepseek_ocr_omnidocbench_spark.plans.extract_pipeline import run_pipeline_inline
    from deepseek_ocr_omnidocbench_spark.sources.pages import generate_pages

    docs = run_pipeline_inline(_frame(spark, generate_pages(12, seed=5)), salt_buckets=2)
    assert _forced_names(docs, "url") == ["_key"] + ["h_" + c for c in docs.columns]
    # the language-ID cascade and quality ratios survive optimization
    # only when the query uses their columns
    forced = _optimized(docs.select(*force_exprs(docs, "url")))
    counted = _optimized(docs.agg(F.count(F.lit(1))))
    for marker in ("regexp_replace", "unknown"):
        assert marker in forced
        assert marker not in counted


def test_curate_output_is_forced(spark):
    from deepseek_ocr_omnidocbench_spark.plans.curate import run_curation_inline
    from deepseek_ocr_omnidocbench_spark.plans.extract_pipeline import run_pipeline_inline

    docs = run_pipeline_inline(_frame(spark, inputs.curate_pages(40, seed=3)))
    out = run_curation_inline(docs)
    assert _forced_names(out, "doc_id") == ["_key"] + ["h_" + c for c in out.columns]
    rows = out.select(*force_exprs(out, "doc_id")).collect()
    assert rows and all(r["_key"] is not None for r in rows)


def test_curate_corpus_is_seeded():
    a = inputs.curate_pages(60, seed=9)
    assert a == inputs.curate_pages(60, seed=9)
    assert a != inputs.curate_pages(60, seed=10)


def test_benchmark_json_matches_the_code():
    import json

    from perfbench import run
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.LAYER_UNITS
