"""Shared fixtures: one SparkSession per test session (local mode)."""

from __future__ import annotations

import os

import pytest


@pytest.fixture(scope="session")
def spark():
    from deepseek_ocr_omnidocbench_spark.session import get_spark

    # one task slot per CPU this process may use; shuffle partitions stay
    # at 8 so plan-shape tests see the same partition counts on any host
    spark = get_spark(app_name="tests", cores=len(os.sched_getaffinity(0)),
                      shuffle_partitions=8)
    yield spark
    spark.stop()
