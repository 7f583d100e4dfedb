"""Concurrent per-layer submission (``jobs.run_concurrently``).

Each medallion layer submits its independent table writes from a small
thread pool. These tests pin what that must not change: every job a
layer starts stays under the caller's job group (the benchmark tracer
and any caller's ``setJobGroup`` attribute jobs that way), a failing
task surfaces as the same exception the serial code raised, and the
layers stay strictly ordered.
"""

from __future__ import annotations

import shutil
import threading
import time
import uuid
from contextlib import contextmanager

import pytest
from pyspark.errors import AnalysisException

from test_pipeline_runner import data_dir  # noqa: F401  (pytest fixture)
from clinical_trials_data_pipeline_analyis_spark.config import PipelineConfig
from clinical_trials_data_pipeline_analyis_spark.jobs import run_concurrently
from clinical_trials_data_pipeline_analyis_spark.pipeline import (
    build_gold,
    build_silver,
    ingest_bronze,
    run_pipeline,
)
from clinical_trials_data_pipeline_analyis_spark.schemas import BRONZE_SCHEMAS
from clinical_trials_data_pipeline_analyis_spark.sources.csv import read_pipe_csv


def _marker(spark, group: str) -> list[int]:
    """Run one job under ``group`` and return its ids once the status
    store lists it as finished. Listener events are delivered in order,
    so every job submitted before the marker is in the store by then."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "marker")
    try:
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 60
    while time.monotonic() < deadline:
        ids = tracker.getJobIdsForGroup(group)
        infos = [tracker.getJobInfo(j) for j in ids]
        if ids and all(i is not None and i.status == "SUCCEEDED" for i in infos):
            return sorted(ids)
        time.sleep(0.05)
    raise AssertionError(f"marker job of {group} never reported finished")


@contextmanager
def job_window(spark, name: str):
    """Run the body under a fresh job group. Yields a dict that, on exit,
    holds ``grouped`` (the group's job ids) and ``seen`` (every job id the
    status store knows between two marker jobs around the body)."""
    sc = spark.sparkContext
    group = f"{name}-{uuid.uuid4().hex}"
    before = _marker(spark, f"{group}.before")
    jobs: dict[str, list[int]] = {}
    sc.setJobGroup(group, name)
    try:
        yield jobs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    after = _marker(spark, f"{group}.after")
    tracker = sc.statusTracker()
    jobs["grouped"] = sorted(tracker.getJobIdsForGroup(group))
    jobs["seen"] = [
        j for j in range(before[-1] + 1, after[0]) if tracker.getJobInfo(j) is not None
    ]


def test_layer_jobs_stay_in_caller_job_group(spark, data_dir, tmp_path):  # noqa: F811
    config = PipelineConfig(warehouse_dir=str(tmp_path / "wh"))
    layers = [
        ("bronze", lambda _: ingest_bronze(spark, str(data_dir), config)),
        ("silver", lambda bronze: build_silver(spark, bronze, config)),
        ("gold", lambda silver: build_gold(spark, silver, config)),
    ]
    out = None
    for name, layer in layers:
        with job_window(spark, name) as jobs:
            out = layer(out)
        assert jobs["grouped"], name
        assert jobs["grouped"] == jobs["seen"], name


def test_missing_extract_raises_serial_error_before_silver(
    spark, data_dir, tmp_path  # noqa: F811
):
    extracts = tmp_path / "extracts"
    shutil.copytree(data_dir, extracts)
    (extracts / "conditions.txt").unlink()
    with pytest.raises(AnalysisException) as serial:
        read_pipe_csv(
            spark, str(extracts / "conditions.txt"), BRONZE_SCHEMAS["conditions"]
        )

    wh = tmp_path / "wh"
    with pytest.raises(AnalysisException, match="conditions.txt") as got:
        run_pipeline(spark, str(extracts), PipelineConfig(warehouse_dir=str(wh)))
    assert got.type is serial.type
    assert (wh / "bronze").exists()
    assert not (wh / "silver").exists()


def test_run_concurrently_waits_then_raises_first_failure(spark):
    finished = threading.Event()

    def slow() -> str:
        time.sleep(0.3)
        finished.set()
        return "slow"

    def fail(exc: Exception):
        def task():
            raise exc

        return task

    first, second = ValueError("first"), KeyError("second")
    with pytest.raises(ValueError) as got:
        run_concurrently(
            spark, {"slow": slow, "a": fail(first), "b": fail(second)}
        )
    assert got.value is first
    assert finished.is_set()
    assert run_concurrently(spark, {"x": lambda: 1, "y": lambda: 2}) == {"x": 1, "y": 2}
