"""Cohort pipelines: thin compositions of sources → fhirize → joins →
sinks. Each stage communicates through the filesystem (the reference's
restartable file-handoff design, SURVEY.md §3.1) so every stage is
independently re-runnable."""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from typing import Any

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession


def run_concurrently(spark: SparkSession, calls: dict[str, Callable[[], Any]]) -> dict[str, Any]:
    """Run the independent zero-argument ``calls`` of one stage at once, one
    thread per call, and return their results in ``calls``' order.

    A stage's sink jobs are each driver-bound planning plus a short, mostly
    single-task job, so run one after another they leave the cores idle.
    Each call is wrapped in ``inheritable_thread_target(spark)``: the jobs
    it starts carry the calling thread's job group, description and tags.
    Every call runs to its end; then the first error in ``calls``' order is
    raised."""
    with ThreadPoolExecutor(max_workers=len(calls)) as pool:
        futures = {
            key: pool.submit(inheritable_thread_target(spark)(call))
            for key, call in calls.items()
        }
    return {key: future.result() for key, future in futures.items()}
