"""Concurrent submission of independent Spark actions.

A medallion layer writes several small tables that do not read each
other. Run one after another, each is a one-task job plus driver-side
planning and commit, so the rebuild leaves most cores idle. Submitting
them from a few driver threads at once lets the scheduler fill the
cores; the work each action does is unchanged.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from typing import Callable, TypeVar

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession

T = TypeVar("T")


def run_concurrently(
    spark: SparkSession, tasks: dict[str, Callable[[], T]]
) -> dict[str, T]:
    """Run every task at once and return their results by name.

    The pool is as wide as the cluster's default parallelism (never
    wider than the task count): more driver threads than cores only
    raise peak memory. Each task is wrapped in the calling thread, so
    the jobs it starts keep the caller's job group and local
    properties. Every task is waited for; then the first failure, in
    ``tasks`` order, is re-raised unchanged.
    """
    width = min(len(tasks), spark.sparkContext.defaultParallelism)
    with ThreadPoolExecutor(max_workers=width) as pool:
        futures = {
            name: pool.submit(inheritable_thread_target(spark)(task))
            for name, task in tasks.items()
        }
    return {name: future.result() for name, future in futures.items()}
