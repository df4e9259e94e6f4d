"""Counting and timing a block of Spark work.

``span(spark)`` measures what a ``with`` block cost: the Spark jobs and
stages scheduled while it ran, and its wall time.  The DAG scheduler hands
out job and stage ids in order, so the block used exactly the ids between
the marks taken on entry and on exit.  The count is exact however many jobs
the status store has dropped (it keeps ``spark.ui.retainedJobs`` of them),
and it includes the jobs that other threads start meanwhile, such as a
stream's micro-batches.
"""

from __future__ import annotations

import time
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import SparkSession


@dataclass
class Span:
    """What a ``span`` block cost; filled when the block exits."""

    jobs: int = 0
    stages: int = 0
    wall_s: float = 0.0


@contextmanager
def span(spark: SparkSession) -> Iterator[Span]:
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    rec = Span()
    jobs, stages = dag.nextJobId(), dag.nextStageId()
    t0 = time.perf_counter()
    try:
        yield rec
    finally:
        rec.wall_s = time.perf_counter() - t0
        rec.jobs = dag.nextJobId() - jobs
        rec.stages = dag.nextStageId() - stages
