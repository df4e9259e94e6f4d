"""Counting and timing a block of Spark work.

``span(spark)`` measures what a ``with`` block cost: the Spark jobs and
stages scheduled while it ran, the generated classes compiled, and its wall
time.  The DAG scheduler hands out job and stage ids in order, so the block
used exactly the ids between the marks taken on entry and on exit.  The
count is exact however many jobs the status store has dropped (it keeps
``spark.ui.retainedJobs`` of them), and it includes the jobs that other
threads start meanwhile, such as a stream's micro-batches.

``compiles`` is the change in the count of Spark's codegen compilation-time
histogram, which records one sample per class Janino compiles; a class
served from the generated-code cache adds none.  Only the count is exact:
the histogram's times are a decaying reservoir sample.  Like the ids, the
count is JVM-wide.
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
    compiles: int = 0
    wall_s: float = 0.0


@contextmanager
def span(spark: SparkSession) -> Iterator[Span]:
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    rec = Span()
    jobs, stages = dag.nextJobId(), dag.nextStageId()
    compiles = codegen.METRIC_COMPILATION_TIME().getCount()
    t0 = time.perf_counter()
    try:
        yield rec
    finally:
        rec.wall_s = time.perf_counter() - t0
        rec.jobs = dag.nextJobId() - jobs
        rec.stages = dag.nextStageId() - stages
        rec.compiles = codegen.METRIC_COMPILATION_TIME().getCount() - compiles
