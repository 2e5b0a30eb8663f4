"""Launch executor work over a driver-planned list of units."""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

import pyarrow as pa


def map_units(spark, units: list, n_parts: int,
              fn: Callable[[Iterator], Iterable[pa.RecordBatch]], schema):
    """DataFrame of ``schema`` holding the batches ``fn`` yields.

    Task i passes ``fn`` one iterator over the contiguous slice of
    ``units`` that ``spark.range(0, len(units), 1, n_parts)`` puts in
    partition i, so per-task set-up stays in ``fn``.

    The tasks launch from a JVM ``Range``: a parallelized Python RDD
    under ``mapInArrow`` would run a second Python worker in every task,
    and each Python task pays pyspark's worker set-up (about 0.2 CPU-s
    on a 4-CPU box) before user code runs.  ``units`` travel by
    broadcast, which a worker process loads once; in the closure they
    would be unpickled again by every task.  The broadcast is never
    destroyed, since the frame, or one derived from it, may run again
    at any time; its driver file stays until the SparkContext stops.
    No units gives the typed empty frame without calling a Python
    worker."""
    bc = spark.sparkContext.broadcast(units)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        mine = bc.value
        yield from fn(mine[i] for b in batches
                      for i in b.column("id").to_pylist())

    return spark.range(0, len(units), 1, max(n_parts, 1)).mapInArrow(
        run, schema)
