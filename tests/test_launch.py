"""Executor launch: ``engine.launch.map_units`` and the jobs built on it."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_jobs_launch_from_range_with_unchanged_task_counts(spark, tmp_path):
    """encode_files, paged_read and read_fpsc start their Python tasks
    from a JVM Range, not a parallelized Python RDD (a second Python
    worker per task), with one task per split and min(units, 4 x
    parallelism) tasks per scan."""
    from fastparquet_spark.engine import encode_files, paged_read
    from fastparquet_spark.engine.fpsc_job import read_fpsc
    from fastparquet_spark.format.container import write_container

    src = tmp_path / "src"
    src.mkdir()
    pq.write_table(pa.table({"x": pa.array(range(300), pa.int64())}),
                   str(src / "a.parquet"), row_group_size=100)
    cap = 4 * spark.sparkContext.defaultParallelism

    enc = encode_files(spark, str(src), str(tmp_path / "enc"),
                       rows_per_task=100, resume=False)
    scan = paged_read(spark, str(src), [("x", ">=", 0)])
    for i in range(cap + 1):
        write_container(str(tmp_path / f"c{i:03d}.fpsc"),
                        pa.table({"x": pa.array([i], pa.int64())}))
    fpsc = read_fpsc(spark, str(tmp_path))
    for df, n_parts in ((enc, 3), (scan, 1), (fpsc, cap)):
        plan = _plan(df)
        assert "Range (" in plan and "ExistingRDD" not in plan, plan
        assert df.rdd.getNumPartitions() == n_parts
    assert enc.count() == 3 and scan.count() == 300
    assert sorted(r.x for r in fpsc.collect()) == list(range(cap + 1))


def test_task_payload_is_constant_in_units(spark, monkeypatch):
    """Units reach the tasks by broadcast: the pickled task function of
    100k units stays small, and every unit lands in exactly one task,
    in contiguous slices."""
    from pyspark.serializers import CloudPickleSerializer

    from fastparquet_spark.engine.launch import map_units

    captured = []
    frame = type(spark.range(0))
    real = frame.mapInArrow

    def spy(self, func, schema, *args, **kwargs):
        captured.append(func)
        return real(self, func, schema, *args, **kwargs)

    monkeypatch.setattr(frame, "mapInArrow", spy)

    def tag(units):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        for u in units:
            yield pa.record_batch({"part": pa.array([pid], pa.int64()),
                                   "unit": pa.array([u["split"]], pa.int64())})

    big = [{"split": i, "file": f"/data/in/part-{i:06d}.parquet",
            "row_groups": [0, 1, 2], "rows": 2_000_000}
           for i in range(100_000)]
    map_units(spark, big, 8, tag, "part long, unit long")
    assert len(CloudPickleSerializer().dumps(captured[-1])) < 64 * 1024

    rows = map_units(spark, big[:10], 3, tag,
                     "part long, unit long").collect()
    assert sorted(r.unit for r in rows) == list(range(10))
    parts = [r.part for r in sorted(rows, key=lambda r: r.unit)]
    assert parts == sorted(parts) and len(set(parts)) == 3


def test_empty_unit_list_gives_typed_empty_frame(spark):
    from fastparquet_spark.engine.launch import map_units

    def never(units):
        raise AssertionError("no task should run a unit")
        yield  # pragma: no cover

    df = map_units(spark, [], 0, never, "a long, b string")
    assert df.schema.simpleString() == "struct<a:bigint,b:string>"
    assert df.collect() == []


def test_paged_read_multi_unit_tasks_return_every_row_once(spark, tmp_path):
    """More files than 4 x parallelism: tasks hold several units each."""
    from fastparquet_spark.engine import paged_read
    from fastparquet_spark.format import write_file

    n_files = 4 * spark.sparkContext.defaultParallelism + 3
    for i in range(n_files):
        write_file(str(tmp_path / f"part-{i:03d}.parquet"),
                   pa.table({"id": pa.array(range(i * 7, i * 7 + 7),
                                            pa.int64())}))
    df = paged_read(spark, str(tmp_path), None)
    assert df.rdd.getNumPartitions() < n_files
    assert sorted(r.id for r in df.collect()) == list(range(n_files * 7))
