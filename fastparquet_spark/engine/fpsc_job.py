"""Distributed FPSC (own-format, FSST-enabled) encode/decode.

The parquet-compat jobs must stay inside the standard encoding set so
third-party readers accept the files (SURVEY.md §7.4); this job is the
other half of the dual-mode design: same planning/manifest/resume
contract, but the per-task payload is an FPSC container where string
columns may pick FSST (best-of vs plain+block codec).  Decode is ours
alone — ``read_fpsc`` distributes container paths and inflates them
inside Python workers (vectorized FSST expansion, no per-row Python).
"""

from __future__ import annotations

import json
import time
from collections.abc import Iterator

import pyarrow as pa

from fastparquet_spark.engine.commit import (
    TaskAttempt,
    manifest_struct,
    prepare_output,
    rechunk,
    run_task,
    u_join,
)
from fastparquet_spark.engine.encode_job import _salted


def pretrain_fpsc(sample: pa.Table, compression: str) -> tuple[dict, dict]:
    """Driver-side FSST pretraining on a small sample: one pass trains a
    symbol table per string column AND fixes fsst-vs-plain per column,
    so tasks skip training and the losing codec's full trial.  The
    escape byte keeps bytes unseen in the sample correct; only the ratio
    can drift.  Returns (tables, decisions) for :func:`fpsc_writer`."""
    from fastparquet_spark.format.container import decide_string_codecs

    tables: dict = {}
    return tables, decide_string_codecs(sample, tables,
                                        compression=compression)


def fpsc_writer(compression: str, bloom_filters: dict | None,
                pretrained: dict, decisions: dict | None):
    """One task's container write function ``(sink, table) -> {column:
    codec}``.  Columns without a pretrained table train one on their
    first container and keep it for the task's later containers."""
    from fastparquet_spark.format.container import write_container

    cache = dict(pretrained)

    def write(sink, tbl: pa.Table) -> dict:
        blocks = write_container(sink, tbl, compression=compression,
                                 fsst_cache=cache, bloom_filters=bloom_filters,
                                 codec_decisions=decisions)
        return {b.name: b.codec for b in blocks}

    return write


def encode_dataset_fpsc(spark, df, out_dir: str, *, compression: str = "ZSTD",
                        partition_cols=("repo", "lang"),
                        num_partitions: int | None = None,
                        salt_rows: int = 250_000, resume: bool = True,
                        rows_per_container: int = 1_000_000,
                        pretrain_rows: int = 2_000,
                        bloom_filters: dict | None = None):
    """Encode ``df`` into FPSC containers + manifests.

    Containers are written per ~``rows_per_container`` buffered rows, so
    task memory is bounded by the chunk, not the partition.

    FSST training is the expensive half of the string codec, and paying
    it once PER TASK dominated small-task encodes (~0.7s of a 0.9s
    task).  With ``pretrain_rows`` > 0 the driver trains the tables on a
    ``pretrain_rows`` sample (:func:`pretrain_fpsc`) and ships them to
    every task through the closure.  Set 0 to restore per-task training.

    All IO goes through the ``io.get_fs`` seam, so ``out_dir`` may be a
    ``file://``/``s3://``-style URI like every other engine path."""
    if num_partitions is None:
        num_partitions = max(spark.sparkContext.defaultParallelism, 1)
    prepare_output(out_dir, "part", {"num_partitions": num_partitions},
                   resume, "num_partitions")
    work = _salted(df, partition_cols, salt_rows, num_partitions)

    pretrained: dict = {}
    decisions: dict = {}
    if pretrain_rows:
        pretrained, decisions = pretrain_fpsc(
            df.limit(pretrain_rows).toArrow(), compression)

    out_dir_ = out_dir
    compression_ = compression
    resume_ = resume
    rows_per_ = rows_per_container
    pretrained_ = pretrained
    decisions_ = decisions
    bloom_ = bloom_filters

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow as pa_w
        from pyspark import TaskContext

        from fastparquet_spark.io import get_fs

        pa_w.set_cpu_count(1)
        ctx = TaskContext.get()
        pid = ctx.partitionId()
        att = TaskAttempt(get_fs(out_dir_), out_dir_, f"part-{pid:05d}",
                          ctx.taskAttemptId())

        def encode(att) -> list[dict]:
            write = fpsc_writer(compression_, bloom_, pretrained_, decisions_)
            task_start = time.perf_counter()
            rows: list[dict] = []
            for tbl in rechunk(batches, rows_per_):
                fname = f"part-{pid:05d}-{len(rows):03d}.fpsc"
                t0 = time.perf_counter()
                with att.stage(u_join(out_dir_, fname)) as sink:
                    cols = write(sink, tbl)
                    out_bytes = sink.tell()
                rows.append(
                    {"partition": pid, "file": fname, "rows": tbl.num_rows,
                     "input_bytes": tbl.nbytes, "output_bytes": out_bytes,
                     "encode_secs": 0.0,
                     "kernel_secs": time.perf_counter() - t0,
                     "skipped": False, "columns": json.dumps(cols)})
            total = time.perf_counter() - task_start
            for row in rows:
                row["encode_secs"] = total
            return rows

        yield from run_task(att, resume_, encode)

    return work.mapInArrow(run, manifest_struct())


def read_fpsc(spark, in_dir: str, schema=None, columns=None):
    """Distributed decode of an FPSC dataset back to a DataFrame:
    container paths fan out to tasks; each Python worker inflates its
    file with the vectorized decoders (FSST expansion, delta prefix-sum,
    validity reassembly).  The driver-side schema probe reads ONLY the
    first container's footer (never the data blocks), and listing goes
    through the fs seam so ``in_dir`` may be a URI.

    ``columns``: projection — workers make RANGED reads of only the
    requested columns' byte spans (footer offsets), the same IO
    contract as a parquet column-chunk scan."""
    from fastparquet_spark.engine.launch import map_units
    from fastparquet_spark.io import get_fs

    fs = get_fs(in_dir)
    files = sorted(p for p in fs.walk_files(in_dir) if p.endswith(".fpsc"))
    if schema is None:
        import pyarrow as pa_s
        from pyspark.sql.pandas.types import from_arrow_schema

        from fastparquet_spark.format.container import (
            _type_from_name, read_container_footer,
        )

        if not files:
            raise ValueError(f"no .fpsc files under {in_dir}")
        meta = read_container_footer(files[0], fs=fs)
        cms = meta["columns"]
        if columns is not None:
            by_name = {cm["name"]: cm for cm in cms}
            cms = [by_name[c] for c in columns]
        schema = from_arrow_schema(pa_s.schema(
            [(cm["name"], _type_from_name(cm["arrow_type"]))
             for cm in cms]))

    # task granularity: several container files per task, not one —
    # 100k single-file tasks would be pure scheduler overhead; 4x the
    # core count keeps every executor busy with work-stealing headroom
    # while the inflate loop streams file-by-file (bounded memory)
    n_parts = min(len(files), 4 * spark.sparkContext.defaultParallelism)

    def inflate(paths: Iterator[str]) -> Iterator[pa.RecordBatch]:
        import pyarrow as pa_w

        from fastparquet_spark.format.container import read_container

        pa_w.set_cpu_count(1)
        for path in paths:
            yield from read_container(path, columns=columns).to_batches()

    return map_units(spark, files, n_parts, inflate, schema)
