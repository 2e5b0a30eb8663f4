"""File-split encode job — the throughput path.

``encode_dataset`` (encode_job.py) clusters arbitrary DataFrames by
shuffling rows; that is correct when re-clustering is required, but at
100 TB you move the PLAN, not the data.  This job distributes
(file, row-group) SPLITS: the driver reads only footers, packs row
groups into splits, and each task's Python worker reads its split
directly with pyarrow's C++ parquet reader and runs the codec kernels —
source bytes never cross the JVM/Python boundary, so throughput scales
with cores instead of with the ``mapInArrow`` Arrow-IPC stream the
shuffle path feeds its workers through.

Skew handling here is plan-time: a mega-file contributes one split per
row group, so no task exceeds the row-group budget regardless of file
size — the moral equivalent of the shuffle path's salting.

Each split is one owner of the shared task-commit protocol
(engine/commit.py): deterministic split ids, one part file + one JSON
manifest per split, resume skips splits whose manifest exists.
"""

from __future__ import annotations

import json
import time
from collections.abc import Iterator
from functools import partial

import pyarrow as pa

from fastparquet_spark.engine.commit import (
    TaskAttempt,
    manifest_struct,
    prepare_output,
    run_task,
    u_join,
)
from fastparquet_spark.engine.fpsc_job import fpsc_writer, pretrain_fpsc
from fastparquet_spark.engine.launch import map_units


def _plan_split_job(input_dir: str, out_dir: str, rows_per_task: int,
                    resume: bool) -> list[dict]:
    """Plan the splits and prepare ``out_dir``; the plan identity is the
    split fingerprint — split ids shift if the input file set or
    rows_per_task changes between runs."""
    import hashlib

    splits = plan_splits(input_dir, rows_per_task)
    plan = {"fingerprint": hashlib.sha256(json.dumps(
        [(s["file"], s["row_groups"]) for s in splits],
        sort_keys=True).encode()).hexdigest(),
        "n_splits": len(splits)} if splits else None
    prepare_output(out_dir, "files", plan, resume, "split plan")
    return splits


def plan_splits(input_dir: str, rows_per_task: int = 2_000_000,
                fs=None) -> list[dict]:
    """Footer-only planning: pack row groups of all parquet files under
    ``input_dir`` into splits of ~rows_per_task rows.  Only metadata is
    read (the reference's `_metadata` trick, fastparquet/util.py:115-213,
    done with footers instead of a sidecar), and footers are fetched
    CONCURRENTLY (fastparquet/util.py:146-167) — a sequential driver
    loop over 100k object-store files burns minutes of idle cluster
    before the first task launches."""
    from fastparquet_spark.format.reader import read_footer_tail
    from fastparquet_spark.io import fetch_footers, get_fs

    fs = get_fs(input_dir, fs)
    if any(c in input_dir for c in "*?["):
        files = [p for p in fs.glob(input_dir) if p.endswith(".parquet")]
    else:
        # recursive walk: hive key=value inputs live in subdirectories
        prefix = input_dir.rstrip("/") + "/"
        files = [p for p in fs.walk_files(input_dir)
                 if p.endswith(".parquet")
                 and not any(seg.startswith(("_", "."))
                             for seg in p[len(prefix):].split("/"))]
    tails = fetch_footers(files, fs)
    splits: list[dict] = []
    cur_file, cur_rgs, cur_rows = None, [], 0

    def flush():
        nonlocal cur_rgs, cur_rows
        if cur_rgs:
            splits.append({"split": len(splits), "file": cur_file,
                           "row_groups": list(cur_rgs), "rows": cur_rows})
            cur_rgs, cur_rows = [], 0

    for path, tail in zip(files, tails):
        fmd = read_footer_tail(tail)
        if cur_file != path:
            flush()
            cur_file = path
        for rgi, rg in enumerate(fmd["row_groups"]):
            n = rg["num_rows"]
            if cur_rows and cur_rows + n > rows_per_task:
                flush()
            cur_rgs.append(rgi)
            cur_rows += n
    flush()
    return splits


def _run_splits(spark, splits: list[dict], input_dir: str, out_dir: str,
                ext: str, make_write, columns, resume: bool,
                preserve_layout: bool = False):
    """The split-task runner of both formats: each split is read with
    pyarrow, written by ``make_write()`` — one ``(sink, table) ->
    {column: encoding}`` function per task — and committed as owner
    ``part-<split>``.  Returns the manifest DataFrame."""
    prefix = input_dir.rstrip("/") + "/"
    columns_ = list(columns) if columns else None

    def run(splits_: Iterator[dict]) -> Iterator[pa.RecordBatch]:
        import pyarrow as pa_w
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        from fastparquet_spark.io import get_fs

        fs = get_fs(out_dir)
        attempt = TaskContext.get().taskAttemptId()
        # one Arrow thread per worker: N workers x default pool (ncpus)
        # oversubscribes the box N-fold and collapses kernel throughput
        pa_w.set_cpu_count(1)
        pa_w.set_io_thread_count(2)
        write = make_write()

        def encode(att, split) -> list[dict]:
            sid, fpath = split["split"], split["file"]
            fname = f"part-{sid:05d}{ext}"
            rel = fpath[len(prefix):]
            if preserve_layout and fpath.startswith(prefix) and "/" in rel:
                fname = f"{rel.rsplit('/', 1)[0]}/{fname}"
            t0 = time.perf_counter()
            tbl = pq.ParquetFile(fpath).read_row_groups(
                split["row_groups"], columns=columns_, use_threads=False)
            k0 = time.perf_counter()
            with att.stage(u_join(out_dir, fname)) as sink:
                cols = write(sink, tbl)
                out_bytes = sink.tell()
            now = time.perf_counter()
            return [{"partition": sid, "file": fname, "rows": tbl.num_rows,
                     "input_bytes": tbl.nbytes, "output_bytes": out_bytes,
                     "encode_secs": now - t0, "kernel_secs": now - k0,
                     "skipped": False, "columns": json.dumps(cols)}]

        for split in splits_:
            att = TaskAttempt(fs, out_dir, f"part-{split['split']:05d}",
                              attempt)
            yield from run_task(att, resume, partial(encode, split=split))

    # one split per task: rows_per_task already sized the work
    return map_units(spark, splits, len(splits), run, manifest_struct())


def _parquet_writer(**opts):
    from fastparquet_spark.format.writer import write_file

    def write(sink, tbl: pa.Table) -> dict:
        res = write_file(sink, tbl, **opts)
        return {c.name: c.encoding for c in res.columns}

    return write


def encode_files(spark, input_dir: str, out_dir: str, *,
                 compression: str = "ZSTD", columns=None,
                 rows_per_task: int = 2_000_000, resume: bool = True,
                 encodings: dict | None = None, preserve_layout: bool = False,
                 bloom_filters: dict | None = None,
                 page_rows: int | None = None,
                 compat: str = "reference"):
    """Encode every parquet file under ``input_dir`` into ``out_dir``
    (our writer, auto-selected codecs), distributing (file, row-group)
    splits.  Returns the manifest DataFrame.

    ``preserve_layout=True`` mirrors each input file's directory (e.g.
    hive ``key=value`` partitions) under ``out_dir``, so a partitioned
    input re-encodes into an equally partition-prunable output without
    any shuffle — the plan moves, the clustering stays."""
    splits = _plan_split_job(input_dir, out_dir, rows_per_task, resume)
    make_write = partial(_parquet_writer, compression=compression,
                         encodings=encodings, bloom_filters=bloom_filters,
                         page_rows=page_rows, compat=compat)
    return _run_splits(spark, splits, input_dir, out_dir, ".parquet",
                       make_write, columns, resume, preserve_layout)


def encode_files_fpsc(spark, input_dir: str, out_dir: str, *,
                      compression: str = "ZSTD", columns=None,
                      rows_per_task: int = 2_000_000, resume: bool = True,
                      pretrain_rows: int = 2_000,
                      bloom_filters: dict | None = None):
    """FPSC-container twin of :func:`encode_files` — the container
    format's THROUGHPUT path.  Same split planning (footer-only, plan
    moves not data), same manifest/resume contract, but each worker
    writes an ``.fpsc`` container (FSST-enabled best-of codecs) instead
    of parquet.  FSST symbol tables are trained ONCE on the driver from
    a small pyarrow sample (:func:`fpsc_job.pretrain_fpsc`) and shipped
    through the closure, so tasks never pay the training cost."""
    splits = _plan_split_job(input_dir, out_dir, rows_per_task, resume)
    pretrained: dict = {}
    decisions: dict = {}
    if splits and pretrain_rows:
        import pyarrow.parquet as pq_d

        # stream only ~pretrain_rows rows — read_row_group would
        # materialize up to rows_per_task rows on the DRIVER just to
        # slice 2000
        first = pq_d.ParquetFile(splits[0]["file"])
        batch = next(first.iter_batches(batch_size=pretrain_rows,
                                        columns=columns,
                                        use_threads=False))
        pretrained, decisions = pretrain_fpsc(
            pa.Table.from_batches([batch]), compression)
    make_write = partial(fpsc_writer, compression, bloom_filters,
                         pretrained, decisions)
    return _run_splits(spark, splits, input_dir, out_dir, ".fpsc",
                       make_write, columns, resume)
