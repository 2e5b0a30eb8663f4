"""Per-layer probes for the traced run.

Each probe times calls into one layer's public functions from outside,
on one fixed sample of the seeded source-code table (the rows
scan-mixed reads), so every traced run reports the same layer metrics
whatever its workload.  A probe repeats ``reps`` times and reports
medians; every decoded result is checked against the sample, and a
mismatch is returned as a failure.

The lookup dataset layout and the lookup mix are defined here once and
shared with scan-mixed, so the ``format.dataset`` figures describe the
files and the lookups that workload times.
"""

from __future__ import annotations

import io as _io
import os
import random
import shutil
import time

import numpy as np
import pyarrow as pa

from harness import median

# the lookup datasets: one file per slice, a ColumnIndex every
# PAGE_ROWS rows and a bloom filter on the unsorted unique ``path``
PAGE_ROWS = 1_000
BLOOM = {"path": 0.01}
# one round of lookups: a quarter of the bloom lookups ask for an
# absent path
LOOKUPS = (("lookup_key", False),) * 4 + (("lookup_bloom", False),) * 3 + (
    ("lookup_bloom", True),)
PROBE_LOOKUPS = 3 * len(LOOKUPS)


def _timed(fn, *a, **kw):
    t0 = time.perf_counter()
    out = fn(*a, **kw)
    return out, time.perf_counter() - t0


def sample_table(rows: int, seed: int) -> pa.Table:
    """The first ``rows`` rows of the seeded source table, plus a sorted
    unique ``id`` column for key lookups."""
    from fastparquet_spark.engine.datagen import synthetic_arrow_table

    tbl = synthetic_arrow_table(rows, seed=seed)
    return tbl.append_column("id", pa.array(np.arange(rows, dtype=np.int64)))


def _codecs(tbl: pa.Table, tracer) -> tuple[dict, dict, dict, list[str]]:
    """One pass of the codec kernels over the sample's string columns,
    each column through the kernels its selected encoding uses."""
    from fastparquet_spark.codecs import (
        compress, decompress, delta_encode, dict_build, dict_data_page,
        encode_hybrid, fsst_decode, fsst_encode, fsst_train,
        pack_byte_array, width_from_max_int,
    )
    from fastparquet_spark.codecs.compression import codec_id
    from fastparquet_spark.codecs.plain import BYTE_ARRAY
    from fastparquet_spark.codecs.selection import (
        Encoding, choose_encoding, column_stats_arrow,
    )
    from fastparquet_spark.format.writer import _binary_parts

    zstd = codec_id("ZSTD")
    t = dict.fromkeys(("select", "dict", "hybrid", "plain", "delta",
                       "fsst_train", "fsst_encode", "fsst_decode",
                       "compress", "decompress"), 0.0)
    b = {k: [0, 0] for k in t}  # bytes in, bytes out
    mix = {"dict": 0, "plain": 0, "delta": 0}
    failures: list[str] = []
    for name in ("repo", "path", "commit", "lang", "content"):
        arr = tbl.column(name).combine_chunks()
        lengths, data = _binary_parts(arr)
        with tracer.span("codecs.select"):
            enc, s = _timed(lambda: choose_encoding(column_stats_arrow(arr),
                                                    BYTE_ARRAY))
        t["select"] += s
        if enc == Encoding.PLAIN_DICTIONARY:
            mix["dict"] += 1
            with tracer.span("codecs.dict"):
                (codes, labels), s1 = _timed(dict_build, arr)
                page, s2 = _timed(dict_data_page, codes, len(labels))
            t["dict"] += s1 + s2
            b["dict"][0] += int(data.nbytes)
            b["dict"][1] += len(page)
            width = max(1, width_from_max_int(max(len(labels) - 1, 0)))
            with tracer.span("codecs.hybrid"):
                hyb, s = _timed(encode_hybrid, codes.astype(np.uint64), width)
            t["hybrid"] += s
            b["hybrid"][0] += int(codes.nbytes)
            b["hybrid"][1] += len(hyb)
            body = page
        else:
            mix["delta" if enc == Encoding.DELTA_BINARY_PACKED
                else "plain"] += 1
            with tracer.span("codecs.plain"):
                body, s = _timed(pack_byte_array, lengths, data)
            t["plain"] += s
            b["plain"][0] += int(data.nbytes)
            b["plain"][1] += len(body)
        with tracer.span("codecs.compress"):
            z, s = _timed(compress, bytes(body), zstd)
        t["compress"] += s
        b["compress"][0] += len(body)
        b["compress"][1] += len(z)
        with tracer.span("codecs.decompress"):
            back, s = _timed(decompress, z, zstd, len(body))
        t["decompress"] += s
        b["decompress"][0] += len(z)
        b["decompress"][1] += len(back)
        if bytes(back) != bytes(body):
            failures.append(f"decompress({name}) differs")

    lengths, data = _binary_parts(tbl.column("content").combine_chunks())
    with tracer.span("codecs.delta"):
        d, s = _timed(delta_encode, lengths)
    t["delta"] += s
    b["delta"] = [int(lengths.nbytes), len(d)]
    with tracer.span("codecs.fsst_train"):
        ftab, t["fsst_train"] = _timed(fsst_train, data)
    b["fsst_train"] = [int(data.nbytes), len(ftab.serialize())]
    with tracer.span("codecs.fsst_encode"):
        blob, t["fsst_encode"] = _timed(fsst_encode, data, ftab)
    b["fsst_encode"] = [int(data.nbytes), len(blob)]
    with tracer.span("codecs.fsst_decode"):
        dec, t["fsst_decode"] = _timed(fsst_decode, blob, ftab)
    b["fsst_decode"] = [len(blob), int(np.asarray(dec).nbytes)]
    if not np.array_equal(np.asarray(dec, dtype=np.uint8), data):
        failures.append("fsst round trip differs")
    return t, b, mix, failures


def _format_io(tbl: pa.Table, work: str, tracer) -> tuple[dict, list[str]]:
    from fastparquet_spark.format.container import (
        read_container, write_container,
    )
    from fastparquet_spark.format.reader import read_file
    from fastparquet_spark.format.writer import write_file
    from fastparquet_spark.io import get_fs

    src = tbl.drop_columns(["id"])
    out: dict = {}
    failures: list[str] = []
    sink = _io.BytesIO()
    with tracer.span("format.writer.write_file"):
        _, out["write_file_s"] = _timed(write_file, sink, src,
                                        compression="ZSTD")
    pq_bytes = sink.getvalue()
    with tracer.span("format.reader.read_file"):
        back, out["read_file_s"] = _timed(read_file, _io.BytesIO(pq_bytes))
    if not back.equals(src):
        failures.append("format.reader.read_file differs from the sample")
    csink = _io.BytesIO()
    with tracer.span("format.container.write_container"):
        _, out["write_container_s"] = _timed(write_container, csink, src,
                                             compression="ZSTD",
                                             fsst_cache={})
    with tracer.span("format.container.read_container"):
        cback, out["read_container_s"] = _timed(read_container,
                                                csink.getvalue())
    if not cback.equals(src):
        failures.append("format.container.read_container differs")

    fs = get_fs(work)
    final = os.path.join(work, "publish.parquet")
    stage = final + ".stage"
    with tracer.span("io.publish"):
        t0 = time.perf_counter()
        with fs.open_write(stage) as fh:
            fh.write(pq_bytes)
        fs.replace(stage, final)
        out["publish_s"] = time.perf_counter() - t0
    out["bytes_written"] = fs.size(final)
    out["source_bytes"] = src.nbytes
    fs.remove(final)
    return out, failures


def absent_path(k: int, n: int) -> str:
    """A path shaped like the table's, never present in its n rows."""
    return f"src/mod_{k % 211}/file_{n + k}"


def lookup_clause(kind: str, absent: bool, k: int, ids, paths,
                  n: int) -> tuple[list, bool]:
    """(clause, whether row k answers it) of one lookup.  ``lookup_key``
    asks for the sorted ``id``, where stats and ColumnIndex prune;
    ``lookup_bloom`` for the unsorted ``path``, where only the bloom
    filter can rule out an absent value inside the min/max range."""
    if kind == "lookup_key":
        return [("id", "==", ids[k])], True
    if absent:
        return [("path", "==", absent_path(k, n))], False
    return [("path", "==", paths[k])], True


def _write_probe_dataset(tbl: pa.Table, ds: str, files: int) -> None:
    """The sample as ``files`` contiguous slices, written with the
    options scan-mixed's ``encode_files`` passes to the writer."""
    from fastparquet_spark.format.writer import write_file

    os.makedirs(ds)
    per = -(-tbl.num_rows // files)
    for i in range(files):
        write_file(os.path.join(ds, f"part-{i:05d}.parquet"),
                   tbl.slice(i * per, per), compression="ZSTD",
                   page_rows=PAGE_ROWS, bloom_filters=BLOOM)


def _dataset(tbl: pa.Table, work: str, seed: int, files: int,
             tracer) -> tuple[dict, list[str]]:
    from fastparquet_spark.format.dataset import (
        filter_pages, filter_row_groups, load_dataset_metas, read_pages,
    )

    ds = os.path.join(work, "probe-dataset")
    shutil.rmtree(ds, ignore_errors=True)
    _write_probe_dataset(tbl, ds, files)
    ids = tbl.column("id").to_pylist()
    paths = tbl.column("path").to_pylist()
    n = tbl.num_rows
    rnd = random.Random(seed)
    t = dict.fromkeys(("load_metas", "filter_row_groups", "filter_pages",
                       "read_pages"), 0.0)
    rg_total = rg_kept = stats_kept = 0
    rows_in_rgs = rows_in_pages = rows_decoded = rows_useful = 0
    failures: list[str] = []
    for i in range(PROBE_LOOKUPS):
        kind, absent = LOOKUPS[i % len(LOOKUPS)]
        k = rnd.randrange(n)
        clause, hit = lookup_clause(kind, absent, k, ids, paths, n)
        want = int(hit)
        with tracer.span("format.dataset.load_metas", op=f"probe-{i}"):
            (root, metas), s = _timed(load_dataset_metas, ds)
        t["load_metas"] += s
        rg_total += sum(len(m["fmd"]["row_groups"]) for m in metas)
        with tracer.span("format.dataset.filter_row_groups", op=f"probe-{i}"):
            kept, s = _timed(filter_row_groups, root, [clause], metas=metas)
        t["filter_row_groups"] += s
        rg_kept += len(kept)
        stats_kept += len(filter_row_groups(root, [clause], metas=metas,
                                            use_bloom=False))
        by_file: dict[str, list[int]] = {}
        for f, ri in kept:
            by_file.setdefault(f, []).append(ri)
        got = 0
        for f, ris in by_file.items():
            path = os.path.join(root, f)
            fmd = next(m["fmd"] for m in metas if m["file"] == f)
            rows_in_rgs += sum(fmd["row_groups"][ri]["num_rows"] for ri in ris)
            with tracer.span("format.dataset.filter_pages", op=f"probe-{i}"):
                ranges, s = _timed(filter_pages, path, [clause])
            t["filter_pages"] += s
            rows_in_pages += sum(r[2] for r in ranges if r[0] in ris)
            with tracer.span("format.dataset.read_pages", op=f"probe-{i}"):
                sup, s = _timed(read_pages, path, [clause],
                                columns=["id", "path"], row_groups=ris)
            t["read_pages"] += s
            rows_decoded += sup.num_rows
            exact = read_pages(path, [clause], columns=["id", "path"],
                               exact=True, row_groups=ris)
            got += exact.num_rows
        rows_useful += got
        if got != want:
            failures.append(f"probe lookup {clause} returned {got} rows, "
                            f"expected {want}")
    shutil.rmtree(ds, ignore_errors=True)
    out = {f"{k}_s": v / PROBE_LOOKUPS for k, v in t.items()}
    out["rg_kept_ratio"] = rg_kept / max(rg_total, 1)
    out["bloom_ruled_out_ratio"] = (stats_kept - rg_kept) / max(stats_kept, 1)
    out["pages_kept_ratio"] = rows_in_pages / max(rows_in_rgs, 1)
    out["rows_useful_ratio"] = rows_useful / max(rows_decoded, 1)
    return out, failures


def probe_layers(tbl: pa.Table, work: str, seed: int, files: int, tracer,
                 reps: int = 3) -> tuple[dict, dict, list[str]]:
    """(per-layer metrics, per-kernel bytes and MB/s, failures)."""
    os.makedirs(work, exist_ok=True)
    runs = []
    failures: list[str] = []
    for _ in range(reps):
        with tracer.span("probe.codecs", op="probe"):
            ct, cb, mix, f1 = _codecs(tbl, tracer)
        with tracer.span("probe.format_io", op="probe"):
            fo, f2 = _format_io(tbl, work, tracer)
        with tracer.span("probe.dataset", op="probe"):
            dsm, f3 = _dataset(tbl, work, seed, files, tracer)
        runs.append((ct, fo, dsm))
        failures += f1 + f2 + f3

    def med(i, k):
        return median([r[i][k] for r in runs])

    m: dict = {}
    for k in runs[0][0]:
        m[f"codecs.{k}_s"] = med(0, k)
    for k, v in mix.items():
        m[f"codecs.encoding_mix.{k}"] = v
    codec_total = sum(m[f"codecs.{k}_s"] for k in
                      ("select", "dict", "plain", "compress"))
    m["format.writer.write_file_s"] = med(1, "write_file_s")
    m["format.writer.assembly_s"] = max(
        0.0, m["format.writer.write_file_s"] - codec_total)
    m["format.container.write_container_s"] = med(1, "write_container_s")
    m["format.container.read_container_s"] = med(1, "read_container_s")
    m["format.reader.read_file_s"] = med(1, "read_file_s")
    m["io.publish_s"] = med(1, "publish_s")
    m["io.bytes_written_per_source_byte"] = (
        runs[0][1]["bytes_written"] / runs[0][1]["source_bytes"])
    for k in runs[0][2]:
        m[f"format.dataset.{k}"] = med(2, k)
    kernels = {k: {"bytes_in": cb[k][0], "bytes_out": cb[k][1],
                   "mb_per_s": cb[k][0] / 1e6 / max(m[f"codecs.{k}_s"], 1e-9)}
               for k in cb}
    return m, kernels, failures
