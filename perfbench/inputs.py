"""Seeded inputs and their expected answers.

Every input is generated from the workload seed and cached under the
checkout's ``.perfbench/cache`` directory, keyed by (kind, size, seed),
so workloads that share a seed share the generation cost.  Generation
time is reported as ``engine.datagen_s``, apart from ``setup_s``.

The cache holds no file the program under test has written: the inputs
are written with pyarrow, and the one piece of program code that makes
them (``engine.datagen``) is part of the source table's key, so a
cached input never outlives a change to the code that produced it.
"""

from __future__ import annotations

import hashlib
import math
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

KEEP_CACHED = 30  # input sets kept per checkout, oldest evicted first


def _evict(cache: str) -> None:
    entries = [os.path.join(cache, d) for d in os.listdir(cache)
               if not d.startswith(".")]
    entries.sort(key=os.path.getmtime)
    for old in entries[:-KEEP_CACHED]:
        shutil.rmtree(old, ignore_errors=True)


def cached(cache: str, key: str, build) -> tuple[str, float]:
    """(path, seconds spent finding or building it).  ``build(tmp_dir)``
    fills a fresh directory that is renamed into place when complete."""
    t0 = time.perf_counter()
    os.makedirs(cache, exist_ok=True)
    path = os.path.join(cache, key)
    if os.path.exists(os.path.join(path, "_DONE")):
        os.utime(path)
        return path, time.perf_counter() - t0
    shutil.rmtree(path, ignore_errors=True)
    tmp = os.path.join(cache, f".{key}.{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    build(tmp)
    open(os.path.join(tmp, "_DONE"), "w").close()
    os.replace(tmp, path)
    _evict(cache)
    return path, time.perf_counter() - t0


# ---------------------------------------------- source-code table

def _datagen_digest() -> str:
    """Digest of the program module that generates the source rows."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(root, "fastparquet_spark", "engine", "datagen.py")
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:12]


def source_table(cache: str, rows: int, seed: int, files: int,
                 with_id: bool = False) -> tuple[str, float]:
    """The engine's synthetic source-code table (the rows
    ``engine.synthetic_source_table`` yields for this seed) as ``files``
    parquet files of contiguous row ranges, one row group each;
    ``with_id`` adds the row index as a sorted ``id`` column.

    Generated by worker processes, so a cold cache leaves no trace in
    the measured process."""
    import subprocess
    import sys

    def build(tmp):
        os.makedirs(os.path.join(tmp, "data"))
        k = max(1, min(files, os.cpu_count() or 1))
        procs = [subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), tmp, str(rows),
             str(seed), str(files), str(j), str(k), str(int(with_id))])
            for j in range(k)]
        codes = [p.wait(timeout=600) for p in procs]
        if any(codes):
            raise RuntimeError(f"source generation failed: exit codes {codes}")

    key = (f"src-r{rows}-f{files}{'-id' if with_id else ''}-s{seed}"
           f"-g{_datagen_digest()}")
    path, secs = cached(cache, key, build)
    return os.path.join(path, "data"), secs


def _generate_files(out, rows, seed, files, j, k, with_id) -> None:
    """Files j, j+k, j+2k, ... of :func:`source_table`."""
    from fastparquet_spark.engine.datagen import _rows_for_range

    per = -(-rows // files)
    for i in range(j, files, k):
        start, end = i * per, min(rows, (i + 1) * per)
        tbl = pa.Table.from_batches([_rows_for_range(start, end, seed)])
        if with_id:
            tbl = tbl.append_column(
                "id", pa.array(np.arange(start, end, dtype=np.int64)))
        pq.write_table(tbl, os.path.join(out, "data", f"in-{i:03d}.parquet"))


def content_digests(table: pa.Table) -> dict[str, bytes]:
    """path -> sha256(content) for every row (path is unique)."""
    return {p: hashlib.sha256(c.encode()).digest()
            for p, c in zip(table.column("path").to_pylist(),
                            table.column("content").to_pylist())}


# ---------------------------------------------- analytics tables

_WORDS = ("join hash row batch scan column customer filter small slow "
          "merge order vector line table data agg value key stream "
          "window a spark part group big sort query fast the").split()
_LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]
_SEGMENTS = ["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE",
             "HOUSEHOLD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
               "5-LOW"]
_EPOCH_1995 = np.datetime64("1995-01-01", "us")


def _days(rng, n, span_days):
    return _EPOCH_1995 + (rng.integers(0, span_days, n)
                          * np.timedelta64(86_400_000_000, "us"))


def analytics_tables(rng: np.random.Generator, scale: float) -> dict:
    """TPC-H-like tables plus documents and embeddings, with the schemas
    the analytics registry reads.  ``scale`` 1.0 is 60k lineitem rows
    and 500 documents."""
    n_cust = max(50, int(1500 * scale))
    n_ord = max(200, int(15000 * scale))
    n_li = max(800, int(60000 * scale))
    n_doc = max(60, int(500 * scale))
    n_emb = max(60, int(500 * scale))

    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_cust), 2)),
        "c_mktsegment": pa.array(
            [_SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]),
    })
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": pa.array(
            [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_ord), 2)),
        "o_orderdate": pa.array(_days(rng, n_ord, 2404)),
        "o_orderpriority": pa.array(
            [_PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]),
    })
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, 2000, n_li, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, 100, n_li, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li, dtype=np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(
            np.round(qty * rng.uniform(900, 2100, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(
            [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(
            [("F", "O")[i] for i in rng.integers(0, 2, n_li)]),
        "l_shipdate": pa.array(_days(rng, n_li, 2500)),
    })

    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document: the dedup operators
            # must find something
            base = texts[int(rng.integers(0, i))]
            texts.append(base + " dup" * int(rng.integers(1, 3)))
        else:
            n_words = int(rng.integers(8, 80))
            texts.append(" ".join(_WORDS[j] for j in
                                  rng.integers(0, len(_WORDS), n_words)))
    documents = pa.table({
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([_LANGS[i] for i in
                          rng.integers(0, len(_LANGS), n_doc)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], np.int64)),
    })

    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb, dtype=np.int32)),
    })
    return {"customer": customer, "orders": orders, "lineitem": lineitem,
            "documents": documents, "embeddings": embeddings}


def analytics_dir(cache: str, seed: int, scale: float) -> tuple[str, float]:
    """The analytics tables, one parquet file each, written by pyarrow.
    The workload rewrites them with the engine's writer at set-up."""

    def build(tmp):
        os.makedirs(tmp)
        tables = analytics_tables(np.random.default_rng(seed), scale)
        for name, tbl in tables.items():
            pq.write_table(tbl, os.path.join(tmp, f"{name}.parquet"))

    return cached(cache, f"analytics-x{scale:g}-s{seed}", build)


# ---------------------------------------------- result comparison

def _norm_value(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if isinstance(v, (list, tuple)):
        return tuple(_norm_value(x) for x in v)
    return v


def result_digest(cols: list[str], rows) -> tuple[int, str]:
    """(row count, order-insensitive value hash) of a result set whose
    columns are given in ``cols`` order; floats compare to 9 digits."""
    norm = sorted((tuple(_norm_value(v) for v in r) for r in rows), key=repr)
    h = hashlib.sha256(repr((sorted(cols), norm)).encode()).hexdigest()
    return len(norm), h



if __name__ == "__main__":
    import sys

    _generate_files(sys.argv[1], *map(int, sys.argv[2:8]))
