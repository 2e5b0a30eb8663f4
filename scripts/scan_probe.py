#!/usr/bin/env python
"""Scan size-scaling probe (BENCH.md "scan size-scaling" table).

Encodes N synthetic source-code rows with the engine, then times:
  - point lookup via engine.paged_read (stats+bloom+ColumnIndex stack)
  - point lookup via the fps Data Source (Catalyst pushFilters)
  - FULL scan via the fps Data Source (match-all fast path)
  - FULL scan via native spark.read.parquet on the same files

Full scans aggregate sum(length(content)) to force decode of every
value (a bare count() decodes nothing).  Prints one JSON line.

Usage: python scripts/scan_probe.py [n_rows] [cpus]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_ROWS = int(sys.argv[1]) if len(sys.argv) > 1 else 1_600_000
CPUS = int(sys.argv[2]) if len(sys.argv) > 2 else 32


def main():
    from pyspark.sql import SparkSession

    from fastparquet_spark.engine import (
        encode_dataset, paged_read, synthetic_source_table,
    )
    from fastparquet_spark.sources import FpsDataSource
    from heap import driver_memory

    spark = (SparkSession.builder.master(f"local[{CPUS}]")
             .appName("fps-scan-probe")
             .config("spark.sql.shuffle.partitions", str(CPUS))
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.python.filterPushdown.enabled", "true")
             .config("spark.driver.memory", driver_memory())
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    spark.dataSource.register(FpsDataSource)

    out = tempfile.mkdtemp(prefix="fps_probe_")
    df = synthetic_source_table(spark, N_ROWS, partitions=32) \
        .selectExpr("repo", "path", "commit", "lang", "content",
                    "crc32(path) AS row_id")
    encode_dataset(spark, df, out, compression="ZSTD",
                   partition_cols=(), num_partitions=16, sort_within=("row_id",),
                   page_rows=20_000, bloom_filters={"row_id": 0.01},
                   resume=False).collect()
    enc_mb = sum(os.path.getsize(os.path.join(out, f))
                 for f in os.listdir(out)) / 1e6

    # representative point-lookup key (exists, selective)
    lo = spark.read.parquet(out).selectExpr(
        "percentile_approx(row_id, 0.5) p").collect()[0].p
    hi = lo + (1 << 22)  # narrow range

    def best(fn, passes=5):
        fn()  # warm-up
        ts = []
        for _ in range(passes):
            t0 = time.perf_counter()
            fn()
            ts.append(time.perf_counter() - t0)
        return round(min(ts), 3)

    res = {"rows": N_ROWS, "cpus": CPUS, "encoded_mb": round(enc_mb, 1)}
    res["point_paged_read"] = best(lambda: paged_read(
        spark, out, [("row_id", ">=", lo), ("row_id", "<", hi)],
        columns=["row_id", "lang"]).collect())
    res["point_fps"] = best(lambda: spark.read.format("fps").load(out)
                            .filter(f"row_id >= {lo} AND row_id < {hi}")
                            .select("row_id", "lang").collect())
    res["full_fps"] = best(lambda: spark.read.format("fps").load(out)
                           .selectExpr("sum(length(content)) s",
                                       "count(*) n").collect())
    res["full_native"] = best(lambda: spark.read.parquet(out)
                              .selectExpr("sum(length(content)) s",
                                          "count(*) n").collect())
    # correctness cross-check: both full scans agree
    a = spark.read.format("fps").load(out) \
        .selectExpr("sum(length(content)) s", "count(*) n").collect()[0]
    b = spark.read.parquet(out) \
        .selectExpr("sum(length(content)) s", "count(*) n").collect()[0]
    assert (a.s, a.n) == (b.s, b.n), (a, b)
    res["fps_vs_native_ratio"] = round(res["full_fps"]
                                       / max(res["full_native"], 1e-9), 2)
    print(json.dumps(res))
    spark.stop()


if __name__ == "__main__":
    main()
