#!/usr/bin/env python
"""In-session scale sweep: run EVERY registry query against its DuckDB
oracle on an arbitrary sf directory (usually one synthesized by
make_big_sf.py) and report per-query row/value agreement.

    python scripts/make_big_sf.py /tmp/sf3.0   # BIG_SF_COPIES=30
    python scripts/sweep_registry.py /tmp/sf3.0

Exit code 0 iff every query matches (count + order-insensitive values,
floats rounded to 9 decimals).  This is the same comparison the
driver's correctness gate runs at sf0.01 — the sweep's job is to catch
divergences that only appear at scale (bucket caps binding, salting
paths, convergence rounds)."""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, ".")


def _norm(rows):
    out = []
    for r in rows:
        nr = []
        for v in r:
            if isinstance(v, float):
                nr.append("NaN" if math.isnan(v) else round(v, 9))
            else:
                nr.append(v)
        out.append(tuple(nr))
    return sorted(out, key=repr)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf0.3"
    only, exclude = None, []
    if len(sys.argv) > 2:
        # "-x a,b" excludes (e.g. dedup_clusters, whose recursive-CTE
        # oracle is superlinear past ~sf10 — property-validate those
        # with scripts/validate_clusters.py instead); "a,b" selects
        if sys.argv[2] == "-x":
            if len(sys.argv) < 4:
                sys.exit("usage: sweep_registry.py SF_DIR [-x a,b | a,b]")
            exclude = sys.argv[3].split(",")
        else:
            only = sys.argv[2].split(",")
    import duckdb

    import __spark_entry__ as entry_mod
    from pyspark.sql import SparkSession
    from heap import driver_memory

    spark = (SparkSession.builder.master("local[8]")
             .appName("registry-sweep")
             .config("spark.sql.shuffle.partitions", "32")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.python.filterPushdown.enabled", "true")
             .config("spark.driver.memory", driver_memory())
             # the harness COLLECTS both sides for comparison — at
             # ~sf30 the signature/pair result sets pass 1 GiB
             .config("spark.driver.maxResultSize", "8g")
             .config("spark.ui.enabled", "false").getOrCreate())
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    queries, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    names = [n for n in (only or sorted(queries)) if n not in exclude]
    # results past this row count compare via an IN-ENGINE fingerprint
    # (count + order-insensitive md5-prefix checksum, verified identical
    # across Spark and DuckDB) instead of materializing both sides as
    # Python tuples — a 22M-row full compare takes >1h single-threaded
    fp_rows = int(os.environ.get("SWEEP_FP_ROWS", "2000000"))
    # types whose canonical string rendering provably agrees between
    # Spark and DuckDB fingerprint verbatim; float/double fingerprint
    # through a fixed-point bigint rendering (round(v*1e6) — the
    # registry's float outputs are already query-rounded to <=6
    # decimals, so the scaled value is an exact integer in both
    # engines); decimals/timestamps/arrays still force the full
    # compare (their renderings genuinely differ)
    fp_types = ("int", "bigint", "smallint", "tinyint", "string",
                "boolean")
    fp_float = ("float", "double")

    def _fp_exprs(schema, cols, spark_side):
        kinds = {f.name: f.dataType.simpleString() for f in schema.fields}
        out = []
        for c in cols:
            if kinds[c] in fp_float:
                if spark_side:
                    out.append(
                        f"coalesce(CASE WHEN isnan(`{c}`) THEN 'NaN' ELSE "
                        f"cast(cast(round(`{c}` * 1000000) as bigint) "
                        f"as string) END, char(1))")
                else:
                    out.append(
                        f'coalesce(CASE WHEN isnan("{c}") THEN \'NaN\' ELSE '
                        f'(round("{c}" * 1000000))::bigint::varchar '
                        f"END, chr(1))")
            elif spark_side:
                out.append(f"coalesce(cast(`{c}` as string), char(1))")
            else:
                out.append(f'coalesce(cast("{c}" as varchar), chr(1))')
        return out

    bad = []
    from pyspark import StorageLevel

    for name in names:
        t0 = time.time()
        sdf = None
        try:
            sdf = queries[name](spark, sf_dir)
            # materialize ONCE: the compare runs several jobs over the
            # result (count + fingerprint, or one toLocalIterator job
            # PER PARTITION) — without a persist each job recomputes
            # the full lineage (LSH banding, crossJoin scoring), which
            # turned sim_neardup_lsh at ~sf30 into 30+ single-task
            # stages of repeated work
            sdf = sdf.persist(StorageLevel.MEMORY_AND_DISK)
            cols = sorted(sdf.columns)
            fp_ok = all(f.dataType.simpleString() in fp_types + fp_float
                        for f in sdf.schema.fields)
            if fp_ok and sdf.count() > fp_rows:
                srow = sdf.selectExpr(
                    "count(*) AS c",
                    "sum(cast(conv(substring(md5(concat_ws('|', "
                    + ", ".join(_fp_exprs(sdf.schema, cols, True))
                    + ")),1,15),16,10) as decimal(38,0))) AS s").collect()[0]
                orow = con.sql(
                    "SELECT count(*), sum((('0x' || substr(md5(concat_ws('|', "
                    + ", ".join(_fp_exprs(sdf.schema, cols, False))
                    + ")),1,15))::bigint))::hugeint FROM ("
                    + oracles[name] + ") fp_t").fetchone()
                ok_v = (srow.c == orow[0]
                        and int(srow.s or 0) == int(orow[1] or 0))
                status = "OK-FP" if ok_v else "MISMATCH-FP"
                if not ok_v:
                    bad.append(name)
                print(f"{name:32s} {status:8s} spark={srow.c} "
                      f"oracle={orow[0]} sum={srow.s}/{orow[1]} "
                      f"{time.time()-t0:6.1f}s", flush=True)
                continue
            # stream partition-at-a-time: a one-shot collect() of a
            # multi-GB result (sf30 signatures/pairs) OOMs the driver
            # JVM, which buffers every partition's serialized bytes at
            # once; the iterator holds ONE partition JVM-side
            srows = [tuple(row[c] for c in cols)
                     for row in sdf.toLocalIterator()]
            ores = con.sql(oracles[name])
            idx = [ores.columns.index(c) for c in cols]
            orows = [tuple(r[i] for i in idx) for r in ores.fetchall()]
            ok_n = len(srows) == len(orows)
            ok_v = ok_n and _norm(srows) == _norm(orows)
            status = "OK" if ok_v else "MISMATCH"
            if not ok_v:
                bad.append(name)
            print(f"{name:32s} {status:8s} spark={len(srows)} "
                  f"oracle={len(orows)} {time.time()-t0:6.1f}s", flush=True)
        except Exception as e:  # keep sweeping; report at the end
            bad.append(name)
            print(f"{name:32s} ERROR    {type(e).__name__}: {e}",
                  flush=True)
        finally:
            if sdf is not None:
                try:
                    sdf.unpersist()
                except Exception:
                    pass
    print(f"\nsweep: {len(names) - len(bad)}/{len(names)} green "
          f"on {sf_dir}; failures: {bad or 'none'}")
    spark.stop()
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
