"""Multi-page column chunks + parquet PageIndex (ColumnIndex /
OffsetIndex) — write, parse-back, page-level pruning, and the
parquet-cpp/-java differentials.

The reference writes one page per row group and no index at all; the
PageIndex is the tier BELOW row-group pruning: a selective predicate
skips pages (10^4-row units) instead of whole row groups (10^6-row
units), which parquet-java does automatically on our files — so a
wrong index would make Spark silently drop rows, and the Spark test
here guards exactly that.
"""

from __future__ import annotations

import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from fastparquet_spark.format import read_file, write_file
from fastparquet_spark.format.dataset import filter_pages, read_page_index


def _table(n=50_000):
    rng = np.random.default_rng(2)
    return pa.table({
        "k": pa.array(range(n)),
        "lang": pa.array([["py", "rs", "go", "js"][i % 4]
                          for i in range(n)]),
        "s": pa.array([f"text {i} " + "x" * (i % 13) for i in range(n)]),
        "f": pa.array(rng.normal(0, 1, n)),
        "maybe": pa.array([i if i % 7 else None for i in range(n)],
                          pa.int64()),
    })


def test_paged_file_roundtrips_all_readers(tmp_path):
    import duckdb

    t = _table()
    path = str(tmp_path / "paged.parquet")
    write_file(path, t, compression="ZSTD", row_group_rows=25_000,
               page_rows=5_000)
    back = pq.read_table(path)
    own = read_file(path)
    for c in t.column_names:
        assert back.column(c).to_pylist() == t.column(c).to_pylist(), c
        assert own.column(c).cast(t.schema.field(c).type).to_pylist() == \
            t.column(c).to_pylist(), c
    assert duckdb.sql(f"SELECT count(*), sum(k) FROM '{path}'").fetchone() \
        == (50_000, sum(range(50_000)))


def test_page_index_written_and_parsed(tmp_path):
    t = _table()
    path = str(tmp_path / "pidx.parquet")
    write_file(path, t, compression="ZSTD", row_group_rows=25_000,
               page_rows=5_000)
    idx = read_page_index(path)
    assert len(idx) == 2  # row groups
    for rg in idx:
        for chunk in rg:
            assert chunk is not None
            assert len(chunk["locations"]) == 5
            assert [loc["first_row_index"] for loc in chunk["locations"]] \
                == [0, 5_000, 10_000, 15_000, 20_000]
    # the sorted column's per-page min equals its first row's value
    kmins = [struct.unpack("<q", m)[0] for m in idx[1][0]["min_values"]]
    assert kmins == [25_000, 30_000, 35_000, 40_000, 45_000]
    # nullable column records per-page null counts
    assert sum(idx[0][4]["null_counts"]) == \
        sum(1 for i in range(25_000) if i % 7 == 0)


def test_filter_pages_prunes_to_one_page(tmp_path):
    t = _table()
    path = str(tmp_path / "fp.parquet")
    write_file(path, t, compression="ZSTD", row_group_rows=25_000,
               page_rows=5_000)
    assert filter_pages(path, [("k", ">=", 12_000), ("k", "<=", 12_999)]) \
        == [(0, 10_000, 5_000)]
    assert filter_pages(path, [("k", "==", 37_500)]) == [(1, 10_000, 5_000)]
    assert filter_pages(path, [("k", "==", 10**9)]) == []
    # unindexed predicate keeps whole row groups (conservative)
    un = filter_pages(path, [("lang", "==", "py")])
    assert sum(nr for _ri, _fr, nr in un) == 50_000
    # an unknown op is an error, never a silent match-all
    from fastparquet_spark.format.dataset import read_pages

    with pytest.raises(ValueError, match="unsupported filter op"):
        filter_pages(path, [("k", "=>", 5)])
    with pytest.raises(ValueError, match="unsupported filter op"):
        read_pages(path, [("k", "=>", 5)], exact=True)


def test_parses_pyarrow_page_index(tmp_path):
    """parquet-cpp differential: pyarrow's own write_page_index=True
    output parses through our reader with consistent semantics."""
    t = _table()
    path = str(tmp_path / "pa.parquet")
    pq.write_table(t, path, use_dictionary=False, row_group_size=25_000,
                   data_page_size=6_000, write_page_index=True)
    idx = read_page_index(path)
    locs = idx[0][0]["locations"]
    assert len(locs) > 5  # pyarrow splits by bytes -> many pages
    mins = idx[0][0]["min_values"]
    assert struct.unpack("<q", mins[1])[0] == locs[1]["first_row_index"]
    pruned = filter_pages(path, [("k", "==", 24_000)])
    kept = sum(nr for _ri, _fr, nr in pruned)
    assert 0 < kept < 25_000
    assert any(fr <= 24_000 < fr + nr for ri, fr, nr in pruned if ri == 0)


def test_spark_filters_paged_files_correctly(spark, tmp_path):
    """parquet-java consumes the ColumnIndex for page skipping during
    filtered scans — if our per-page min/max or first_row_index were
    wrong, these filters would silently DROP rows."""
    from pyspark.sql import functions as F

    n = 120_000
    rng = np.random.default_rng(6)
    t = pa.table({"k": pa.array(range(n)),
                  "r": pa.array(rng.permutation(n)),
                  "s": pa.array([f"v{i}" for i in range(n)])})
    path = str(tmp_path / "sp.parquet")
    write_file(path, t, compression="ZSTD", row_group_rows=60_000,
               page_rows=10_000)
    df = spark.read.parquet(path)
    got = df.filter((F.col("k") >= 55_000) & (F.col("k") < 56_000)).agg(
        F.count("*"), F.sum("k"), F.sum("r")).collect()[0]
    assert tuple(got) == (1000, sum(range(55_000, 56_000)),
                          int(t.column("r").to_numpy()[55_000:56_000].sum()))
    one = df.filter(F.col("k") == 111_111).collect()
    assert len(one) == 1 and one[0]["s"] == "v111111"
    assert df.filter(F.col("s").isin("v5", "v59999", "v60000")).count() == 3


def test_read_pages_decodes_only_surviving_pages(tmp_path):
    """Reader-side page skipping: a narrow predicate moves footer +
    index + dictionary + the surviving pages ONLY (byte-count proof),
    and every decoded value is correct across encodings (delta ints,
    dict strings, plain floats, nullable)."""
    from fastparquet_spark.format.dataset import read_pages
    from fastparquet_spark.io import CountingFS, get_fs

    n = 100_000
    rng = np.random.default_rng(3)
    t = pa.table({
        "k": pa.array(range(n)),
        "lang": pa.array([["py", "rs", "go", "js"][i % 4]
                          for i in range(n)]),
        "v": pa.array(rng.normal(0, 1, n)),
        "maybe": pa.array([i if i % 7 else None for i in range(n)],
                          pa.int64()),
    })
    path = str(tmp_path / "rp.parquet")
    write_file(path, t, compression="ZSTD", row_group_rows=50_000,
               page_rows=5_000)
    import os

    full = os.path.getsize(path)
    got = read_pages(path, [("k", ">=", 72_000), ("k", "<", 73_000)])
    assert got.num_rows == 5_000  # exactly the covering page
    ks = got.column("k").to_pylist()
    assert (min(ks), max(ks)) == (70_000, 74_999)
    assert got.column("lang").to_pylist() == \
        [["py", "rs", "go", "js"][i % 4] for i in range(70_000, 75_000)]
    assert got.column("maybe").null_count == \
        sum(1 for i in range(70_000, 75_000) if i % 7 == 0)
    # proof: point predicate reads a small fraction of the file
    fs = CountingFS(get_fs(path))
    got2 = read_pages(path, [("k", "==", 12_345)], columns=["k", "v"],
                      fs=fs)
    assert got2.num_rows == 5_000
    assert 12_345 in got2.column("k").to_pylist()
    assert fs.bytes_read < 0.2 * full
    # nothing matches -> empty table with the right schema
    e = read_pages(path, [("k", "==", 10 ** 9)])
    assert e.num_rows == 0
    assert e.column_names == ["k", "lang", "v", "maybe"]
    # unindexed file (no page_rows): falls back to full decode, same rows
    p2 = str(tmp_path / "noidx.parquet")
    write_file(p2, t, compression="ZSTD", row_group_rows=50_000)
    all_rows = read_pages(p2, [("k", "==", 12_345)])
    assert all_rows.num_rows == n


def test_read_pages_exact_row_filter(tmp_path):
    """read_pages(exact=True): page skipping + Arrow-compute residual =
    exactly the matching rows, with projection independent of the
    predicate columns."""
    from fastparquet_spark.format.dataset import read_pages

    n = 60_000
    t = pa.table({"k": pa.array(range(n)),
                  "s": pa.array([f"v{i}" for i in range(n)]),
                  "m": pa.array([i if i % 3 else None for i in range(n)],
                                pa.int64())})
    path = str(tmp_path / "ex.parquet")
    write_file(path, t, compression="ZSTD", row_group_rows=30_000,
               page_rows=5_000)
    got = read_pages(path, [("k", ">=", 41_000), ("k", "<", 41_100)],
                     exact=True)
    assert got.column("k").to_pylist() == list(range(41_000, 41_100))
    # projection excludes the predicate column
    got2 = read_pages(path, [("k", "==", 123)], columns=["s"], exact=True)
    assert got2.column_names == ["s"]
    assert got2.column("s").to_pylist() == ["v123"]
    # null-aware ops
    got3 = read_pages(path, [("k", "<", 9), ("m", "is_null", None)],
                      exact=True)
    assert got3.column("k").to_pylist() == [0, 3, 6]
    got4 = read_pages(path, [("s", "in", ["v7", "v50001", "nope"])],
                      exact=True)
    assert sorted(got4.column("k").to_pylist()) == [7, 50_001]
    # empty exact result keeps the projected schema
    e = read_pages(path, [("k", "==", 10 ** 9)], columns=["s"], exact=True)
    assert e.num_rows == 0 and e.column_names == ["s"]


def test_read_pages_row_groups_subset_moves_fewer_bytes(tmp_path):
    """paged_read's executor contract: read_pages(row_groups={ri})
    decodes ONLY the listed groups — a driver-side planner that prunes
    row groups by stats/bloom translates directly into bytes not read."""
    from fastparquet_spark.format.dataset import read_pages
    from fastparquet_spark.io import CountingFS, get_fs

    t = _table(40_000)
    path = str(tmp_path / "subset.parquet")
    write_file(path, t, compression="ZSTD", row_group_rows=10_000,
               page_rows=2_000)
    clause = [("k", ">=", 0)]  # keeps every page: isolates rg subsetting
    # project the incompressible float column so data bytes dominate
    # the shared footer+index overhead
    fs_all = CountingFS(get_fs(path))
    full = read_pages(path, clause, columns=["k", "f"], fs=fs_all,
                      exact=True)
    assert full.num_rows == 40_000
    fs_one = CountingFS(get_fs(path))
    one = read_pages(path, clause, columns=["k", "f"], fs=fs_one,
                     exact=True, row_groups={2})
    assert one.num_rows == 10_000
    assert sorted(one.column("k").to_pylist()) == list(range(20_000, 30_000))
    # metadata overhead is shared; data bytes scale with groups kept
    assert fs_one.bytes_read < fs_all.bytes_read * 0.55, \
        (fs_one.bytes_read, fs_all.bytes_read)


def test_paged_read_distributed_matches_direct(spark, tmp_path):
    """Distributed paged_read == single-process read_pages union, and
    the empty-survivor case returns a typed empty DataFrame."""
    import numpy as np

    from fastparquet_spark.engine import paged_read
    from fastparquet_spark.format.dataset import read_pages

    d = tmp_path / "ds"
    d.mkdir()
    for i in range(4):
        n = 5_000
        t = pa.table({
            "k": pa.array(range(i * n, (i + 1) * n)),
            "f": pa.array(np.arange(n, dtype=np.float64) + i),
            "s": pa.array([f"s{j%97}" for j in range(n)]),
        })
        write_file(str(d / f"part-{i:02d}.parquet"), t, compression="ZSTD",
                   row_group_rows=2_500, page_rows=500,
                   bloom_filters={"s": 0.01})
    clause = [("k", ">=", 7_400), ("k", "<", 12_600)]
    df = paged_read(spark, str(d), clause, columns=["k", "s"])
    got = sorted(r["k"] for r in df.collect())
    assert got == list(range(7_400, 12_600))
    # only files 1 and 2 contain the range: the plan excludes the rest
    import glob

    direct = []
    for p in sorted(glob.glob(f"{d}/part-*.parquet")):
        direct += read_pages(p, clause, columns=["k", "s"],
                             exact=True).column("k").to_pylist()
    assert sorted(direct) == got
    # bloom term that nothing matches -> zero units, typed empty result
    empty = paged_read(spark, str(d), [("s", "==", "nope-xyz")])
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == ["k", "f", "s"]


def test_dnf_filters_through_pages_and_paged_read(spark, tmp_path):
    """DNF (OR-of-ANDs — the reference's filter contract,
    fastparquet/api.py:948) through the whole pruning stack: page masks
    OR per clause, residual filter ORs the clause masks, paged_read
    returns the exact union."""
    import numpy as np

    from fastparquet_spark.engine import paged_read
    from fastparquet_spark.format.dataset import filter_pages, read_pages

    d = tmp_path / "dnf"
    d.mkdir()
    for i in range(3):
        n = 6_000
        t = pa.table({
            "k": pa.array(range(i * n, (i + 1) * n)),
            "f": pa.array(np.arange(n, dtype=np.float64)),
            "m": pa.array([None if j % 3 == 0 else j % 4 for j in range(n)],
                          pa.int64()),
        })
        write_file(str(d / f"part-{i}.parquet"), t, compression="ZSTD",
                   row_group_rows=3_000, page_rows=1_000)
    dnf = [[("k", "<", 500)], [("k", ">=", 17_200)]]
    # single-file page pruning keeps both ends, drops the middle
    keep = filter_pages(str(d / "part-0.parquet"), [[("k", "<", 500)],
                                                    [("k", ">=", 5_500)]])
    assert sum(nr for _ri, _fr, nr in keep) == 2_000  # 2 of 6 pages
    tbl = read_pages(str(d / "part-0.parquet"),
                     [[("k", "<", 500)], [("k", ">=", 5_500)]], exact=True)
    assert sorted(tbl.column("k").to_pylist()) == \
        list(range(500)) + list(range(5_500, 6_000))
    # distributed: only files 0 and 2 survive row-group pruning
    got = sorted(r["k"] for r in paged_read(spark, str(d), dnf).collect())
    assert got == list(range(500)) + list(range(17_200, 18_000))
    # "not in" on a nullable column: null rows never match (SQL null
    # logic) in any reader — every one returns exactly DuckDB's rows
    import glob

    import duckdb

    from fastparquet_spark.api import ParquetFile
    from fastparquet_spark.format.dataset import filtered_read

    flt = [("m", "not in", [1])]
    want = sorted(r[0] for r in duckdb.sql(
        f"SELECT k FROM '{d}/*.parquet' WHERE m NOT IN (1)").fetchall())
    assert sorted(r["k"] for r in paged_read(spark, str(d), flt).collect()) \
        == want
    direct = []
    for p in sorted(glob.glob(f"{d}/part-*.parquet")):
        direct += read_pages(p, flt, exact=True).column("k").to_pylist()
    assert sorted(direct) == want
    pf = ParquetFile(str(d))
    assert sorted(pf.to_pandas(filters=flt, row_filter=True)["k"]) == want
    assert sorted(r["k"] for r in filtered_read(spark, str(d), flt)
                  .collect()) == want


def test_paged_read_hive_partitions(spark, tmp_path):
    """paged_read over a hive key=value dataset: partition predicates
    prune whole files on the driver, partition columns come back as
    constants, and a partition-only DNF branch returns every row of its
    matching files (per-file clause resolution)."""
    from pyspark.sql import functions as F

    from fastparquet_spark.engine import encode_dataset, paged_read, synthetic_source_table

    out = str(tmp_path / "hive")
    df = synthetic_source_table(spark, 2_000, partitions=2)
    encode_dataset(spark, df, out, compression="SNAPPY",
                   partition_cols=("lang",), num_partitions=2,
                   sort_within=(), resume=False, layout="hive").collect()
    src = spark.read.parquet(out)
    langs = [r["lang"] for r in src.select("lang").distinct().collect()]
    pick = sorted(langs)[0]
    want = src.filter(F.col("lang") == pick).count()
    got = paged_read(spark, out, [("lang", "==", pick)],
                     columns=["path", "lang"])
    rows = got.collect()
    assert len(rows) == want and all(r["lang"] == pick for r in rows)
    # DNF: partition-only branch OR a file-column branch
    n_all = src.count()
    sizes = {r["lang"]: r["cnt"] for r in
             src.groupBy("lang").agg(F.count("*").alias("cnt")).collect()}
    got2 = paged_read(spark, out,
                      [[("lang", "==", pick)], [("commit", "==", "nope")]])
    assert got2.count() == sizes[pick]  # second branch matches nothing
    # no filter terms on partitions at all: plain predicate on all files
    got3 = paged_read(spark, out, [("commit", "!=", "nope")])
    assert got3.count() == n_all
    assert "lang" in got3.columns  # partition col present, last


def test_read_pages_one_footer_fetch(tmp_path):
    """A page-skipping read costs ONE footer round trip per file —
    read_page_index reuses the already-parsed footer (at 100k
    object-store files the second fetch was pure added latency)."""
    from fastparquet_spark.format.dataset import read_pages
    from fastparquet_spark.io import CountingFS, get_fs

    t = _table(10_000)
    path = str(tmp_path / "onefoot.parquet")
    write_file(path, t, compression="ZSTD", row_group_rows=5_000,
               page_rows=1_000)
    fs = CountingFS(get_fs(path))
    got = read_pages(path, [("k", "<", 500)], columns=["k"], fs=fs,
                     exact=True)
    assert got.num_rows == 500
    # opens: footer tail + index span + data spans go through ONE
    # handle each via open_read; the footer tail itself is fetched once
    assert fs.opens <= 3, fs.opens


def test_page_filter_with_indexless_projected_column(tmp_path):
    """A wanted column whose chunk has NO ColumnIndex (NaN page,
    decimal) must not desync lengths against a page-skipped filter
    column — the row group falls back to whole-chunk decode and the
    residual filter restores exactness (review r5 #1: ArrowInvalid
    length mismatch)."""
    import decimal

    from fastparquet_spark.format.dataset import read_pages

    n = 1_000
    f = np.arange(n, dtype=np.float64)
    f[150] = np.nan
    t = pa.table({"doc_id": pa.array(range(n)), "amount": pa.array(f)})
    p = str(tmp_path / "nanidx.parquet")
    write_file(p, t, compression="SNAPPY", page_rows=100,
               encodings={"amount": "plain"})
    out = read_pages(p, [("doc_id", "<", 50)], exact=True)
    assert out.num_rows == 50
    assert out.column("doc_id").to_pylist() == list(range(50))
    t2 = pa.table({"doc_id": pa.array(range(n)),
                   "amt": pa.array([decimal.Decimal(i) / 100
                                    for i in range(n)],
                                   pa.decimal128(10, 2))})
    p2 = str(tmp_path / "decidx.parquet")
    write_file(p2, t2, compression="SNAPPY", page_rows=100)
    out2 = read_pages(p2, [("doc_id", "<", 30)], exact=True)
    assert out2.num_rows == 30


def test_paged_read_empty_filters_scans_all(spark, tmp_path):
    """paged_read with no filters is a full scan, not a silent empty
    result (review r5 #5)."""
    from fastparquet_spark.engine import paged_read

    d = tmp_path / "all"
    d.mkdir()
    for i in range(2):
        t = pa.table({"k": pa.array(range(i * 100, (i + 1) * 100))})
        write_file(str(d / f"p{i}.parquet"), t, compression="SNAPPY")
    assert paged_read(spark, str(d), []).count() == 200


def test_read_pages_fuzz_vs_pyarrow_compute():
    """Property fuzz: random tables, page sizes and predicates over the
    full op set — read_pages(exact=True) must equal a row-by-row oracle
    with SQL null semantics, regardless of which pages the index
    prunes, and neither filter_out_stats nor filter_pages may drop a
    row group or page that holds a matching row."""
    import math
    import operator
    import tempfile

    from fastparquet_spark.api import filter_out_stats
    from fastparquet_spark.format.dataset import read_pages
    from fastparquet_spark.format.reader import read_footer

    rng = np.random.default_rng(11)
    OPS = {"==": operator.eq, "!=": operator.ne, "<": operator.lt,
           "<=": operator.le, ">": operator.gt, ">=": operator.ge,
           "in": None, "not in": None, "is_null": None, "is_not_null": None}

    def holds(x, o, v):
        if o in ("is_null", "is_not_null"):
            return (x is None) == (o == "is_null")
        if x is None:
            return False  # SQL: every other op on null is unknown
        if o == "in":
            return x in v
        if o == "not in":
            return x not in v
        return OPS[o](x, v)

    for trial in range(24):
        n = int(rng.integers(50, 4_000))
        sortedness = rng.random()
        k = np.sort(rng.integers(0, n, n)) if sortedness > 0.5 \
            else rng.integers(0, n, n)
        f = rng.normal(0, 100, n)
        if trial % 3 == 0:
            f[rng.integers(0, n, max(n // 50, 1))] = np.nan
        t = pa.table({
            "k": pa.array(k.astype(np.int64)),
            "f": pa.array(f),
            "s": pa.array([f"w{int(x) % 37}" for x in k]),
            "m": pa.array([int(x) if x % 5 else None for x in k],
                          pa.int64()),
        })
        path = tempfile.mktemp(suffix=".parquet")
        page_rows = int(rng.choice([64, 100, 333, 1000]))
        rg_rows = int(rng.choice([500, 1000, 5000]))
        write_file(path, t, compression="SNAPPY",
                   row_group_rows=rg_rows, page_rows=page_rows)
        # random single-term and two-term AND/OR predicates
        col = str(rng.choice(["k", "f", "s", "m"]))
        op = str(rng.choice(list(OPS)))

        def draw():
            return {"k": int(rng.integers(0, n)),
                    "f": float(rng.normal(0, 100)),
                    "s": f"w{int(rng.integers(0, 37))}",
                    "m": int(rng.integers(0, n))}[col]

        val = [draw() for _ in range(int(rng.integers(1, 4)))] \
            if op in ("in", "not in") else draw()
        clause = [(col, op, val)]
        if trial % 2:
            clause.append(("k", "<", int(rng.integers(1, n + 1))))
        filters = [clause] if trial % 4 != 3 else \
            [clause, [("k", ">=", int(rng.integers(0, n)))]]
        got = read_pages(path, filters, exact=True)
        rows = t.to_pylist()
        match = [[all(holds(r[c], o, v) for c, o, v in cl) for r in rows]
                 for cl in filters]
        keep = [any(ms) for ms in zip(*match)]
        want = t.filter(pa.array(keep))
        assert got.num_rows == want.num_rows, \
            (trial, filters, got.num_rows, want.num_rows)

        def norm(vals):
            return sorted(("NaN" if isinstance(v, float) and math.isnan(v)
                           else v for v in vals), key=repr)

        for c in t.column_names:
            assert norm(got.column(c).to_pylist()) == \
                norm(want.column(c).to_pylist()), (trial, filters, c)
        # pruning is conservative: no matching row is ever dropped
        with open(path, "rb") as fh:
            fmd = read_footer(fh.read())
        starts = np.cumsum([0] + [rg["num_rows"] for rg in fmd["row_groups"]])
        for ri, rg in enumerate(fmd["row_groups"]):
            for cl, ms in zip(filters, match):
                if any(ms[starts[ri]:starts[ri + 1]]):
                    assert not filter_out_stats(rg, cl, fmd["schema"]), \
                        (trial, cl, ri)
        paged = np.zeros(n, dtype=bool)
        for ri, first, nr in filter_pages(path, filters):
            paged[starts[ri] + first:starts[ri] + first + nr] = True
        assert paged[np.array(keep)].all(), (trial, filters)
