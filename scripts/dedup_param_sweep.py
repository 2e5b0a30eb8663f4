#!/usr/bin/env python
"""Production-parameter LSH dedup sweep (r6 verdict #7).

Gate-scale dedup runs N_HASHES=8 x BANDS=2; real pipelines run 64-128
hashes x 8-16 bands.  This script runs the SAME Spark code and the
SAME oracle-SQL generator at production shape on a ~sf1 corpus:

1. oracle exactness: `dedup_minhash_lsh_pairs(64, 8)` vs DuckDB
   `minhash_lsh_pairs_sql(64, 8)` — pair sets must be EQUAL;
2. recall vs exact Jaccard: over a cross-copy document subset, the
   fraction of truly-similar pairs (exact shingle Jaccard >= t) that
   the LSH candidates recover, for t in 0.5..0.9 — the S-curve a
   64x8 banding is supposed to give (P[candidate] = 1-(1-s^8)^8).

Usage: python scripts/dedup_param_sweep.py [sf_dir] [n_hashes] [bands]
(no sf_dir -> builds /tmp/sf1.0 as 10 key-shifted copies of sf0.1).
Prints one JSON line; paste the numbers into BENCH.md.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1.0"
N_HASHES = int(sys.argv[2]) if len(sys.argv) > 2 else 64
BANDS = int(sys.argv[3]) if len(sys.argv) > 3 else 8
SUBSET = 500          # docs per copy in the recall ground-truth subset
COPY_OFF = 100_000_000  # make_big_sf key offset


def main():
    if not os.path.exists(os.path.join(SF_DIR, "documents.parquet")):
        print(f"building {SF_DIR} (10 copies of sf0.1)...", file=sys.stderr)
        env = dict(os.environ, BIG_SF_COPIES="10")
        subprocess.run([sys.executable, os.path.join(
            os.path.dirname(__file__), "make_big_sf.py"), SF_DIR],
            check=True, env=env)

    import duckdb
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from fastparquet_spark.analytics import dedup
    from fastparquet_spark.analytics.registry import minhash_lsh_pairs_sql
    from heap import driver_memory

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (SparkSession.builder.master(f"local[{cpus}]")
             .appName("dedup-param-sweep")
             .config("spark.sql.shuffle.partitions", cpus)
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.driver.memory", driver_memory())
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    res = {"sf_dir": SF_DIR, "n_hashes": N_HASHES, "bands": BANDS}

    # 1. Spark pairs at production params
    t0 = time.perf_counter()
    pairs_df = dedup.dedup_minhash_lsh_pairs(spark, SF_DIR,
                                             N_HASHES, BANDS)
    spark_pairs = {(r.doc_a, r.doc_b) for r in pairs_df.collect()}
    res["spark_pairs"] = len(spark_pairs)
    res["spark_secs"] = round(time.perf_counter() - t0, 2)

    # 2. DuckDB oracle from the SAME generator
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM "
            f"'{SF_DIR}/documents.parquet'")
    t0 = time.perf_counter()
    duck_pairs = {tuple(r) for r in
                  con.sql(minhash_lsh_pairs_sql(N_HASHES, BANDS)).fetchall()}
    res["oracle_pairs"] = len(duck_pairs)
    res["oracle_secs"] = round(time.perf_counter() - t0, 2)
    res["pairs_match"] = spark_pairs == duck_pairs
    assert res["pairs_match"], (
        f"pair sets differ: spark-only="
    f"{sorted(spark_pairs - duck_pairs)[:5]} oracle-only="
        f"{sorted(duck_pairs - spark_pairs)[:5]}")

    # 3. recall vs exact Jaccard on a cross-copy subset: docs whose
    # base id (doc_id mod copy-offset) < SUBSET — includes every copy
    # of those docs, so true near-dup families span the subset
    docs = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .filter((F.col("doc_id") % COPY_OFF) < SUBSET))
    docs.createOrReplaceTempView("subset_docs")
    # the SAME shingling the LSH path hashes — a hand-rolled copy here
    # would let a future SHINGLE change silently skew the ground truth
    sh = dedup.shingles_of(docs)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "sh")
    b = sh.select(F.col("doc_id").alias("doc_b"), "sh")
    inter = (a.join(b, "sh").filter(F.col("doc_a") < F.col("doc_b"))
             .groupBy("doc_a", "doc_b").agg(F.count("*").alias("i")))
    sa = sizes.select(F.col("doc_id").alias("doc_a"),
                      F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"),
                      F.col("sz").alias("sz_b"))
    jac = (inter.join(sa, "doc_a").join(sb, "doc_b")
           .withColumn("j", F.col("i") / (F.col("sz_a") + F.col("sz_b")
                                          - F.col("i")))
           .select("doc_a", "doc_b", "j"))
    truth = {(r.doc_a, r.doc_b): r.j for r in jac.collect()}
    res["truth_pairs_considered"] = len(truth)
    curve = {}
    for t in (0.5, 0.6, 0.7, 0.8, 0.9):
        tp = [p for p, j in truth.items() if j >= t]
        got = sum(1 for p in tp if p in spark_pairs)
        curve[str(t)] = {"true_pairs": len(tp),
                         "recalled": got,
                         "recall": round(got / len(tp), 4) if tp else None}
    res["recall_curve"] = curve

    # 4. controlled-similarity ladder: the corpus's only near-dups are
    # EXACT cross-copy twins (J=1.0), so the curve above is flat.  To
    # trace the real banding S-curve (P[candidate] = 1-(1-s^r)^b for
    # r=n_hashes/bands rows per band), synthesize prefix-truncated
    # variants at known Jaccard levels and measure recall per level.
    import tempfile

    base = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .filter((F.col("doc_id") % COPY_OFF) < SUBSET)
            .filter(F.col("doc_id") < COPY_OFF)  # one copy of each base
            .select("doc_id", "lang", "source", "text"))
    fracs = [0.05, 0.15, 0.25, 0.35, 0.45, 0.55]
    variants = [base]
    for k, f in enumerate(fracs, start=1):
        # keep the first ceil((1-f)*n) words: shingle-set Jaccard of a
        # prefix is ~(1-f), giving levels ~0.95 down to ~0.45
        variants.append(base.select(
            (F.col("doc_id") + k * COPY_OFF).alias("doc_id"),
            "lang", "source",
            F.concat_ws(" ", F.slice(
                F.split(F.col("text"), r"\s+"), 1,
                F.greatest(F.lit(1), F.ceil(
                    F.size(F.split(F.col("text"), r"\s+"))
                    * (1 - f)).cast("int")))).alias("text")))
    ladder_dir = tempfile.mkdtemp(prefix="fps_ladder_")
    corpus = variants[0]
    for v in variants[1:]:
        corpus = corpus.unionByName(v)
    corpus.write.mode("overwrite").parquet(f"{ladder_dir}/documents.parquet")

    lp = dedup.dedup_minhash_lsh_pairs(spark, ladder_dir, N_HASHES, BANDS)
    ladder_pairs = {(r.doc_a, r.doc_b) for r in lp.collect()}

    # exact Jaccard for every (base, variant-k) pair, same shingling
    ldocs = (dedup.shingles_of(
                 spark.read.parquet(f"{ladder_dir}/documents.parquet"))
             .groupBy("doc_id")
             .agg(F.collect_set("sh").alias("shs")))
    bb = ldocs.filter(F.col("doc_id") < COPY_OFF).select(
        F.col("doc_id").alias("base_id"), F.col("shs").alias("sa"))
    vv = ldocs.filter(F.col("doc_id") >= COPY_OFF).select(
        (F.col("doc_id") % COPY_OFF).alias("base_id"),
        F.col("doc_id").alias("var_id"), F.col("shs").alias("sb"))
    jl = (bb.join(vv, "base_id")
          .withColumn("i", F.size(F.array_intersect("sa", "sb")))
          .withColumn("j", F.col("i") / (F.size("sa") + F.size("sb")
                                         - F.col("i")))
          .select("base_id", "var_id", "j"))
    rows_per_band = N_HASHES // BANDS
    ladder = {}
    for r in jl.collect():
        pair = (min(r.base_id, r.var_id), max(r.base_id, r.var_id))
        bucket = round(math.floor(r.j * 10) / 10, 1)
        d = ladder.setdefault(bucket, {"n": 0, "hit": 0, "jsum": 0.0})
        d["n"] += 1
        d["hit"] += pair in ladder_pairs
        d["jsum"] += r.j
    res["ladder"] = {
        str(b): {"pairs": d["n"],
                 "recall": round(d["hit"] / d["n"], 4),
                 "mean_j": (mj := round(d["jsum"] / d["n"], 3)),
                 "theory": round(
                     1 - (1 - mj ** rows_per_band) ** BANDS, 4)}
        for b, d in sorted(ladder.items())}
    print(json.dumps(res))
    spark.stop()


if __name__ == "__main__":
    main()
