#!/usr/bin/env python
"""Property validation for `dedup_clusters` at scales where the DuckDB
recursive-CTE oracle is superlinear (>= ~sf10: 2.4M+ candidate pairs
take it >30 min / ~50 GB, while Spark's pointer-doubling propagation
converges in log-diameter rounds).

Validates the r6-established distributed-consistency properties of the
(doc_id, cluster) labeling over the FULL LSH pair graph:

1. fixpoint       — one more relax+hop round changes no label;
2. edge-consistent — every candidate pair's endpoints share a cluster;
3. min-member     — every cluster's label equals min(member doc_id)
                    and the label is itself a member (so labels are
                    real component minima, not invented ids);
4. coverage      — every doc appearing in a pair is labeled, and no
                    label exists for a doc without pairs.

Usage: python scripts/validate_clusters.py <sf_dir> [n_hashes bands]
Prints one JSON line; nonzero exit on any violated property.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    sf_dir = sys.argv[1]
    n_hashes = int(sys.argv[2]) if len(sys.argv) > 2 else None
    bands = int(sys.argv[3]) if len(sys.argv) > 3 else None

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from fastparquet_spark.analytics import dedup
    from heap import driver_memory

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (SparkSession.builder.master(f"local[{cpus}]")
             .appName("validate-clusters")
             .config("spark.sql.shuffle.partitions", cpus)
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.driver.memory", driver_memory())
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    t0 = time.perf_counter()
    pairs = dedup.dedup_minhash_lsh_pairs(spark, sf_dir, n_hashes,
                                          bands).persist()
    n_pairs = pairs.count()
    # reuse the persisted pairs: dedup_clusters(spark, sf_dir) would
    # re-run the whole shingle->signature->banding pipeline — at the
    # scales this script exists for, that doubles the dominant cost
    labels = dedup.connected_components(
        pairs.select(F.col("doc_a").alias("src"),
                     F.col("doc_b").alias("dst"))).persist()
    n_labeled = labels.count()
    secs = round(time.perf_counter() - t0, 1)

    la = labels.select(F.col("doc_id").alias("doc_a"),
                       F.col("cluster").alias("ca"))
    lb = labels.select(F.col("doc_id").alias("doc_b"),
                       F.col("cluster").alias("cb"))
    joined = pairs.join(la, "doc_a").join(lb, "doc_b")
    edge_bad = joined.filter(F.col("ca") != F.col("cb")).count()

    # min-member + label-is-member
    per_cluster = labels.groupBy("cluster").agg(
        F.min("doc_id").alias("mn"),
        F.max(F.when(F.col("doc_id") == F.col("cluster"), 1)
              .otherwise(0)).alias("label_is_member"))
    minmem_bad = per_cluster.filter(
        (F.col("cluster") != F.col("mn"))
        | (F.col("label_is_member") == 0)).count()

    # coverage: labeled docs == docs appearing in any pair
    endpoints = (pairs.select(F.col("doc_a").alias("doc_id"))
                 .union(pairs.select(F.col("doc_b").alias("doc_id")))
                 .distinct())
    cov_bad = (endpoints.join(labels, "doc_id", "left_anti").count()
               + labels.join(endpoints, "doc_id", "left_anti").count())

    # fixpoint: one extra relax+hop round must not change any label
    edges = (pairs.select(F.col("doc_a").alias("src"),
                          F.col("doc_b").alias("dst"))
             .union(pairs.select(F.col("doc_b").alias("src"),
                                 F.col("doc_a").alias("dst"))))
    via = (edges.join(labels, edges["dst"] == labels["doc_id"])
           .select(F.col("src").alias("doc_id"), "cluster"))
    relaxed = (labels.union(via).groupBy("doc_id")
               .agg(F.min("cluster").alias("cluster")))
    diff = (relaxed.join(labels.withColumnRenamed("cluster", "old"),
                         "doc_id")
            .filter(F.col("cluster") != F.col("old")).count())

    res = {"sf_dir": sf_dir, "n_hashes": n_hashes or dedup.N_HASHES,
           "bands": bands or dedup.BANDS, "pairs": n_pairs,
           "labeled_docs": n_labeled, "cluster_secs": secs,
           "edge_inconsistent": edge_bad, "minmember_bad": minmem_bad,
           "coverage_bad": cov_bad, "fixpoint_changes": diff,
           "ok": edge_bad == minmem_bad == cov_bad == diff == 0}
    print(json.dumps(res))
    spark.stop()
    sys.exit(0 if res["ok"] else 1)


if __name__ == "__main__":
    main()
