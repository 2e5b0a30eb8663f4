"""The four workloads.  Each is a closed loop with one client: the next
operation starts when the previous one has returned and been checked.

A workload provides
- ``inputs()``: generate (or find cached) its seeded inputs, returning
  the seconds spent generating;
- ``prepare()``: the repeatable part of set-up (datasets the scans read,
  expected answers), timed several times by the runner;
- ``op(i)``: one timed operation, returning an :class:`Op`;
- ``final_check()``: checks made once, outside the timed region;
- ``latency_kinds``, ``gbps()``, ``bytes_ratio()``: its definitions of
  the end-to-end metrics, and ``named()`` the same figures under the
  workload's own names;
- ``report()``: the workload's layer figures for the traced run.
"""

from __future__ import annotations

import dataclasses
import os
import random
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq

import inputs
from harness import median, p90
from layers import BLOOM, LOOKUPS, PAGE_ROWS, lookup_clause

ENCODE_ROWS_PER_TASK = 20_000


@dataclasses.dataclass
class Op:
    kind: str
    secs: float
    ok: bool
    gid: str = ""
    source_bytes: int = 0  # source Arrow bytes the op processed
    output_bytes: int = 0
    info: dict = dataclasses.field(default_factory=dict)
    error: str = ""


class Context:
    """What a workload needs from the runner."""

    def __init__(self, spark, tracer, counts, work, cache, cores, seed, size,
                 corrupt_expected):
        self.spark = spark
        self.tracer = tracer
        self.counts = counts
        self.work = work
        self.cache = cache
        self.cores = cores
        self.seed = seed
        self.size = size
        self.corrupt_expected = corrupt_expected
        self.rng = random.Random(seed)


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def _manifest_figures(m: list, wall: float, cores: int) -> dict:
    task = [r["encode_secs"] for r in m]
    kern = [r["kernel_secs"] for r in m]
    rows = sorted(r["rows"] for r in m)
    return {"wall_s": wall, "tasks": len(m),
            "task_s_sum": sum(task), "task_s_max": max(task),
            "kernel_s_sum": sum(kern),
            "task_read_s_sum": sum(task) - sum(kern),
            "unattributed_s": wall - sum(task) / cores,
            "task_rows_max_over_p50": rows[-1] / max(median(rows), 1)}


class _Encode:
    """Shared by the two encode workloads: the source table, the per-row
    content digests and the manifest checks."""

    name = ""
    partitions = 16

    @property
    def latency_kinds(self):
        return (self.name,)

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.last_out = None

    def inputs(self) -> float:
        c = self.ctx
        self.src, secs = inputs.source_table(
            c.cache, c.size["encode_rows"], c.seed, self.partitions)
        return secs

    def prepare(self) -> None:
        tbl = pq.read_table(self.src, columns=["repo", "lang"])
        self.src_rows = tbl.num_rows
        if self.ctx.corrupt_expected:
            self.src_rows += 1  # a deliberately wrong expected answer
        self.salted_keys = self._salted_keys(tbl)

    @staticmethod
    def _salted_keys(tbl: pa.Table, salt_rows: int = 250_000) -> int:
        counts = tbl.group_by(["repo", "lang"]).aggregate([("repo", "count")])
        return sum(1 for n in counts.column("repo_count").to_pylist()
                   if n > salt_rows)

    def _fresh_out(self, i) -> str:
        out = os.path.join(self.ctx.work, "out", f"{self.name}-{i}")
        shutil.rmtree(out, ignore_errors=True)
        if self.last_out and self.last_out != out:
            shutil.rmtree(self.last_out, ignore_errors=True)
        self.last_out = out
        return out

    def _check_manifest(self, m: list) -> str:
        rows = sum(r["rows"] for r in m)
        if any(r["skipped"] for r in m):
            return "manifest reports skipped parts"
        if rows != self.src_rows:
            return f"manifest rows {rows} != source rows {self.src_rows}"
        return ""

    def _op(self, i, label, job) -> Op:
        c = self.ctx
        out = self._fresh_out(i)
        with c.counts.group(label) as gid, c.tracer.span(f"op:{self.name}", op=i):
            t0 = time.perf_counter()
            with c.tracer.span(label):
                m = [r.asDict() for r in job(out).collect()]
            secs = time.perf_counter() - t0
        err = self._check_manifest(m)
        ib = sum(r["input_bytes"] for r in m)
        return Op(self.name, secs, not err, gid, ib,
                  sum(r["output_bytes"] for r in m),
                  {**_manifest_figures(m, secs, c.cores),
                   "written_bytes": _dir_bytes(out)}, err)

    def final_check(self) -> list[str]:
        got = self._output_digests(self.last_out)
        want = inputs.content_digests(
            pq.read_table(self.src, columns=["path", "content"]))
        if got == want:
            return []
        missing = len(want.keys() - got.keys())
        wrong = sum(1 for k in want.keys() & got.keys() if want[k] != got[k])
        return [f"content sha256 round trip: {missing} rows missing, "
                f"{wrong} rows differ, {len(got.keys() - want.keys())} extra"]

    def gbps(self, ops: list[Op]) -> tuple[float, int]:
        return median([o.source_bytes / o.secs / 1e9 for o in ops]), len(ops)

    def bytes_ratio(self, ops: list[Op]) -> float:
        return median([o.output_bytes / o.source_bytes for o in ops])

    def named(self, ops: list[Op]) -> list[tuple]:
        g, n = self.gbps(ops)
        return [("encode_gbps", g, "GB/s", n, "")]

    def report(self, ops: list[Op]) -> dict:
        keys = ("task_s_sum", "task_s_max", "kernel_s_sum", "task_read_s_sum",
                "unattributed_s", "task_rows_max_over_p50")
        return {f"engine.{k}": median([o.info[k] for o in ops]) for k in keys} | {
            "engine.salted_keys": self.salted_keys,
            # data files, manifests and the plan marker of a whole job
            "io.job_bytes_written_per_source_byte":
                median([o.info["written_bytes"] / o.source_bytes for o in ops]),
        }


class EncodeFiles(_Encode):
    name = "encode-files"

    def prepare(self) -> None:
        super().prepare()
        from fastparquet_spark.engine import plan_splits

        self.splits = plan_splits(self.src, ENCODE_ROWS_PER_TASK)

    def op(self, i) -> Op:
        from fastparquet_spark.engine import encode_files

        return self._op(i, "engine.encode_files", lambda out: encode_files(
            self.ctx.spark, self.src, out, compression="ZSTD",
            rows_per_task=ENCODE_ROWS_PER_TASK, resume=False))

    def _output_digests(self, out: str) -> dict:
        files = sorted(os.path.join(out, f) for f in os.listdir(out)
                       if f.endswith(".parquet"))
        tbl = pa.concat_tables(pq.read_table(f, columns=["path", "content"])
                               for f in files)
        return inputs.content_digests(tbl)

    def report(self, ops: list[Op]) -> dict:
        from fastparquet_spark.engine import plan_splits

        plan = []
        for _ in range(3):
            with self.ctx.tracer.span("engine.plan_splits", op="layer"):
                t0 = time.perf_counter()
                plan_splits(self.src, ENCODE_ROWS_PER_TASK)
                plan.append(time.perf_counter() - t0)
        r = super().report(ops)
        r["engine.plan_s"] = median(plan)
        r["engine.splits"] = len(self.splits)
        # the planner runs inside each job, so its time is taken out of
        # the remainder too
        r["engine.unattributed_s"] -= r["engine.plan_s"]
        return r


class EncodeShuffleFpsc(_Encode):
    name = "encode-shuffle-fpsc"

    def prepare(self) -> None:
        super().prepare()
        self.df = self.ctx.spark.read.parquet(self.src)

    def op(self, i) -> Op:
        from fastparquet_spark.engine.fpsc_job import encode_dataset_fpsc

        return self._op(i, "engine.encode_dataset_fpsc",
                        lambda out: encode_dataset_fpsc(
                            self.ctx.spark, self.df, out, compression="ZSTD",
                            resume=False))

    def _output_digests(self, out: str) -> dict:
        from fastparquet_spark.format.container import read_container

        files = sorted(os.path.join(out, f) for f in os.listdir(out)
                       if f.endswith(".fpsc"))
        tbl = pa.concat_tables(read_container(f, columns=["path", "content"])
                               for f in files)
        return inputs.content_digests(tbl)

    def report(self, ops: list[Op]) -> dict:
        from fastparquet_spark.format.container import decide_string_codecs

        sample = self.df.limit(2_000).toArrow()
        times = []
        for _ in range(3):
            with self.ctx.tracer.span("format.container.decide_string_codecs",
                                      op="layer"):
                t0 = time.perf_counter()
                decide_string_codecs(sample, {}, compression="ZSTD")
                times.append(time.perf_counter() - t0)
        r = super().report(ops)
        r["engine.pretrain_s"] = median(times)
        return r


class ScanMixed:
    """Lookups and full scans against datasets that set-up encodes:
    a parquet dataset sorted by ``id`` with a ColumnIndex and a bloom
    filter on ``path``, and an FPSC dataset of the same rows."""

    name = "scan-mixed"
    # lookups set the latency metrics; the two scans set the throughput
    latency_kinds = ("lookup_key", "lookup_bloom")
    # a fixed composition per round, shuffled
    ROUND = LOOKUPS + (("scan_full", False), ("scan_fpsc", False))
    min_ops = len(ROUND)  # every run completes at least one round

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.queue: list[tuple[str, bool]] = []

    def inputs(self) -> float:
        c = self.ctx
        self.src, secs = inputs.source_table(
            c.cache, c.size["scan_rows"], c.seed, c.size["scan_files"],
            with_id=True)
        return secs

    def prepare(self) -> None:
        from fastparquet_spark.engine import encode_files
        from fastparquet_spark.engine.file_job import encode_files_fpsc

        c = self.ctx
        per = -(-c.size["scan_rows"] // c.size["scan_files"])
        self.pq_dir = os.path.join(c.work, "out", "scan-parquet")
        self.fpsc_dir = os.path.join(c.work, "out", "scan-fpsc")
        for d in (self.pq_dir, self.fpsc_dir):
            shutil.rmtree(d, ignore_errors=True)
        m = encode_files(c.spark, self.src, self.pq_dir, compression="ZSTD",
                         rows_per_task=per, resume=False,
                         bloom_filters=BLOOM, page_rows=PAGE_ROWS).collect()
        m += encode_files_fpsc(c.spark, self.src, self.fpsc_dir,
                               compression="ZSTD", rows_per_task=per,
                               resume=False).collect()
        tbl = pq.read_table(self.src)
        self.n = tbl.num_rows
        self.src_bytes = tbl.nbytes
        self.ids = tbl.column("id").to_pylist()
        self.paths = tbl.column("path").to_pylist()
        self.lengths = [len(s) for s in tbl.column("content").to_pylist()]
        self.total_len = sum(self.lengths)
        if c.corrupt_expected:
            self.total_len += 1  # a deliberately wrong expected answer
        self.stored_bytes = _dir_bytes(self.pq_dir) + _dir_bytes(self.fpsc_dir)
        self.manifest_rows = sum(r["rows"] for r in m)

    def warmup(self) -> list[Op]:
        """One untimed op of each kind."""
        kinds = sorted(set(self.ROUND))
        return [self.op(-1 - j, kind) for j, kind in enumerate(kinds)]

    def _next_kind(self) -> tuple[str, bool]:
        if not self.queue:
            self.queue = list(self.ROUND)
            self.ctx.rng.shuffle(self.queue)
        return self.queue.pop()

    def _lookup(self, kind: str, absent: bool):
        from fastparquet_spark.engine import paged_read

        k = self.ctx.rng.randrange(self.n)
        clause, hit = lookup_clause(kind, absent, k, self.ids, self.paths,
                                    self.n)
        want = [(self.ids[k], self.paths[k], self.lengths[k])] if hit else []
        with self.ctx.tracer.span("engine.paged_read"):
            rows = paged_read(self.ctx.spark, self.pq_dir, clause,
                              columns=["id", "path", "content"]).collect()
        got = sorted((r["id"], r["path"], len(r["content"])) for r in rows)
        return got == want, f"{clause}: got {len(got)} rows, want {len(want)}"

    def _scan(self, kind: str):
        from pyspark.sql import functions as F

        fmt, path = (("fps", self.pq_dir) if kind == "scan_full"
                     else ("fpsc", self.fpsc_dir))
        with self.ctx.tracer.span(f"sources.{fmt}"):
            got = (self.ctx.spark.read.format(fmt).load(path)
                   .agg(F.sum(F.length("content"))).collect()[0][0])
        return got == self.total_len, f"{kind}: sum {got} != {self.total_len}"

    def op(self, i, which=None) -> Op:
        c = self.ctx
        kind, absent = which or self._next_kind()
        scan = kind.startswith("scan")
        with c.counts.group(kind) as gid, c.tracer.span(f"op:{kind}", op=i):
            t0 = time.perf_counter()
            ok, msg = self._scan(kind) if scan else self._lookup(kind, absent)
            secs = time.perf_counter() - t0
        return Op(kind, secs, ok, gid, self.src_bytes if scan else 0,
                  error="" if ok else msg)

    def gbps(self, ops: list[Op]) -> tuple[float, int]:
        """Source bytes per second of one fps and one fpsc scan, each at
        its median."""
        pair = [median([o.secs for o in ops if o.kind == k])
                for k in ("scan_full", "scan_fpsc")]
        return 2 * self.src_bytes / sum(pair) / 1e9, sum(
            o.kind.startswith("scan") for o in ops)

    def bytes_ratio(self, ops: list[Op]) -> float:
        return self.stored_bytes / (2 * self.src_bytes)

    def named(self, ops: list[Op]) -> list[tuple]:
        rows = []
        for kind in ("lookup_key", "lookup_bloom", "scan_full", "scan_fpsc"):
            s = [o.secs for o in ops if o.kind == kind]
            rows.append((f"{kind}_s_p50", median(s), "s", len(s), ""))
        lk = [o.secs for o in ops if o.kind in self.latency_kinds]
        rows.append(("lookup_s_tail", p90(lk), "s", len(lk), "p90"))
        return rows

    def final_check(self) -> list[str]:
        if self.manifest_rows != 2 * self.n:
            return [f"scan datasets hold {self.manifest_rows} rows, "
                    f"expected {2 * self.n}"]
        return []

    def report(self, ops: list[Op]) -> dict:
        from pyspark.sql import functions as F

        from fastparquet_spark.engine.scan_job import (
            build_scan_units, scan_unit_batches, union_leaf_elems,
        )
        from fastparquet_spark.format.dataset import load_dataset_metas
        from fastparquet_spark.format.reader import _arrow_type

        c = self.ctx
        # the Arrow bytes one full fps scan hands back to the JVM,
        # replayed on the driver through the same executor function
        root, metas = load_dataset_metas(self.pq_dir)
        names, elems, present = union_leaf_elems(metas)
        cols = ["content"]
        aschema = pa.schema([(n, _arrow_type(elems[n])) for n in cols])
        by_file = {m["file"]: list(range(len(m["fmd"]["row_groups"])))
                   for m in metas}
        ipc = 0
        for f, ris, pvals, absent, fallback in build_scan_units(
                by_file, metas, cols, names, present, {}):
            for b in scan_unit_batches(f"{root}/{f}", ris, pvals, absent,
                                       fallback, [[]], cols, [], [], aschema,
                                       False):
                ipc += b.nbytes
        native = []
        for _ in range(3):
            with c.tracer.span("sources.native_parquet", op="layer"):
                t0 = time.perf_counter()
                c.spark.read.parquet(self.pq_dir).agg(
                    F.sum(F.length("content"))).collect()
                native.append(time.perf_counter() - t0)
        full = median([o.secs for o in ops if o.kind == "scan_full"])
        return {"sources.ipc_mb_per_scan": ipc / 1e6,
                "sources.native_scan_s": median(native),
                "sources.fps_over_native": full / median(native),
                **self._analytics_probe(len(ops))}

    def _analytics_probe(self, first_op: int) -> dict:
        """The analytics layer, measured in the traced run of this gated
        workload: an untimed pass over ``Analytics.QUERIES`` on their own
        seeded tables, then two timed passes, every answer checked
        against its DuckDB oracle (failures in ``report_failures``)."""
        an = Analytics(self.ctx)
        an.inputs()
        an.prepare()
        warm = an.warmup()
        n = len(an.QUERIES)
        ops = [an.op(first_op + j) for j in range(2 * n)]
        self.report_failures = [o.error for o in warm + ops if not o.ok]
        return {**an.report(ops),
                "analytics.query_suite_s": median(an.passes(ops))}


class Analytics:
    """Passes over a fixed list of registry queries, each answer checked
    against its DuckDB oracle.  One op is one query; a run ends on a
    whole pass, so every query weighs the same."""

    name = "analytics"
    # every query of bench.py's list that reaches a load(..., spread=True)
    # site, plus the scan-aggregate and join shapes; its other nine
    # non-engine queries would nearly double the pass without reaching
    # another layer (see README, "Scope")
    QUERIES = (
        "q1_pricing_summary", "q3_shipping_topk",
        "dedup_minhash_lsh_pairs", "dedup_simhash", "dedup_clusters",
        "text_quality", "text_fingerprint", "text_chunk_tokens",
        "text_redact_pii", "text_contamination", "sim_cosine_topk")
    TABLES = ("customer", "orders", "lineitem", "documents", "embeddings")

    latency_kinds = QUERIES
    op_block = len(QUERIES)  # runs end on a whole pass
    min_ops = 2 * len(QUERIES)  # two timed passes per run

    def __init__(self, ctx: Context):
        self.ctx = ctx

    def inputs(self) -> float:
        c = self.ctx
        self.src_dir, secs = inputs.analytics_dir(
            c.cache, c.seed, c.size["analytics_scale"])
        return secs

    def prepare(self) -> None:
        """Rewrite the tables with the engine's writer, which the queries
        then read; the oracle reads the pyarrow-written originals, so a
        writer fault shows as a wrong answer."""
        import duckdb

        import __spark_entry__ as entry
        from fastparquet_spark.format import write_file

        self.sf_dir = os.path.join(self.ctx.work, "analytics-tables")
        shutil.rmtree(self.sf_dir, ignore_errors=True)
        os.makedirs(self.sf_dir)
        self.src_bytes = 0
        for t in self.TABLES:
            tbl = pq.read_table(os.path.join(self.src_dir, f"{t}.parquet"))
            self.src_bytes += tbl.nbytes
            write_file(os.path.join(self.sf_dir, f"{t}.parquet"), tbl,
                       compression="ZSTD")
        self.stored_bytes = _dir_bytes(self.sf_dir)

        self.queries = entry.queries()
        oracles = entry.oracle_sql()
        con = duckdb.connect()
        try:
            for t in self.TABLES:
                path = os.path.join(self.src_dir, f"{t}.parquet")
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            self.expected = {}
            for q in self.QUERIES:
                res = con.sql(oracles[q])
                cols = res.columns
                order = sorted(range(len(cols)), key=lambda j: cols[j])
                rows = [tuple(r[j] for j in order) for r in res.fetchall()]
                self.expected[q] = inputs.result_digest(cols, rows)
        finally:
            con.close()
        if self.ctx.corrupt_expected:
            n, h = self.expected[self.QUERIES[0]]
            self.expected[self.QUERIES[0]] = (n + 1, h)

    def warmup(self) -> list[Op]:
        """One untimed pass."""
        return [self.op(-1 - j) for j in range(len(self.QUERIES))]

    def op(self, i) -> Op:
        c = self.ctx
        q = self.QUERIES[i % len(self.QUERIES)]
        with c.counts.group(q) as gid, c.tracer.span(f"op:{q}", op=i):
            t0 = time.perf_counter()
            with c.tracer.span(f"analytics.{q}"):
                df = self.queries[q](c.spark, self.sf_dir)
                rows = df.collect()
            secs = time.perf_counter() - t0
        cols = sorted(df.columns)
        got = inputs.result_digest(
            cols, [tuple(r[k] for k in cols) for r in rows])
        ok = got == self.expected[q]
        return Op(q, secs, ok, gid, error="" if ok else (
            f"{q}: {got[0]} rows vs oracle {self.expected[q][0]}"))

    def passes(self, ops: list[Op]) -> list[float]:
        """Wall of each whole pass, the answer checks between queries
        left out."""
        n = len(self.QUERIES)
        return [sum(o.secs for o in ops[j:j + n])
                for j in range(0, len(ops) - n + 1, n)]

    def final_check(self) -> list[str]:
        return []

    def gbps(self, ops: list[Op]) -> tuple[float, int]:
        p = self.passes(ops)
        return median([self.src_bytes / s / 1e9 for s in p]), len(p)

    def bytes_ratio(self, ops: list[Op]) -> float:
        return self.stored_bytes / self.src_bytes

    def named(self, ops: list[Op]) -> list[tuple]:
        p = self.passes(ops)
        return [("query_suite_s", median(p), "s", len(p), "")]

    def report(self, ops: list[Op]) -> dict:
        counts = self.ctx.counts
        return {f"analytics.{q}_s": median([o.secs for o in ops if o.kind == q])
                for q in self.QUERIES} | {
            "analytics.stages_per_query": median(
                [counts.count(o.gid)[1] for o in ops])}


WORKLOADS = {w.name: w for w in (EncodeFiles, EncodeShuffleFpsc, ScanMixed,
                                 Analytics)}

