#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload encode-files --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``).  The lines before it are a readable table of the same
run, with each figure's unit and sample count.  A traced run also
writes its spans, self times and layer figures to
``.perfbench/trace/<workload>-s<seed>.json``.

Everything the run writes (inputs cache, Spark scratch, outputs, the
native-kernel build) stays under ``.perfbench/`` in the checkout.  See
``perfbench/README.md`` for what each workload and metric is for.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SIZES = {
    "full": {"encode_rows": 400_000, "scan_rows": 20_000, "scan_files": 4,
             "analytics_scale": 0.25, "prepare_reps": 3},
    "tiny": {"encode_rows": 16_000, "scan_rows": 4_000, "scan_files": 4,
             "analytics_scale": 0.1, "prepare_reps": 1},
}

# name -> (unit, better); the contract of BENCHMARK.json
END_TO_END = {
    "setup_s": ("s", "lower"),
    "op_s_p50": ("s", "lower"),
    "op_s_tail": ("s", "lower"),
    "gbps": ("GB/s", "higher"),
    "bytes_ratio": ("ratio", "lower"),
    "peak_rss_mb": ("MB", "lower"),
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    help='a workload name, or "all" for every workload in turn')
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    ap.add_argument("--cores", type=int, default=os.cpu_count())
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="perturb one expected answer (self-test of the "
                         "correctness gate)")
    return ap.parse_args(argv)


def isolate(work: str) -> None:
    """Keep every file the run and its children write inside ``work``;
    let Python workers import the package and these modules."""
    for d in ("tmp", "native", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["FPS_NATIVE_CACHE"] = os.path.join(work, "native")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, HERE])
    import tempfile

    tempfile.tempdir = None
    sys.path.insert(0, ROOT)


def load_native() -> dict:
    from fastparquet_spark.codecs import native

    cache = native._cache_dir()
    warm = os.path.isdir(cache) and any(
        f.startswith("fsst_") and f.endswith(".so") for f in os.listdir(cache))
    t0 = time.perf_counter()
    lib = native._load()
    return {"native_loaded": lib is not None, "native_cache_warm": warm,
            "native_load_s": time.perf_counter() - t0}


def scaling_probe(args, seconds: float) -> float:
    """encode-files GB/s at local[1], in its own process and session."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"),
           "--workload", "encode-files", "--seed", str(args.seed),
           "--seconds", str(seconds), "--trace", "0", "--size", args.size,
           "--cores", "1"]
    out = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT,
                         timeout=170)
    if out.returncode != 0:
        raise RuntimeError(f"local[1] run failed: {out.stderr[-2000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])[
        "metrics"]["gbps"]["value"]


def e2e_metrics(wl, ops, setup_s, peak_rss) -> dict:
    """name -> (value, samples[, note])."""
    from harness import median, p90

    secs = [o.secs for o in ops if o.kind in wl.latency_kinds]
    return {
        "setup_s": (setup_s, 1),
        "op_s_p50": (median(secs), len(secs)),
        "op_s_tail": (p90(secs), len(secs), "p90"),
        "gbps": wl.gbps(ops),
        "bytes_ratio": (wl.bytes_ratio(ops), 1),
        "peak_rss_mb": (peak_rss / 1e6, 1),
    }


def run(args) -> int:
    work = os.path.join(ROOT, ".perfbench")
    isolate(work)
    import layers
    from harness import (
        RssSampler, SparkCounts, Tracer, cpu_jiffies, fingerprint, median,
        start_spark, stop_spark, steal_ratio,
    )
    from workloads import WORKLOADS, Context

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"known: {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    size = SIZES[args.size]
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    tracer = Tracer(enabled=False)
    failures: list[str] = []  # one message per failed attempt
    ops = []
    attempted = 0
    spark = None
    try:
        ctx = Context(None, tracer, None, run_dir,
                      os.path.join(work, "cache"), args.cores, args.seed,
                      size, args.corrupt_expected)
        wl = WORKLOADS[args.workload](ctx)
        # inputs first, before the session and the RSS sampler start, so
        # a cold input cache changes neither
        datagen_s = wl.inputs()
        with RssSampler() as rss:
            t0 = time.perf_counter()
            native = load_native()
            spark = start_spark(run_dir, args.cores,
                                f"perfbench-{args.workload}")
            from fastparquet_spark.sources import (
                FpscDataSource, FpsDataSource,
            )

            spark.dataSource.register(FpsDataSource)
            spark.dataSource.register(FpscDataSource)
            start_s = time.perf_counter() - t0
            ctx.spark, ctx.counts = spark, SparkCounts(spark)
            prep = []
            for _ in range(size["prepare_reps"]):
                tp = time.perf_counter()
                wl.prepare()
                prep.append(time.perf_counter() - tp)
            tw = time.perf_counter()
            for op in getattr(wl, "warmup", lambda: [wl.op(-1)])():
                attempted += 1
                if not op.ok:
                    failures.append(f"warm-up {op.kind}: {op.error}")
            setup_s = start_s + median(prep) + time.perf_counter() - tw

            tracer.enabled = bool(args.trace)
            deadline = time.perf_counter() + args.seconds
            jiffies = cpu_jiffies()
            while True:
                if args.trace:
                    # alternate traced and untraced ops for the overhead
                    tracer.enabled = len(ops) % 2 == 0
                op = wl.op(len(ops))
                op.info["traced"] = tracer.enabled
                ops.append(op)
                attempted += 1
                if not op.ok:
                    failures.append(f"op {len(ops) - 1} {op.kind}: {op.error}")
                if time.perf_counter() >= deadline and len(ops) >= max(
                        getattr(wl, "min_ops", 1), 2 if args.trace else 1) \
                        and len(ops) % getattr(wl, "op_block", 1) == 0:
                    break
            tracer.enabled = bool(args.trace)
            steal = steal_ratio(jiffies, cpu_jiffies())

            attempted += 1
            failures += wl.final_check()[:1]

            layer = {}
            if args.trace:
                layer, kernels, probe_fail = layers.probe_layers(
                    layers.sample_table(size["scan_rows"], args.seed),
                    os.path.join(run_dir, "probe"), args.seed,
                    size["scan_files"], tracer)
                attempted += 1
                failures += probe_fail[:1]
                layer.update(wl.report(ops))
                if hasattr(wl, "report_failures"):
                    attempted += 1
                    failures += wl.report_failures[:1]
                layer.update(spark_layer(ctx, ops))
                layer["engine.datagen_s"] = datagen_s
                layer["trace.overhead_ratio"] = overhead_ratio(ops)
            stop_spark(spark)
            spark = None
            peak = rss.peak
        if args.trace and args.workload == "encode-files" and args.cores > 1:
            attempted += 1
            try:
                g1 = scaling_probe(args, min(args.seconds, 4.0))
                layer["engine.scaling_eff"] = (wl.gbps(ops)[0]
                                               / (args.cores * g1))
            except (RuntimeError, subprocess.TimeoutExpired) as e:
                failures.append(f"scaling probe: {e}")
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    failed = len(failures)
    e2e = e2e_metrics(wl, ops, setup_s, peak)
    box = fingerprint(ROOT, native)
    print_table(args, box, e2e, wl.named(ops), attempted, failed,
                failures, datagen_s, steal, layer)
    if args.trace:
        out = write_trace(work, args, box, tracer, ops, layer, kernels)
        print(f"# trace written to {os.path.relpath(out, ROOT)}")
        metrics = {k: {"value": v, "unit": layer_unit(k)}
                   for k, v in sorted(layer.items())
                   if k in per_layer_names()}
    else:
        metrics = {k: {"value": e2e[k][0], "unit": END_TO_END[k][0]}
                   for k in END_TO_END}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def spark_layer(ctx, ops) -> dict:
    """Jobs, stages and tasks per op."""
    from harness import median

    per_op = [ctx.counts.count(o.gid) for o in ops if o.gid]
    return {f"engine.spark_{k}_per_op": median([c[i] for c in per_op])
            for i, k in enumerate(("jobs", "stages", "tasks"))}


def overhead_ratio(ops) -> float:
    """Traced over untraced op wall, per op kind, medians; the median
    over the kinds that have both."""
    from harness import median

    ratios = []
    for kind in sorted({o.kind for o in ops}):
        on = [o.secs for o in ops if o.kind == kind and o.info["traced"]]
        off = [o.secs for o in ops if o.kind == kind and not o.info["traced"]]
        if on and off:
            ratios.append(median(on) / median(off))
    return median(ratios)


def per_layer_names() -> set[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"] for m in json.load(f)["per_layer"]}


def layer_unit(name: str) -> str:
    if name.endswith("_s") or "_s_" in name:
        return "s"
    if name.endswith(("_ratio", "_per_source_byte", "scaling_eff")) or \
            "_over_" in name:
        return "ratio"
    if name.endswith("_mb_per_scan"):
        return "MB"
    return "count"


def print_table(args, box, e2e, named, attempted, failed, failures,
                datagen_s, steal, layer) -> None:
    from harness import fmt

    print(f"# perfbench {args.workload} seed={args.seed} "
          f"seconds={args.seconds:g} trace={args.trace} size={args.size} "
          f"cores={args.cores}")
    print("# box " + " ".join(f"{k}={fmt(v)}" for k, v in box.items()))
    print(f"# {'metric':<40} {'value':>14} {'unit':<8} {'n':>5}")
    for k, (unit, _better) in END_TO_END.items():
        v = e2e[k]
        note = f" ({v[2]})" if len(v) > 2 else ""
        print(f"  {k:<40} {fmt(v[0]):>14} {unit:<8} {v[1]:>5}{note}")
    for name, v, unit, n, note in named:
        print(f"  {name:<40} {fmt(v):>14} {unit:<8} {n:>5} {note}")
    print(f"  {'error_rate':<40} {fmt(failed / attempted):>14} "
          f"{'ratio':<8} {attempted:>5}")
    # CPU time the hypervisor gave to other guests while the ops ran:
    # the shared box's noise, seen from inside
    print(f"  {'box.steal_ratio':<40} {fmt(steal):>14} {'ratio':<8} {1:>5}")
    if not layer:
        print(f"  {'engine.datagen_s':<40} {fmt(datagen_s):>14} {'s':<8} "
              f"{1:>5}")
    for k in sorted(layer):
        print(f"  {k:<40} {fmt(layer[k]):>14} {layer_unit(k):<8}")
    for f in failures[:20]:
        print(f"# FAILED: {f}")


def write_trace(work, args, box, tracer, ops, layer, kernels) -> str:
    d = os.path.join(work, "trace")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{args.workload}-s{args.seed}.json")
    self_times = tracer.self_times()
    with open(path, "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed, "box": box,
                   "layers": layer, "kernels": kernels,
                   "self_times": self_times,
                   "ops": [{"i": i, "kind": o.kind, "secs": o.secs,
                            "ok": o.ok, "traced": o.info.get("traced")}
                           for i, o in enumerate(ops)],
                   "spans": tracer.spans}, f, indent=1)
    print(f"# {'span':<44} {'count':>6} {'total_s':>10} {'self_s':>10}")
    for name, s in sorted(self_times.items(), key=lambda kv: -kv[1]["self_s"]):
        print(f"  {name:<44} {s['count']:>6} {s['total_s']:>10.4f} "
              f"{s['self_s']:>10.4f}")
    return path


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "fastparquet_spark",
                                       "__init__.py")):
        print(f"perfbench: no fastparquet_spark package under {ROOT}; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    return run_all(args) if args.workload == "all" else run(args)


def run_all(args) -> int:
    """Every workload in turn, each in its own process: their tables,
    then one JSON line of workload -> result."""
    from workloads import WORKLOADS

    results = {}
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--size", args.size,
               "--cores", str(args.cores)]
        if args.corrupt_expected:
            cmd.append("--corrupt-expected")
        out = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT)
        lines = out.stdout.strip().splitlines()
        print("\n".join(lines[:-1]), flush=True)
        if out.returncode != 0 or not lines:
            print(f"# {name} exited {out.returncode}\n{out.stderr[-2000:]}")
            results[name] = None
            continue
        results[name] = json.loads(lines[-1])
    print(json.dumps(results))
    return 0 if all(r and r["correct"] for r in results.values()) else 1


if __name__ == "__main__":
    sys.exit(main())
