"""Seeded, checked benchmark of the prclz_spark engine on local[min(nproc, 4)].

    python3 perfbench/run.py --workload region_k --seed 1 --seconds 15 --trace 0

Run from the repository root. One run: start a Spark session, warm it up the
way bench.py does, generate the workload's inputs from --seed (several times;
set-up time is the median), run one checked warm pass, then at least
MIN_PASSES checked passes and more while they fit in --seconds. Every metric
is printed as '# metric <name> = <value> <unit>'; the last line is one JSON
object with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). A traced run first measures untraced passes, then traced passes,
the layer probes and its companion workloads, and writes its spans to
.bench_out/spans-<workload>-<seed>.jsonl. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(1, os.path.dirname(HERE))

MAX_CORES = 4
SHUFFLE_PARTITIONS = 8
SETUP_REPS = 3
# measured passes per run: the median of three drops the slower first pass
# of a run that is still warming; traced runs take two of each kind to stay
# within their time limit
MIN_PASSES, MIN_TRACED_PASSES = 3, 2

E2E = {"setup_s": "s", "job_s": "s", "cpu_s": "s", "peak_rss_mb": "MiB"}
# ops per workload, reported as <op>_s (a per-layer metric on every workload)
OPS = ("region_k", "pipeline", "resume", "pip", "pip_skew", "knn", "radius", "ingest", "assign", "coverage")
LAYERS = {
    "plan.analysis_ms": "ms", "plan.optimization_ms": "ms", "plan.planning_ms": "ms",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count", "exec.run_ms": "ms",
    "exec.cpu_ms": "ms", "exec.shuffle_read_mb": "MiB", "exec.shuffle_write_mb": "MiB",
    "exec.max_task_ms": "ms", "exec.median_task_ms": "ms",
    "arrow.py_init_ms": "ms", "arrow.py_run_ms": "ms", "arrow.to_py_mb": "MiB", "arrow.from_py_mb": "MiB",
    "functions.st.cells_ms": "ms", "functions.st.centroid_cell_ms": "ms", "functions.st.contains_xy_ms": "ms",
    "cells.cover_ms": "ms", "cells.cells_per_poly": "count",
    "kernels.planar.polygonize_ms": "ms", "kernels.planar.complexity_ms": "ms",
    "kernels.planar.max_block_ms": "ms", "kernels.planar.blocks": "count", "geom.pip_bulk_ms": "ms",
    "operators.blocks.s": "s", "operators.parcels.s": "s", "operators.complexity.s": "s",
    "operators.reblock_op.s": "s",
    "operators.ledger.filter_pending_ms": "ms", "operators.ledger.rows": "count",
    "pipeline.files_written": "count", "pipeline.bytes_written_mb": "MiB",
    "pipeline.rows_recomputed_on_resume": "count",
    "operators.sjoin.candidates": "count", "operators.sjoin.hit_ratio": "ratio",
    "operators.knn.rounds": "count", "operators.knn.candidates_per_result": "ratio",
    "operators.skew.hot_cells": "count", "operators.skew.histogram_ms": "ms",
    "iceberg_lite.append_ms": "ms", "iceberg_lite.commits": "count", "iceberg_lite.manifests": "count",
    "iceberg_lite.data_files": "count", "iceberg_lite.bytes_per_user_byte": "ratio",
    "iceberg_lite.read_ms": "ms",
    "images.decode_ms": "ms", "raster.assign_ms": "ms", "raster.coverage_ms": "ms",
    **{f"{op}_s": "s" for op in OPS},
    "fail_frac": "ratio", "trace.overhead_s": "s",
}


def start_spark(workload: str, cores: int, work_dir: str, extra: dict):
    from prclz_spark.session import get_spark

    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = get_spark(
        f"local[{cores}]", app=f"perfbench-{workload}", shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            "spark.local.dir": os.path.join(work_dir, "spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
            **extra,
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def warm_up(spark) -> None:
    """bench.py's warm-up: JVM JIT, pre-forked Python workers, pre-imported
    kernels."""
    from pyspark.sql.functions import pandas_udf

    spark.range(10_000_000).selectExpr("sum(id)").collect()

    @pandas_udf("long")
    def _warm(s):
        import networkx  # noqa: F401

        import prclz_spark.kernels.planar  # noqa: F401
        import prclz_spark.kernels.reblock  # noqa: F401

        return s

    spark.range(0, 1 << 14, 1, SHUFFLE_PARTITIONS).select(_warm("id")).count()


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Runner:
    """Runs checked passes of one workload and counts attempted/failed ops."""

    def __init__(self, wl):
        self.wl = wl
        self.attempted = 0
        self.failed = 0

    def one_pass(self):
        """Run every op once; returns (pass seconds, cpu seconds, op seconds)
        or None if any op failed. Only the ops' program calls are timed,
        not their checks."""
        from measure import tree_cpu_s

        ok, op_s, wall, cpu = True, {}, 0.0, 0.0
        for op in self.wl.ops():
            self.attempted += 1
            try:
                c0, t0 = tree_cpu_s(), time.perf_counter()
                with self.wl.tracer.span(f"op.{op.name}"):
                    out = op.run()
                dt, dc = time.perf_counter() - t0, tree_cpu_s() - c0
                problems = op.check(out)
            except Exception:
                problems = [traceback.format_exc(limit=3)]
            if problems:
                self.failed += 1
                ok = False
                print(f"# FAILED {self.wl.name}.{op.name}: {problems}", file=sys.stderr)
            else:
                op_s[op.name] = dt
                wall += dt
                cpu += dc
        return (wall, cpu, op_s) if ok else None

    def passes(self, seconds: float, min_passes: int, on_pass=None) -> list:
        """At least ``min_passes`` checked passes, then more until the next one
        would overrun ``seconds``. Each pass starts from a collected heap in
        the JVM and in this process, so it pays for its own garbage only."""
        out, t0 = [], time.perf_counter()
        while True:
            self.wl.spark.sparkContext._jvm.System.gc()
            gc.collect()
            if on_pass:
                on_pass("start")
            p = self.one_pass()
            if p is not None:
                out.append(p)
                if on_pass:
                    on_pass("end")
            elapsed = time.perf_counter() - t0
            typical = median([q[0] for q in out]) if out else elapsed
            if self.failed > 3 or (len(out) >= min_passes and elapsed + typical > seconds):
                return out


def summarize(passes: list) -> dict:
    m = {"job_s": median([p[0] for p in passes]), "cpu_s": median([p[1] for p in passes])}
    for op in OPS:
        vals = [p[2][op] for p in passes if op in p[2]]
        if vals:
            m[f"{op}_s"] = median(vals)
    return m


def traced_layers(spark, wl, run: Runner, seconds: float, e2e: dict) -> tuple:
    """Traced passes, layer probes and companion workloads; returns
    (per-layer metrics, traced passes)."""
    from measure import SparkMetrics

    wl.tracer.enabled = True
    sm = SparkMetrics(spark)
    per_pass: list = []

    def on_pass(event):
        if event == "start":
            sm.mark()
            wl.plan_ms = dict.fromkeys(wl.plan_ms, 0.0)
        else:
            per_pass.append({**sm.read(), **{f"plan.{k}_ms": v for k, v in wl.plan_ms.items()}})

    with wl.tracer.span("traced_passes"):
        traced = run.passes(seconds, MIN_TRACED_PASSES, on_pass)
    layer: dict = {}
    with wl.tracer.span("layer_probes"):
        layer.update(wl.layer_metrics())
    op_s = {k: v for k, v in e2e.items() if k[:-2] in OPS}
    for comp_cls in wl.COMPANIONS:
        # a workload too slow to time on its own: two checked passes (the
        # first warms it) and its layer probes
        comp = comp_cls(spark, wl.seed, wl.work_dir, wl.tracer, wl.partitions)
        with wl.tracer.span(f"companion.{comp.name}"):
            comp.make_inputs()
            crun = Runner(comp)
            crun.one_pass()
            cp = crun.one_pass()
            layer.update(comp.layer_metrics())
        run.attempted += crun.attempted
        run.failed += crun.failed
        op_s.update({f"{op}_s": v for op, v in (cp[2] if cp else {}).items()})
    for key in per_pass[0] if per_pass else []:
        layer[key] = median([p[key] for p in per_pass])
    layer["trace.overhead_s"] = (summarize(traced)["job_s"] - e2e["job_s"]) if traced else 0.0
    layer["raster.assign_ms"] = op_s.get("assign_s", 0.0) * 1e3
    layer["raster.coverage_ms"] = op_s.get("coverage_s", 0.0) * 1e3
    layer.update({f"{op}_s": op_s.get(f"{op}_s", 0.0) for op in OPS})
    return layer, traced


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    work_dir = os.path.join(root, ".bench_work", f"{args.workload}-{os.getpid()}")
    os.environ["TMPDIR"] = os.path.join(work_dir, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    spark = None
    try:
        import workloads as W
        from measure import PeakMemory, Tracer, self_time_by_name
        from pyspark import SparkContext

        if args.workload not in W.WORKLOADS:
            raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(W.WORKLOADS)}")
        cls = W.WORKLOADS[args.workload]
        cores = min(os.cpu_count() or 1, MAX_CORES)
        spark = start_spark(args.workload, cores, work_dir, cls.CONF)
        session_s = time.perf_counter() - T_START
        t0 = time.perf_counter()
        warm_up(spark)
        warm_s = time.perf_counter() - t0
        tracer = Tracer(run_id=f"{args.workload}-{args.seed}-{os.getpid()}", enabled=False)
        wl = cls(spark, args.seed, work_dir, tracer, SHUFFLE_PARTITIONS)
        # a traced run reports no set-up time, so it generates inputs once
        inputs_s = []
        for _ in range(1 if args.trace else SETUP_REPS):
            t0 = time.perf_counter()
            wl.make_inputs()
            inputs_s.append(time.perf_counter() - t0)
        # one checked pass of the workload itself: plan JIT and the first
        # fork of every Python worker it needs (bench.py's min-of-2 drops the
        # same cold run)
        run = Runner(wl)
        t0 = time.perf_counter()
        run.one_pass()
        warm_pass_s = time.perf_counter() - t0
        setup_s = session_s + warm_s + median(inputs_s) + warm_pass_s

        # a traced run splits its seconds between untraced and traced passes
        window = args.seconds / 2 if args.trace else args.seconds
        with PeakMemory(rss_pids={SparkContext._gateway.proc.pid}) as rss:
            passes = run.passes(window, MIN_TRACED_PASSES if args.trace else MIN_PASSES)
        e2e = {"setup_s": setup_s, **summarize(passes), "peak_rss_mb": rss.peak} if passes else {}
        layer, traced = traced_layers(spark, wl, run, window, e2e) if args.trace and passes else ({}, [])
        fail_frac = run.failed / max(run.attempted, 1)
        layer["fail_frac"] = fail_frac

        config = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
                  "cores": cores, "shuffle_partitions": SHUFFLE_PARTITIONS,
                  "pass_s": [round(p[0], 3) for p in passes],
                  "session_s": session_s, "warm_s": warm_s, "inputs_s": inputs_s, "warm_pass_s": warm_pass_s,
                  **wl.config()}
        print("# config " + json.dumps(config))
        for name, v in {**e2e, "fail_frac": fail_frac}.items():
            print(f"# metric {name} = {v:.6g} {E2E.get(name) or LAYERS[name]}")
        if traced:
            tracer.write(os.path.join(root, ".bench_out", f"spans-{args.workload}-{args.seed}.jsonl"))
            for name, s in sorted(self_time_by_name(tracer.spans).items()):
                print(f"# self_time {name} = {s:.4f} s")
            for name in LAYERS:
                print(f"# layer {name} = {layer.get(name, 0.0):.6g} {LAYERS[name]}")
        if not passes or (args.trace and not traced):
            print("# no checked pass completed", file=sys.stderr)
            return 1
        if args.trace:
            metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u} for k, u in LAYERS.items()}
        else:
            metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in E2E.items()}
        print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                          "failed": run.failed, "metrics": metrics}))
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work_dir))  # only if no other run uses it
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
