"""Benchmark entry point: one workload, one process, one Spark session.

    python3 perfbench/run.py --workload crawl_build --seed 1 --seconds 1 --trace 0

Run from the repository root. The run generates its inputs from
``--seed``, times passes of the workload (input on disk -> complete
outputs) until ``--seconds`` have elapsed, at least one pass, checks
every pass's outputs against the pure-Python recomputation, and prints
a readable summary line and then, as its last line, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json and
``--trace 1`` the per-layer ones; a traced run also writes its span dump
under ``.perfbench/traces/``. Exit status: 0 when every check passed,
1 when a check failed or the run raised, 2 when the package is missing.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

END_TO_END = {
    "wall_s": ("s", "lower"),
    "setup_s": ("s", "lower"),
}
LAYER_COSTS = {
    "wall_s": ("s", "lower"),
    "jobs": ("count", "lower"),
    "tasks": ("count", "lower"),
    "exec_cpu_s": ("s", "lower"),
    "shuffle_mb": ("MB", "lower"),
    "driver_gap_s": ("s", "lower"),
}
# span attributes reported as the median over a pass's spans of the layer
SPAN_ATTRS = {
    "streaming.kg_stream.ingest.bytes_written_mb": ("MB", "lower"),
    "streaming.kg_stream.compact.bytes_written_mb": ("MB", "lower"),
    "streaming.kg_stream.read.versions_scanned": ("count", "lower"),
    "training.align_pipeline.evaluate.hits1": ("ratio", "higher"),
}
# span durations reported as a median and a tail over a pass's spans
SPAN_TIMES = {
    "streaming.kg_stream.ingest.p50_s": ("s", "lower"),
    "streaming.kg_stream.ingest.tail_s": ("s", "lower"),
    "streaming.kg_stream.read.p50_s": ("s", "lower"),
}
RUN_COUNTERS = {
    "coverage_ratio": ("ratio", "higher"),
    "session.persistent_rdds_before": ("count", "lower"),
    "session.persistent_rdds_after": ("count", "lower"),
    "trace_overhead_ratio": ("ratio", "lower"),
}


def per_layer_metrics() -> dict[str, tuple[str, str]]:
    """{name: (unit, better)} of every metric a traced run reports: the
    per-layer metrics of BENCHMARK.json."""
    from workloads import LAYERS, ROWS_OUT_LAYERS, ZERO_COSTS

    out = {
        f"{layer}.{k}": ub for layer in LAYERS for k, ub in LAYER_COSTS.items()
        if f"{layer}.{k}" not in ZERO_COSTS
    }
    out.update({f"{layer}.rows_out": ("count", "higher") for layer in ROWS_OUT_LAYERS})
    out.update(SPAN_ATTRS)
    out.update(SPAN_TIMES)
    out.update(RUN_COUNTERS)
    return out


def _vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def start_session(run_dir: str, traced: bool, cpus: int):
    """The engine's own session factory on ``local[cpus]``, with every
    scratch location inside the run directory."""
    from ontoea_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # every JVM the launch starts keeps its temp files in the run dir and
    # writes no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # executor Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    conf = {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        # the status store keeps every job and stage of the run for the
        # join to spans (it exists with the UI off, as the engine runs)
        conf.update({
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    return get_spark(
        app_name="perfbench", master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 4), extra_conf=conf,
    )


def stop_session(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()  # the gateway JVM exits at end of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def layer_metrics(workload, tracer, persist: tuple[int, int], overhead: float):
    """Per-layer metrics — medians over passes of each layer's per-pass
    self costs, span attributes and span times — and the run counters.
    Also returns the jobs joined to the spans."""
    from spans import fetch_jobs, layer_costs
    from workloads import tail

    jobs = fetch_jobs(tracer.sc, {s.span_id for s in tracer.spans})
    per_pass = layer_costs(tracer.spans, jobs)
    passes = sorted(per_pass)

    def by_pass(fn):
        return statistics.median(fn(p) for p in passes)

    def layer_spans(layer, p):
        return [s for s in tracer.spans if s.name == layer and s.pass_no == p]

    names = per_layer_metrics()
    values: dict[str, float] = {}
    for name in names:
        layer, _, key = name.rpartition(".")
        if key in LAYER_COSTS:
            values[name] = by_pass(lambda p: per_pass[p].get(layer, {}).get(key, 0))
        elif key == "rows_out":
            values[name] = by_pass(
                lambda p: sum(s.attrs.get("rows_out", 0) for s in layer_spans(layer, p))
            )
        elif name in SPAN_ATTRS:
            values[name] = by_pass(lambda p: statistics.median(
                [s.attrs[key] for s in layer_spans(layer, p) if key in s.attrs] or [0]
            ))
    for name in SPAN_TIMES:
        layer, _, key = name.rpartition(".")

        def stat(p):
            ts = [s.end - s.start for s in layer_spans(layer, p)]
            if not ts:
                return 0.0
            return statistics.median(ts) if key == "p50_s" else tail(ts)[0]

        values[name] = by_pass(stat)

    def coverage(p):
        whole = layer_spans("bench.pass", p)[0]
        return 1 - per_pass[p]["bench.pass"]["wall_s"] / (whole.end - whole.start)

    values["coverage_ratio"] = by_pass(coverage)
    values["session.persistent_rdds_before"] = persist[0]
    values["session.persistent_rdds_after"] = persist[1]
    values["trace_overhead_ratio"] = overhead
    return {k: (values[k], u) for k, (u, _b) in names.items()}, jobs


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, HERE]
    try:
        import ontoea_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the package from {ROOT}: {e}", file=sys.stderr)
        return 2
    from spans import Tracer
    from workloads import WORKLOADS, Ctx, instrumented

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload]
    run_id = f"{args.workload}-s{args.seed}-{uuid.uuid4().hex[:8]}"
    run_dir = os.path.join(WORK, "runs", run_id)
    os.makedirs(run_dir)
    traced = bool(args.trace)
    cpus = os.cpu_count() or 1
    spark = None
    summary = {"workload": workload.name, "seed": args.seed}
    try:
        t0 = time.perf_counter()
        spark = start_session(run_dir, traced, cpus)
        session_s = time.perf_counter() - t0
        tracer = Tracer(spark.sparkContext, run_id, traced)
        ctx = Ctx(spark, tracer, run_dir, f"pb_{uuid.uuid4().hex[:8]}", cpus)
        t = time.perf_counter()
        inputs = workload.setup(ctx, args.seed)
        gen_s = time.perf_counter() - t
        t = time.perf_counter()
        workload.warm_up(ctx, inputs)
        warmup_s = time.perf_counter() - t
        setup_s = time.perf_counter() - t0

        jsc = spark.sparkContext._jsc
        persist_before = jsc.getPersistentRDDs().size()
        walls, outs = [], []
        t_start = time.perf_counter()
        with instrumented(tracer) if traced else contextlib.nullcontext():
            while not walls or time.perf_counter() - t_start < args.seconds:
                tracer.pass_no = len(walls)
                t = time.perf_counter()
                with tracer.span("bench.pass"):
                    outs.append(workload.run_pass(ctx, inputs, len(walls)))
                walls.append(time.perf_counter() - t)
        persist_after = jsc.getPersistentRDDs().size()
        # read before the checks, whose collects and recomputation are
        # the benchmark's own work
        peak_rss_mb = _vm_hwm_mb("self") + _vm_hwm_mb(spark.sparkContext._gateway.proc.pid)
        errors, attempted = [], 0
        for out in outs:
            try:
                results = workload.check(ctx, inputs, out)
            except Exception as e:  # outputs that cannot be read back
                traceback.print_exc()
                results = [f"check raised {e!r}"]
            attempted += len(results)
            errors += [r for r in results if r is not None]
        wall_s = statistics.median(walls)
        summary.update({
            "pass_walls_s": walls, "session_s": session_s, "gen_s": gen_s,
            "warmup_s": warmup_s, "peak_rss_mb": peak_rss_mb, **workload.report(outs[-1]),
        })
        if inputs["n_pages"]:
            summary["pages_per_s"] = inputs["n_pages"] / wall_s
        if traced:
            overhead = sum(walls) / (sum(walls) - tracer.overhead_s)
            metrics, jobs = layer_metrics(
                workload, tracer, (persist_before, persist_after), overhead
            )
            dump = os.path.join(WORK, "traces", f"{run_id}.json")
            os.makedirs(os.path.dirname(dump), exist_ok=True)
            tracer.dump(dump, jobs, {
                "workload": workload.name, "seed": args.seed,
                "settings": workload.settings(), "summary": summary,
            })
            summary["trace_dump"] = os.path.relpath(dump, ROOT)
        else:
            values = {"wall_s": wall_s, "setup_s": setup_s}
            metrics = {k: (values[k], u) for k, (u, _b) in END_TO_END.items()}
        for out in outs:
            workload.cleanup(ctx, out)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    for e in errors:
        print(f"perfbench: check failed: {e}", file=sys.stderr)
    print(json.dumps(summary))
    print(json.dumps({
        "correct": not errors,
        "attempted": attempted,
        "failed": len(errors),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if not errors else 1


if __name__ == "__main__":
    sys.exit(main())
