"""The repository benchmark: one command, one workload, one seed.

    python3 perfbench/run.py --workload transform_national --seed 1 \\
        --seconds 10 --trace 0

Generates (or reuses) the seeded inputs, sets up ``SETUP_REPS`` times
(fresh SparkContext, par parse, engine build and broadcast, persisted
input, one warm-up action), runs the workload's closed loop for
``--seconds`` (``run_seconds`` in BENCHMARK.json, so every commit is
measured over the same length), checks every result, and prints one
JSON object as the last line of standard output.

``--trace 0`` reports the end-to-end metrics (``END_TO_END``).
``--trace 1`` runs the same loop with Spark's event log on and reports
the per-layer metrics (``LAYERS``).  Its tracing overhead compares the
traced loop with the untraced runs of the same workload already made
in this checkout; when there are none, it first makes one, as a child
process with the same seed and length.  A human-readable report
(per-operation medians and quartiles, checks, error rate, host stamp)
is printed on the line before and kept under ``.perfbench/reports``.

Run from the repository root.  Everything the run writes stays under
``.perfbench/`` in that root.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

SETUP_REPS = 3
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("transform_national", "pages_pipeline")

END_TO_END = {
    "setup_s": "s",
    "rows_per_s": "1/s",
    "op_geomean_rows_per_s": "1/s",
    "peak_rss_mb": "MB",
}

# per-layer metric -> (unit, better, the end-to-end metric it should
# move, the workload where it should move; on the other it should not)
LAYERS = {
    "grid.lookup_ns_per_row": ("ns", "lower", "rows_per_s", "transform_national"),
    "kernel.forward_ns_per_row": ("ns", "lower", "rows_per_s", "transform_national"),
    "kernel.backward_ns_per_row": ("ns", "lower", "rows_per_s", "transform_national"),
    "mesh.point_to_digits_ns_per_row": ("ns", "lower", "rows_per_s", "transform_national"),
    "mesh.quadkey_ns_per_row": ("ns", "lower", "rows_per_s", "transform_national"),
    "kernel.ok_ratio": ("ratio", "higher", "rows_per_s", "transform_national"),
    "kernel.roundtrip_exact_ratio": ("ratio", "higher", "rows_per_s", "transform_national"),
    "spark.python_boot_ms": ("ms", "lower", "rows_per_s", "transform_national"),
    "spark.python_init_ms": ("ms", "lower", "rows_per_s", "transform_national"),
    "spark.python_run_ms": ("ms", "lower", "rows_per_s", "transform_national"),
    "spark.arrow_bytes_to_python": ("B", "lower", "rows_per_s", "transform_national"),
    "spark.arrow_bytes_from_python": ("B", "lower", "rows_per_s", "transform_national"),
    "engine.build_ms": ("ms", "lower", "setup_s", "transform_national"),
    "grid.parse_par_s": ("s", "lower", "setup_s", "transform_national"),
    "engine.grid_broadcast_bytes": ("B", "lower", "setup_s", "transform_national"),
    "spark.plan_ms": ("ms", "lower", "op_geomean_rows_per_s", "pages_pipeline"),
    "spark_sql.build_ms": ("ms", "lower", "op_geomean_rows_per_s", "pages_pipeline"),
    "spark_sql.join_nodes": ("count", "lower", "op_geomean_rows_per_s", "pages_pipeline"),
    "spark_sql.plan_nodes": ("count", "lower", "op_geomean_rows_per_s", "pages_pipeline"),
    "sink.write_job_ms": ("ms", "lower", "rows_per_s", "pages_pipeline"),
    "sink.metrics_jobs_ms": ("ms", "lower", "rows_per_s", "pages_pipeline"),
    "sink.bytes_written": ("B", "lower", "rows_per_s", "pages_pipeline"),
    "sink.files_written": ("count", "lower", "rows_per_s", "pages_pipeline"),
    "sources.extract_ok_ratio": ("ratio", "higher", "rows_per_s", "pages_pipeline"),
    "pages_pipeline.input_passes": ("count", "lower", "rows_per_s", "pages_pipeline"),
    "spark.shuffle_write_bytes": ("B", "lower", "op_geomean_rows_per_s", "pages_pipeline"),
    "spark.shuffle_read_bytes": ("B", "lower", "op_geomean_rows_per_s", "pages_pipeline"),
    "spark.task_ms_max_over_median": ("ratio", "lower", "op_geomean_rows_per_s", "pages_pipeline"),
    "spark.executor_cpu_ms": ("ms", "lower", "rows_per_s", "both"),
    "spark.gc_ms": ("ms", "lower", "peak_rss_mb", "both"),
    "spark.tasks": ("count", "lower", "rows_per_s", "both"),
    "spark.jobs": ("count", "lower", "rows_per_s", "both"),
    "trace.overhead_pct": ("%", "lower", "rows_per_s", "both"),
}


def _setup(wl, harness, event_dir=None):
    t0 = time.perf_counter()
    spark = harness.new_session(wl.work, event_dir)
    wl.setup(spark)
    return spark, time.perf_counter() - t0


def _untraced_history(reports: str, workload: str) -> list[float]:
    """rows_per_s of every untraced run of ``workload`` kept in ``reports``."""
    out = []
    for path in glob.glob(os.path.join(reports, f"{workload}-*-trace0.json")):
        with open(path, encoding="utf-8") as f:
            out.append(json.load(f)["metrics"]["rows_per_s"]["value"])
    return out


def _measure(wl, harness, tracelib, traced, seconds, baseline, phases):
    """Set up, loop, check.  Returns (timed loop, set-up times, per-layer
    metrics or None, final checks, peak RSS in kB); adds the wall time
    of each phase to ``phases``."""
    spark = None
    layers = None
    setups = []

    def phase(name, fn, *args):
        t0 = time.perf_counter()
        out = fn(*args)
        phases[name] = phases.get(name, 0.0) + time.perf_counter() - t0
        return out

    with harness.RssSampler() as rss:
        try:
            # one traced session only: job ids restart in every SparkContext
            event_dir = os.path.join(wl.work, "events") if traced else None
            for _ in range(1 if traced else SETUP_REPS):
                if spark is not None:
                    spark.stop()
                spark, dt = _setup(wl, harness, event_dir)
                setups.append(dt)
            phase("warm", wl.warm)
            probe = harness.Probe(trace=traced)
            loop = phase("loop", harness.Loop(spark, wl, probe).run, seconds)
            checks = phase("checks", wl.final_checks)
            if traced:
                layers = phase("layers", _layers, wl, loop, probe, tracelib, event_dir,
                               spark, baseline)
        finally:
            phase("shutdown", harness.shutdown, spark)
    return loop, setups, layers, checks, rss.peak_kb


def _layers(wl, traced, probe, trace, event_dir, spark, baseline) -> dict:
    """Every per-layer metric for this workload (0 where the workload
    never reaches the layer)."""
    cycles = traced.cycles
    out_dir = getattr(wl, "out", None)
    bytes_written, files_written = trace.dir_bytes_files(out_dir) if out_dir else (0, 0)
    spark.stop()  # flushes the event log
    layers = trace.EventLog(event_dir).summary(list(traced.times), cycles,
                                               getattr(wl, "pages_path", None))
    layers.update(trace.microbench(wl.grid, *wl.batch()))
    layers.update({
        "grid.parse_par_s": statistics.median(wl.setup_parts["parse_par_s"]),
        "engine.build_ms": statistics.median(wl.setup_parts["engine_build_s"]) * 1e3,
        "engine.grid_broadcast_bytes": wl.grid_broadcast_bytes(),
        "spark.plan_ms": probe.plan_s * 1e3 / cycles,
        "spark_sql.build_ms": probe.build_s * 1e3 / cycles,
        "sink.bytes_written": bytes_written,
        "sink.files_written": files_written,
        "sources.extract_ok_ratio": (wl.n_written / wl.n_pages) if out_dir else 0.0,
        "trace.overhead_pct": (statistics.median(baseline) / traced.rows_per_s() - 1.0) * 100.0,
    })
    return layers


def _prune_inputs(root: str, workload: str, keep: int = 3) -> None:
    """Keep the input cache bounded: the newest ``keep`` seeds per workload."""
    dirs = sorted((d for d in os.listdir(root) if d.startswith(workload + "-")),
                  key=lambda d: os.path.getmtime(os.path.join(root, d)))
    for d in dirs[:-keep]:
        shutil.rmtree(os.path.join(root, d), ignore_errors=True)


def run(workload: str, seed: int, seconds: float, trace: int, work_root: str) -> tuple[dict, dict]:
    """One benchmark run with everything it writes under ``work_root``.
    Returns (result line, human-readable report)."""
    from perfbench import gen, harness, workloads
    from perfbench import trace as tracelib

    inputs_root = os.path.join(work_root, "inputs")
    inputs = gen.generate(workload, seed, inputs_root)
    os.utime(inputs)
    _prune_inputs(inputs_root, workload)
    reports = os.path.join(work_root, "reports")
    baseline = _untraced_history(reports, workload) if trace else []
    if trace and not baseline:
        # the untraced run writes its report into ``reports``; its own
        # output goes to our standard error
        subprocess.run([sys.executable, os.path.abspath(__file__), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       stdout=sys.stderr, check=True, timeout=170)
        baseline = _untraced_history(reports, workload)
    work = os.path.join(work_root, "runs", f"{workload}-{seed}-{os.getpid()}")
    harness.process_env(ROOT, work)
    wl = workloads.WORKLOADS[workload](inputs, seed, work)
    phases: dict[str, float] = {}
    try:
        loop, setups, layers, checks, peak_kb = _measure(
            wl, harness, tracelib, trace, seconds, baseline, phases)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failed_checks = [name for name, ok in checks if not ok]
    attempted = loop.attempted + len(checks)
    failed = loop.failed + len(failed_checks)
    if trace:
        metrics = {k: {"value": float(layers[k]), "unit": spec[0]} for k, spec in LAYERS.items()}
    else:
        values = {
            "setup_s": statistics.median(setups),
            "rows_per_s": loop.rows_per_s(),
            "op_geomean_rows_per_s": loop.op_geomean_rows_per_s(),
            "peak_rss_mb": peak_kb / 1024.0,
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    report = {
        "workload": workload, "seed": seed, "trace": trace, "seconds": seconds,
        "stamp": tracelib.host_stamp(ROOT),
        "setup_s": setups,
        "phases_s": phases,
        "warm_s": wl.warm_s,
        "cycles": loop.cycles,
        "ops": {n: {"median_s": loop.op_median(n), "quartiles_s": loop.op_quartiles(n),
                    "runs": len(loop.times[n]), "rows": loop.rows[n],
                    "rows_per_s": loop.rows[n] / loop.op_median(n)}
                for n in loop.times},
        "error_rate": failed / attempted,
        "failed_checks": failed_checks,
    }
    if trace:
        report["trace_baseline_runs"] = len(baseline)
    os.makedirs(reports, exist_ok=True)
    with open(os.path.join(reports, f"{workload}-{seed}-trace{trace}.json"), "w",
              encoding="utf-8") as f:
        json.dump({**report, "metrics": metrics}, f, indent=1)
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    return result, report


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "jgdtrans_rs_spark")):
        print(f"perfbench: no jgdtrans_rs_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    result, report = run(args.workload, args.seed, args.seconds, args.trace,
                         os.path.join(ROOT, ".perfbench"))
    print(json.dumps({"report": report}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
