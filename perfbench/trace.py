"""Per-layer measurements, all taken from outside the library.

* Spark's own event log (uncompressed, one file per traced session):
  task-end metrics and accumulables (Python worker boot/init/run time,
  bytes to and from Python, CPU, GC, shuffle), job spans, and the
  physical plans of every SQL execution an operation triggered.  Work
  is attributed to an operation through the job description the loop
  sets before each one.
* numpy microbenchmarks of the public ``grid``, ``mesh`` and ``kernel``
  functions on 65,536-row batches of the workload's own points.
* A host stamp: commit, CPU count and library versions.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import platform
import statistics
import subprocess
import time

import numpy as np

PY_ACCUMS = {
    "time to start Python workers": "python_boot_ms",
    "time to initialize Python workers": "python_init_ms",
    "time to run Python workers": "python_run_ms",
    "data sent to Python workers": "arrow_bytes_to_python",
    "data returned from Python workers": "arrow_bytes_from_python",
}


def _walk(node):
    yield node
    for c in node.get("children", []):
        yield from _walk(c)


class EventLog:
    """The parts of one event log the benchmark reads."""

    def __init__(self, event_dir: str):
        files = [f for f in glob.glob(os.path.join(event_dir, "**", "*"), recursive=True)
                 if os.path.isfile(f) and not os.path.basename(f).startswith(".")]
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.tasks: list[dict] = []
        self.execs: dict[int, dict] = {}
        for path in sorted(files):
            with open(path, encoding="utf-8") as f:
                for line in f:
                    if line.strip():
                        self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            exec_id = props.get("spark.sql.execution.id")
            self.jobs[e["Job ID"]] = {
                "desc": props.get("spark.job.description") or "",
                "exec": int(exec_id) if exec_id is not None else None,
                "start": e["Submission Time"], "end": None,
            }
            for s in e.get("Stage IDs", []):
                self.stage_job[s] = e["Job ID"]
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in self.jobs:
                self.jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            acc = {a.get("Name"): a.get("Update") for a in info.get("Accumulables", [])}
            job = self.jobs.get(self.stage_job.get(e["Stage ID"]), {})
            sr, sw = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
            self.tasks.append({
                "desc": job.get("desc", ""),
                "stage": e["Stage ID"],
                "ms": info["Finish Time"] - info["Launch Time"],
                "cpu_ns": m.get("Executor CPU Time", 0),
                "gc_ms": m.get("JVM GC Time", 0),
                "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                **{k: int(acc.get(name) or 0) for name, k in PY_ACCUMS.items()},
            })
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            self.execs[e["executionId"]] = {
                "desc": e.get("description") or "",
                "plan": e.get("physicalPlanDescription") or "",
                "info": e.get("sparkPlanInfo") or {},
            }

    @staticmethod
    def _op(desc: str) -> str:
        return desc.split("/", 1)[0]

    def summary(self, ops: list[str], cycles: int, pages_path: str | None) -> dict:
        """Per-layer totals over the loop's operations, per cycle."""
        tasks = [t for t in self.tasks if self._op(t["desc"]) in ops]
        jobs = {j: v for j, v in self.jobs.items() if self._op(v["desc"]) in ops}
        out = {f"spark.{k}": sum(t[k] for t in tasks) / cycles for k in PY_ACCUMS.values()}
        out.update({
            "spark.executor_cpu_ms": sum(t["cpu_ns"] for t in tasks) / 1e6 / cycles,
            "spark.gc_ms": sum(t["gc_ms"] for t in tasks) / cycles,
            "spark.tasks": len(tasks) / cycles,
            "spark.jobs": len(jobs) / cycles,
            "spark.shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks) / cycles,
            "spark.shuffle_read_bytes": sum(t["shuffle_read"] for t in tasks) / cycles,
            "spark.task_ms_max_over_median": self._skew(tasks),
        })
        sql = [x for x in self.execs.values() if self._op(x["desc"]).startswith("sql_")]
        nodes = [n for x in sql for n in _walk(x["info"])]
        out["spark_sql.plan_nodes"] = len(nodes) / cycles
        out["spark_sql.join_nodes"] = sum("Join" in n.get("nodeName", "") for n in nodes) / cycles
        # the sink's data write versus its manifest-metrics jobs
        write_ms = metrics_ms = 0
        for v in jobs.values():
            if v["desc"] != "ingest/sink" or v["end"] is None:
                continue
            plan = self.execs.get(v["exec"], {}).get("plan", "")
            if "InsertIntoHadoopFsRelationCommand" in plan:
                write_ms += v["end"] - v["start"]
            else:
                metrics_ms += v["end"] - v["start"]
        out["sink.write_job_ms"] = write_ms / cycles
        out["sink.metrics_jobs_ms"] = metrics_ms / cycles
        passes = 0
        if pages_path:
            loc = os.path.basename(pages_path)
            for x in self.execs.values():
                if self._op(x["desc"]) == "ingest":
                    passes += sum(n.get("nodeName", "").startswith("Scan")
                                  and loc in json.dumps(n.get("metadata", {}))
                                  for n in _walk(x["info"]))
        out["pages_pipeline.input_passes"] = passes / cycles
        return out

    @staticmethod
    def _skew(tasks: list[dict]) -> float:
        """max/median task time in the stage with the most task time."""
        by_stage: dict[int, list[int]] = {}
        for t in tasks:
            by_stage.setdefault(t["stage"], []).append(t["ms"])
        if not by_stage:
            return 0.0
        heavy = max(by_stage.values(), key=sum)
        med = statistics.median(heavy)
        return max(heavy) / med if med > 0 else 1.0


def _ns_per_row(fn, rows: int, reps: int = 5) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times) / rows * 1e9


def microbench(grid, lat, lon, alt) -> dict:
    """The numpy layers on one batch of the workload's own points."""
    from jgdtrans_rs_spark import kernel, mesh

    n = lat.shape[0]
    lat_d, lon_d, _ = mesh.point_to_digits(lat, lon, grid.mesh_unit)
    codes = mesh.digits_to_meshcode(lat_d, lon_d)
    f_la, f_lo, f_al, fc = kernel.forward(lat, lon, alt, grid)
    b_la, b_lo, _, bc = kernel.backward(f_la, f_lo, f_al, grid)
    ok = fc.status == 0
    return {
        "grid.lookup_ns_per_row": _ns_per_row(lambda: grid.lookup(codes), n),
        "kernel.forward_ns_per_row": _ns_per_row(lambda: kernel.forward(lat, lon, alt, grid), n),
        "kernel.backward_ns_per_row": _ns_per_row(lambda: kernel.backward(lat, lon, alt, grid), n),
        "mesh.point_to_digits_ns_per_row": _ns_per_row(
            lambda: mesh.point_to_digits(lat, lon, grid.mesh_unit), n),
        "mesh.quadkey_ns_per_row": _ns_per_row(lambda: mesh.quadkey(lat, lon, 15), n),
        "kernel.ok_ratio": float(ok.mean()),
        "kernel.roundtrip_exact_ratio": float(
            (ok & (bc.status == 0) & (b_la == lat) & (b_lo == lon)).mean()),
    }


def dir_bytes_files(path: str) -> tuple[int, int]:
    """(bytes, files) of the parquet data files under ``path``."""
    size = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                size += os.path.getsize(os.path.join(dirpath, n))
                files += 1
    return size, files


def host_stamp(root: str) -> dict:
    """Commit (or, outside a git checkout, a digest of the library
    sources), CPU count and versions."""
    import pyspark

    try:
        commit = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
                                text=True, timeout=10, check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        commit = None
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(root, "jgdtrans_rs_spark", "**", "*.py"),
                                 recursive=True)):
        with open(path, "rb") as f:
            h.update(f.read())
    return {
        "commit": commit,
        "source_sha256": h.hexdigest(),
        "nproc": len(os.sched_getaffinity(0)),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "numpy": np.__version__,
    }
