#!/usr/bin/env python
"""Hardware control for the scaling protocol: run the q4 UDF body
(kernel.forward + tile encode + the ``spatial.polygon_mask`` kernel)
as plain numpy in P worker processes pinned to C cores — no Spark, no
Arrow, no JVM.

The measured P=1@2cores -> P=4@8cores ratio is the ceiling ANY engine
can reach for this workload on this guest's memory system; BASELINE.md
reports engine efficiency alongside this control.

Usage: python scripts/probe_numpy_control.py
"""
import json
import multiprocessing as mp
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ROWS = int(os.environ.get("ROWS", "6000000"))
# mirrors spark.sql.execution.arrow.maxRecordsPerBatch by default
BATCH = int(os.environ.get("BATCH", "65536"))


def _worker(args):
    seed, n_rows = args
    import numpy as np
    from jgdtrans_rs_spark import kernel, mesh
    from jgdtrans_rs_spark.operators.spatial import polygon_mask
    import __spark_entry__ as entry_mod

    grid = entry_mod._GRID
    poly_mask = polygon_mask(entry_mod.POLYGONS)
    rng = np.random.default_rng(seed)
    done = 0
    t0 = time.perf_counter()
    while done < n_rows:
        n = min(BATCH, n_rows - done)
        la = 35.0 + rng.random(n) * 2.0
        lo = 138.5 + rng.random(n) * 2.5
        al = rng.random(n) * 100.0
        out_la, out_lo, out_al, c = kernel.forward(la, lo, al, grid)
        lat_d, lon_d, valid = mesh.point_to_digits(out_la, out_lo, grid.mesh_unit)
        code = mesh.digits_to_meshcode(lat_d, lon_d)
        poly_mask(out_la, out_lo)
        done += n
    return time.perf_counter() - t0


def run_level(procs: int, cpuset: str) -> float:
    os.sched_setaffinity(0, {int(c) for part in cpuset.split(",")
                             for c in range(int(part.split("-")[0]),
                                            int(part.split("-")[1]) + 1)})
    per = ROWS // procs
    with mp.get_context("spawn").Pool(procs) as pool:
        t0 = time.perf_counter()
        pool.map(_worker, [(s, per) for s in range(procs)])
        wall = time.perf_counter() - t0
    return ROWS / wall


if __name__ == "__main__":
    reps = int(os.environ.get("REPS", "2"))
    thr_n = max(run_level(1, "0-1") for _ in range(reps))
    thr_4n = max(run_level(4, "0-7") for _ in range(reps))
    print(json.dumps({
        "rows": ROWS,
        "numpy_throughput_n_2cores": round(thr_n, 1),
        "numpy_throughput_4n_8cores": round(thr_4n, 1),
        "hw_ceiling_efficiency": round(thr_4n / (4.0 * thr_n), 3),
    }))
