"""jgdtrans_rs_spark — a PySpark-native spatial-join + tiling engine.

A from-scratch Spark re-expression of the semantics of
``paqira/jgdtrans-rs`` (GIAJ gridded-correction coordinate transforms,
JGD mesh tiling) extended into a web-scale spatial engine: broadcast
Arrow mesh grids, vectorized pandas/Arrow UDF transform kernels,
meshcode/quadkey tile assignment, point-in-polygon + bucketed spatial
joins (candidates broadcast, refined in codegen), kNN over mesh nodes,
and the training-data pipeline operators (dedup, similarity search,
text analysis) a 100 TB corpus needs.

Layout:
    mesh.py      vectorized JGD mesh kernels (numpy)
    grid.py      par parser + broadcastable MeshGrid + exact statistics
    kernel.py    forward/backward transform kernels (numpy)
    dms.py       degree-minute-second scalar functions
    engine.py    the Spark layer (broadcast grid, pandas_udf transforms)
    functions/   pure Column expression helpers (JVM-side, codegen-friendly)
    operators/   spatial joins, kNN, dedup, similarity, text, raster
    sources/     synthetic pages + binary metadata, WARC reader,
                 parquet/Iceberg table reader, checkpointed sink
    plans/       SQL generators shared with the DuckDB oracle
"""

from .workerenv import patch_zipimport_invalidate_caches

# Applied at import so every Spark Python WORKER that unpickles a
# kernel UDF gets it once per (reused) process: CPython 3.11 re-reads
# every zip directory on sys.path on each per-task
# importlib.invalidate_caches() — ~165 ms of worker CPU per task on
# this build; the 3.12-style mtime guard removes it (workerenv.py).
patch_zipimport_invalidate_caches()

from .grid import MeshGrid, load_par, parse_par
from .kernel import (
    STATUS_CORRECTION_NOT_FOUND,
    STATUS_OK,
    STATUS_OUT_OF_BOUNDS,
    STATUS_PARAMETER_NOT_FOUND,
)

__all__ = [
    "MeshGrid",
    "load_par",
    "parse_par",
    "STATUS_OK",
    "STATUS_OUT_OF_BOUNDS",
    "STATUS_PARAMETER_NOT_FOUND",
    "STATUS_CORRECTION_NOT_FOUND",
]

__version__ = "0.1.0"
