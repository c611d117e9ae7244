"""Driver-local side-table builder: Arrow-built LocalRelation.

``spark.createDataFrame(rows)`` backs the frame with a parallelized RDD
of pickled Python rows; every evaluation — in particular every
``BroadcastExchange`` build, which happens once per downstream ACTION —
runs a Spark job of ~defaultParallelism tiny tasks and re-deserializes
the pickled rows in the JVM.  For the small driver-side side tables in
the hot query paths (the parameter-grid view, polygon name / box
relations) that job is fixed latency: measured ~0.25 s of every q1s
action at local[32] (four broadcast builds of a 4-row grid), and
2.15 s of the cold ``pages_pipeline`` sql_forward action on 4 CPUs
(its 20,445-row grid, above the earlier 16,384-row cap).  A
LocalRelation is collected driver-side by ``BroadcastExchange`` with
ZERO jobs (guide §2.4 — remove work per action, not resize it).

The table is built column by column as a ``pyarrow.Table`` and handed
to ``spark.createDataFrame(table, schema)``, which Spark 4.1 turns into
a LocalRelation.  Arrow carries each double's 64 bits unchanged, so
-0.0, NaN, the infinities, subnormals and NULL survive bit for bit, and
an empty row list is an empty LocalRelation (not an RDD scan).  The
SQL ``VALUES`` text this replaces (one exact literal per cell, as
``refine_pairs`` still renders its ring vertices) put the pages set-up
at 3.2-4.5 s with a 20k-row grid, against 1.0-1.2 s with the Arrow
build.

Above ``MAX_LOCAL_ROWS`` the builder falls back to
``createDataFrame(rows)``.  A LocalRelation is not free per action:
Catalyst walks its rows in every rule that maps a plan's expressions,
so each action's optimization grows with its row count.  Measured on 4 CPUs, fresh
process, 12k points through ``SqlEngine.forward`` (four references to
the grid), Arrow against the fallback:

    grid rows   first action        each later action
    20,445      4.0-4.3 vs 5.5-6.0  1.4-1.5 vs 1.0-1.5 s
    32,768      4.6-4.7 vs 5.1-5.4  1.6-2.0 vs 1.2-1.5 s
    65,536      5.2-5.5 vs 5.6-5.9  2.5-3.2 vs 1.5-1.6 s

so the cap is the smallest power of two above the pages grid.  Far
above it a LocalRelation is not even safe: a 4-join query over a
383,244-row (national grid) Arrow LocalRelation failed in
``LocalSchedulerBackendEndpoint`` with an ``Inbox`` error, where the
fallback ran the same query in 2.1 s.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

# the smallest power of two above the 20,445-row pages grid (module
# header: the per-action planning cost grows with the rows)
MAX_LOCAL_ROWS = 32768

# DDL type -> (Arrow type, the Python cast each non-NULL cell goes through)
_ARROW_TYPES = {
    "BIGINT": (pa.int64(), int), "LONG": (pa.int64(), int), "INT": (pa.int32(), int),
    "INTEGER": (pa.int32(), int), "SMALLINT": (pa.int16(), int), "TINYINT": (pa.int8(), int),
    "DOUBLE": (pa.float64(), float), "BOOLEAN": (pa.bool_(), bool), "STRING": (pa.string(), str),
}


def local_rows_df(spark: SparkSession, rows, schema: str) -> DataFrame:
    """Small driver-side rows -> DataFrame, as a LocalRelation when the
    row count allows (zero-job broadcast builds), else createDataFrame.

    ``schema`` is the simple DDL string form ("name type, ...") with
    types limited to long/int family, double, string, boolean —
    everything the engine's side tables use; richer types raise."""
    names, types = [], []
    for part in schema.split(","):
        name, typ = part.strip().split(None, 1)
        arrow = _ARROW_TYPES.get(typ.strip().upper())
        if arrow is None:
            raise ValueError(f"local_rows_df: unsupported type {typ!r}")
        names.append(name)
        types.append(arrow)
    rows = list(rows)
    if len(rows) > MAX_LOCAL_ROWS:
        return spark.createDataFrame(rows, schema=schema)
    columns = list(zip(*rows)) if rows else [()] * len(names)
    table = pa.table(
        [pa.array([None if v is None else cast(v) for v in c], type=t)
         for c, (t, cast) in zip(columns, types)],
        names=names)
    return spark.createDataFrame(table, schema=schema)


def grid_df(spark: SparkSession, grid) -> DataFrame:
    """The parameter grid's side table (meshcode, dlat_sec, dlon_sec,
    dalt_m), one row per ``MeshGrid`` node: ``Engine.grid_df`` and
    ``SqlEngine``'s broadcast view both read it."""
    return local_rows_df(
        spark, grid.to_rows(),
        schema="meshcode long, dlat_sec double, dlon_sec double, dalt_m double")
