"""Raster <-> vector operators over the JGD mesh (north-rule item).

The mesh IS the raster: a cell (meshcode) is a pixel whose geometry is
recoverable exactly from the code.  Both directions are declarative:

* ``rasterize`` — points + values -> per-cell aggregates (one shuffle
  on the tile key; partial aggregation map-side).  The standard way to
  turn a 10^12-point corpus into a density/feature raster.
* ``vectorize`` — raster cells -> exact cell-corner geometry (pure
  batch-local math, no shuffle), ready for polygon overlay or export.

Both read the tile column ``meshcode`` that ``Engine.assign_tiles``
writes.  Both are SQL-expressible and carry full DuckDB oracles.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from .. import mesh


def rasterize(points: DataFrame, value_col: str) -> DataFrame:
    """Aggregate point values onto the mesh raster:
    (meshcode, n_points, value_cents) — integer cent sums for exact
    cross-engine comparison."""
    return (
        points.filter(F.col("meshcode") != -1)
        .groupBy("meshcode")
        .agg(
            F.count("*").cast("long").alias("n_points"),
            # try_cast, not cast: under ANSI mode one NaN/Inf value
            # would CAST_OVERFLOW-abort the whole aggregation; the
            # NULL cents row is the visible quarantine instead
            F.sum(F.round(F.col(value_col) * 100.0)
                  .try_cast("long")).alias("value_cents"),
        )
    )


def vectorize(raster: DataFrame, unit: int) -> DataFrame:
    """Recover each raster cell's exact corner geometry:
    (meshcode, sw_lat, sw_lon, ne_lat, ne_lon) using the reference's
    pinned node->degree math (coord.rs:322-380)."""
    schema = StructType([
        StructField("sw_lat", DoubleType(), True),
        StructField("sw_lon", DoubleType(), True),
        StructField("ne_lat", DoubleType(), True),
        StructField("ne_lon", DoubleType(), True),
    ])

    @F.pandas_udf(schema)
    def corners(codes: pd.Series) -> pd.DataFrame:
        c = codes.to_numpy(dtype=np.int64)
        lat_d, lon_d, valid = mesh.meshcode_to_digits(c)
        # unit alignment: a unit-1 meshcode vectorized at unit=5 would
        # otherwise fabricate a pseudo-cell via out-of-range digit
        # carries (6+5=11) and flag it valid — the reference's
        # MeshCoord::try_next_up rejects unit-misaligned coordinates
        # (coord.rs:409-463), so the NaN quarantine must too
        if unit != 1:
            valid = valid & (lat_d[2] % unit == 0) & (lon_d[2] % unit == 0)
        north = mesh.next_north(lat_d, unit)
        east = mesh.next_east(lon_d, unit)
        sw_lat = mesh.digits_to_lat(lat_d)
        sw_lon = mesh.digits_to_lon(lon_d)
        ne_lat = mesh.digits_to_lat(north)
        ne_lon = mesh.digits_to_lon(east)
        nan = np.nan
        return pd.DataFrame({
            "sw_lat": np.where(valid, sw_lat, nan),
            "sw_lon": np.where(valid, sw_lon, nan),
            "ne_lat": np.where(valid, ne_lat, nan),
            "ne_lon": np.where(valid, ne_lon, nan),
        })

    return raster.withColumn("_c", corners(F.col("meshcode"))).select(
        *[c for c in raster.columns], "_c.*"
    )
