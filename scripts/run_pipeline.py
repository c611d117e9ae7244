#!/usr/bin/env python
"""spark-submit entry point for the production pipeline (north rule:
``spark-submit --py-files jgdtrans_rs_spark.zip scripts/run_pipeline.py``).

Pure PySpark deployment — no JVM extensions, no custom jars.  The
input is a table of web pages ``(url, warc_ts, html, text, lang)``:
``--input`` names an Iceberg table (when the session has an Iceberg
catalog) or a parquet directory, read by ``sources/tables.read_table``.
An ``--input`` directory that holds ``orders.parquet`` is an sf dir
instead, and the deterministic pages source is derived from it
(``sources/pages.synth_pages``).  ``--warc`` ingests raw crawl
archives through the same downstream chain.

Usage:
    spark-submit --py-files jgdtrans_rs_spark.zip scripts/run_pipeline.py \
        --par SemiDynaEXE.par --format SemiDynaEXE \
        --input <sf dir | pages table> --output /tmp/out

The job is resumable: each mesh-bucket group writes a manifest on
completion; rerunning with the same ``--output`` skips completed
groups (sources/sink.py).
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--par", help="par file path (omit to use the fixture grid)")
    ap.add_argument("--format", default="SemiDynaEXE")
    src_group = ap.add_mutually_exclusive_group(required=True)
    src_group.add_argument("--input", help="sf dir (holds orders.parquet), "
                           "parquet pages table or Iceberg identifier")
    src_group.add_argument("--warc", help="directory of .warc(.gz) crawl "
                           "files to ingest instead of the page table")
    ap.add_argument("--output", required=True)
    ap.add_argument("--n-groups", type=int, default=64)
    ap.add_argument("--quadkey-level", type=int, default=15)
    args = ap.parse_args(argv)

    spark = SparkSession.builder.appName("jgdtrans-pipeline").getOrCreate()
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    from jgdtrans_rs_spark.engine import Engine
    from jgdtrans_rs_spark.grid import MeshGrid, load_par
    from jgdtrans_rs_spark.sources import pages as pages_src
    from jgdtrans_rs_spark.sources import sink

    if args.par:
        grid = load_par(args.par, args.format)
    else:
        from __spark_entry__ import SEMIDYNA

        grid = MeshGrid.from_dict(SEMIDYNA, args.format)
    eng = Engine(spark, grid)

    if args.warc:
        # raw crawl archives: same downstream chain, different source
        from jgdtrans_rs_spark.sources.warc import pages_from_warc

        pages = pages_from_warc(spark, args.warc)
    else:
        # resolved through Hadoop so object-store URIs work too
        _, fs, orders = sink._hadoop(
            spark, f"{args.input.rstrip('/')}/orders.parquet")
        if fs.exists(orders):
            pages = pages_src.synth_pages(spark, args.input)
        else:
            from jgdtrans_rs_spark.sources import tables

            pages = tables.read_table(spark, args.input)
    extracted = pages_src.extract_geotags(pages)
    valid, quarantine = eng.validate(extracted, "lat", "lon")
    transformed = eng.transform_and_tile(valid, "lat", "lon", None,
                                         level=args.quadkey_level)

    manifests = sink.run_checkpointed(
        transformed, args.output, mesh_col="meshcode", n_groups=args.n_groups
    )
    n_quarantine = quarantine.count()
    print(json.dumps({
        "groups_written": [m["bucket_group"] for m in manifests],
        "rows": sum(m["n_rows"] for m in manifests),
        "ok": sum(m["n_ok"] for m in manifests),
        "quarantined": n_quarantine,
    }))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
