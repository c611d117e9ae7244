from __future__ import annotations

import os
import sys

import pytest

os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_TINY = "/root/testdata/sf0.001"
SF_SMALL = "/root/testdata/sf0.01"

SEMIDYNA = {
    54401005: (-0.00622, 0.01516, 0.0946),
    54401055: (-0.0062, 0.01529, 0.08972),
    54401100: (-0.00663, 0.01492, 0.10374),
    54401150: (-0.00664, 0.01506, 0.10087),
}


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    builder = SparkSession.builder.master("local[4]")
    if os.environ.get("SPARK_GRAFT_SLOW"):
        # the scale probes (sf0.1 halves, big-SF tier) collect
        # million-row results and join dense dup families — the 1g
        # default driver heap OOMs there; the gate only fires in
        # probe-only pytest processes, so the bump never affects the
        # regular suite
        builder = (SparkSession.builder.master("local[8]")
                   .config("spark.driver.memory", "8g"))
    s = (
        builder
        .appName("jgdtrans_rs_spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def semidyna_grid():
    from jgdtrans_rs_spark.grid import MeshGrid

    return MeshGrid.from_dict(SEMIDYNA, "SemiDynaEXE")


def reference_table(marker_start: str, marker_end: str):
    """Extract a (meshcode, (a, b, c)) constant table from the
    reference test source (read-only fixture mining, not code reuse)."""
    import re

    src = open("/root/reference/src/trans.rs", encoding="utf-8").read()
    seg = src[src.index(marker_start):src.index(marker_end)]
    rows = re.findall(r"\((\d{8}), \(([-0-9.e]+), ([-0-9.e]+), ([-0-9.e]+)\)\)", seg)
    return {int(c): (float(a), float(b), float(h)) for c, a, b, h in rows}


def reference_origins(marker_start: str, marker_end: str):
    import re

    src = open("/root/reference/src/trans.rs", encoding="utf-8").read()
    seg = src[src.index(marker_start):src.index(marker_end)]
    pts = re.findall(r"Point::new_unchecked\(([0-9.]+), ([0-9.]+), 0.0\)", seg)
    return [(float(a), float(b)) for a, b in pts]


def max_method_bytes(build) -> int:
    """Bytecode size of the largest whole-stage-codegen method in the
    executed plan of ``build()``, planned with AQE off so the codegen
    stages are in the plan.  HotSpot never JIT-compiles a method over
    8,000 bytes, so a stage above that runs interpreted; a stage that
    fails to compile (size -1) runs interpreted too and fails here."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    dbg = getattr(getattr(spark._jvm.org.apache.spark.sql.execution.debug, "package$"),
                  "MODULE$")
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        seq = dbg.codegenStringSeq(build()._jdf.queryExecution().executedPlan())
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    sizes = [seq.apply(i)._3().maxMethodCodeSize() for i in range(seq.size())]
    assert sizes and min(sizes) >= 0, sizes
    return max(sizes)
