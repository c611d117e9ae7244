"""The benchmark's workloads: what each one sets up, the operations its
closed loop issues, and how every result is checked.

Each workload reads only the files ``gen.generate`` wrote for it and
drives the library through its public API.  An operation returns
``(rows processed, result)``; ``check`` judges one result, and
``final_checks`` compares a seeded sample bit for bit against the numpy
kernels called in-process, plus the cross-engine and cross-operator
identities of the workload.
"""

from __future__ import annotations

import json
import os
import pickle
import shutil
import time

import numpy as np

from . import gen
from .harness import Probe

SAMPLE_ROWS = 10_000


def _timed(fn, *args, **kw):
    t0 = time.perf_counter()
    out = fn(*args, **kw)
    return out, time.perf_counter() - t0


def digest(probe, df, cols: list[str], status: str | None = None) -> tuple:
    """(rows, order-independent xxhash64 of ``cols``[, rows per status
    0..3]) in one aggregation; coordinates of failed rows are nulled so
    engines that mark them differently (NaN or NULL) digest alike."""
    from pyspark.sql import functions as F

    def col(c):
        if status and c.startswith("out_"):
            return F.when(F.col(status) == 0, F.col(c))
        return F.col(c)

    aggs = [F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(_h)").alias("h")]
    if status:
        aggs += [F.expr(f"count_if({status} = {k})").alias(f"s{k}") for k in range(4)]
    hashed = df.select(*[col(c).alias(c) for c in cols]).withColumn(
        "_h", F.xxhash64(*cols))
    return tuple(probe.collect(hashed.agg(*aggs))[0])


def same_bits(a, b) -> bool:
    """Bitwise equality of two float arrays (any NaN equals any NaN)."""
    a = np.ascontiguousarray(a, dtype=np.float64)
    b = np.ascontiguousarray(b, dtype=np.float64)
    if a.shape != b.shape:
        return False
    return bool(np.all((a.view(np.int64) == b.view(np.int64)) | (np.isnan(a) & np.isnan(b))))


def crossing_parity(lat, lon, ring) -> np.ndarray:
    """Crossing-number point-in-polygon test, written out here so the
    join checks do not lean on the library's own helper."""
    inside = np.zeros(lat.shape[0], dtype=bool)
    n = len(ring)
    for i in range(n):
        y1, x1 = ring[i]
        y2, x2 = ring[(i + 1) % n]
        if y1 == y2:
            continue
        with np.errstate(invalid="ignore"):
            inside ^= ((y1 > lat) != (y2 > lat)) & (lon < (x2 - x1) * (lat - y1) / (y2 - y1) + x1)
    return inside


def pip_pairs(keys, lat, lon, polys) -> set:
    out = set()
    for pid, ring in polys:
        hit = crossing_parity(lat, lon, ring)
        out.update((k, pid) for k in np.asarray(keys)[hit].tolist())
    return out


class Workload:
    """Shared state: generated inputs, labels and per-operation results."""

    name = ""
    grid_format = ""
    MAX_CYCLES: int | None = None

    def __init__(self, inputs: str, seed: int, work: str):
        self.inputs, self.seed, self.work = inputs, seed, work
        labels = np.load(os.path.join(inputs, "labels.npz"))
        self.lat, self.lon, self.alt = labels["lat"], labels["lon"], labels["alt"]
        self.label = labels["label"]
        counts = np.bincount(self.label, minlength=4)
        self.expected = tuple(int(c) for c in counts[:4])
        with open(os.path.join(inputs, "polygons.json"), encoding="utf-8") as f:
            self.polys = [(pid, [tuple(p) for p in ring]) for pid, ring in json.load(f)]
        self.first: dict[str, tuple] = {}
        self.warm_s: dict[str, float] = {}
        self.setup_parts: dict[str, list[float]] = {"parse_par_s": [], "engine_build_s": []}
        self.spark = None
        self.grid = None

    def _parse_grid(self):
        from jgdtrans_rs_spark.grid import parse_par

        with open(os.path.join(self.inputs, "grid.par"), encoding="utf-8") as f:
            text = f.read()
        self.grid, dt = _timed(parse_par, text, self.grid_format)
        self.setup_parts["parse_par_s"].append(dt)

    def grid_broadcast_bytes(self) -> int:
        return len(pickle.dumps(self.grid, protocol=pickle.HIGHEST_PROTOCOL))

    def warm(self) -> None:
        """Run every operation once on a small slice of the input, untimed
        and unchecked, so JIT compilation and lazy worker start-up finish
        before the loop starts timing."""
        full = self._swap_input(None)
        try:
            for name, fn in self.ops():
                _, self.warm_s[name] = _timed(fn, Probe())
        finally:
            self._swap_input(full)
            self.first.clear()

    def same_as_first(self, name: str, result: tuple) -> bool:
        return self.first.setdefault(name, result) == result

    def sample_filter(self, key: str, n_rows: int):
        """A seeded sample of about SAMPLE_ROWS rows, chosen by hashing
        the key with the seed."""
        from pyspark.sql import functions as F

        m = max(1, n_rows // (SAMPLE_ROWS + SAMPLE_ROWS // 5))
        return F.pmod(F.xxhash64(F.col(key), F.lit(self.seed)), F.lit(m)) == 0

    def batch(self):
        """A BATCH_ROWS-row slice of this workload's own point distribution."""
        from .harness import BATCH_ROWS

        return self.lat[:BATCH_ROWS], self.lon[:BATCH_ROWS], self.alt[:BATCH_ROWS]


class National(Workload):
    """1 km national grid, uniformly scattered points: the kernel, the
    grid lookup and the Arrow hop do the work."""

    name = "transform_national"
    grid_format = "TKY2JGD"
    FWD_COLS = ["pkey", "out_lat", "out_lon", "out_alt", "status", "err_meshcode", "err_corner"]

    def _persist_points(self):
        self.inp = self.spark.read.parquet(os.path.join(self.inputs, "points.parquet")).persist()
        self.inp.count()

    def _status_ok(self, result: tuple) -> bool:
        return tuple(result[2:6]) == self.expected

    def _warm_input(self):
        """A few rows from every partition of the input, so a warm-up
        action starts a Python worker per task slot."""
        from pyspark.sql import functions as F

        return self.inp.filter(F.col("pkey") % 64 == 0)

    def _swap_input(self, df):
        """Install ``df`` (None: the warm-up slice) as the input; return
        the previous one."""
        old = self.inp
        self.inp = self._warm_input() if df is None else df
        return old

    def _sample(self):
        """(sample frame, its rows in pkey order as numpy columns)."""
        df = self.inp.filter(self.sample_filter("pkey", self.label.size))
        rows = df.toPandas().sort_values("pkey").reset_index(drop=True)
        return df, {c: rows[c].to_numpy() for c in rows.columns}

    def _sample_bit_exact(self, op: str, df, s) -> bool:
        """The engine's ``op`` over the sample frame equals the numpy
        kernel called in-process, bit for bit."""
        from jgdtrans_rs_spark import kernel

        got = getattr(self.eng, op)(df).toPandas().sort_values("pkey")
        la, lo, al, c = getattr(kernel, op)(s["lat"], s["lon"], s["alt"], self.grid)
        return (len(got) == len(s["pkey"]) >= SAMPLE_ROWS
                and same_bits(got["out_lat"], la) and same_bits(got["out_lon"], lo)
                and same_bits(got["out_alt"], al)
                and np.array_equal(got["status"].to_numpy(), c.status)
                and np.array_equal(got["err_meshcode"].to_numpy(), c.err_meshcode))

    def setup(self, spark):
        from jgdtrans_rs_spark.engine import Engine

        self.spark = spark
        self._parse_grid()
        self.eng, dt = _timed(Engine, spark, self.grid)
        self.setup_parts["engine_build_s"].append(dt)
        self._persist_points()
        digest(Probe(), self.eng.forward(self._warm_input()), self.FWD_COLS, "status")

    def ops(self):
        return [("forward", self.forward), ("backward", self.backward),
                ("roundtrip", self.roundtrip), ("pip_join", self.pip_join)]

    def forward(self, probe):
        return self.label.size, digest(probe, self.eng.forward(self.inp), self.FWD_COLS, "status")

    def backward(self, probe):
        return self.label.size, digest(probe, self.eng.backward(self.inp), self.FWD_COLS, "status")

    def _roundtrip_df(self, df):
        return self.eng.roundtrip_verify(df).select("pkey", "roundtrip_exact", "status")

    def roundtrip(self, probe):
        return self.label.size, digest(probe, self._roundtrip_df(self.inp),
                                       ["pkey", "roundtrip_exact", "status"], "status")

    def _pip_df(self, df):
        from jgdtrans_rs_spark.engine import Engine

        masked = self.eng.transform_tile_pip(df, self.polys, fields=["status", "poly_mask"])
        return Engine.poly_mask_rows(masked, self.polys, how="inner").select("pkey", "poly_id")

    def pip_join(self, probe):
        return self.label.size, digest(probe, self._pip_df(self.inp), ["pkey", "poly_id"])

    def check(self, name, result) -> bool:
        ok = self.same_as_first(name, result)
        if name == "pip_join":
            return ok and result[0] > 0
        return ok and self._status_ok(result)

    def final_checks(self):
        from jgdtrans_rs_spark import kernel

        df, s = self._sample()
        la, lo, _, c = kernel.forward(s["lat"], s["lon"], s["alt"], self.grid)
        b_la, b_lo, _, bc = kernel.backward(la, lo, np.zeros_like(la), self.grid)
        exact = (b_la == s["lat"]) & (b_lo == s["lon"]) & (c.status == 0) & (bc.status == 0)
        rt = self._roundtrip_df(df).toPandas().sort_values("pkey")
        ok_lanes = c.status == 0
        pairs = {(int(k), p) for k, p in self._pip_df(df).collect()}
        want = pip_pairs(s["pkey"][ok_lanes], la[ok_lanes], lo[ok_lanes], self.polys)
        return [
            ("forward_sample_bit_exact", self._sample_bit_exact("forward", df, s)),
            ("backward_sample_bit_exact", self._sample_bit_exact("backward", df, s)),
            ("roundtrip_sample", np.array_equal(rt["roundtrip_exact"].to_numpy(dtype=bool), exact)),
            ("pip_sample_pairs", pairs == want and len(want) > 0),
        ]


class Pages(Workload):
    """Pages parquet -> geotag extraction -> transform -> checkpointed
    sink, then a read-side pass over the written output: a salted
    spatial join, kNN, and the JVM-only SqlEngine forward, its
    DataFrame built, planned and run afresh every time.

    Measured cold, the way a batch job runs each stage once: no warm
    pass and a single cycle, which carries first-execution planning,
    codegen and JIT costs.  A warm pass costs as much as a cycle, and
    after one the JIT keeps speeding up each further cycle, so the
    first cycle is the one state every run reproduces."""

    name = "pages_pipeline"
    grid_format = "SemiDynaEXE"
    N_GROUPS = 16
    # between the 2nd (~850 rows) and 3rd (~550 rows) hottest cell of
    # the Zipf(1.1) geotags, so every seed salts the same two cells
    HOT_THRESHOLD = 700
    MAX_CYCLES = 1
    SQL_FWD_COLS = ["url", "out_lat", "out_lon", "out_alt", "status", "err_meshcode", "err_corner"]

    def __init__(self, inputs, seed, work):
        super().__init__(inputs, seed, work)
        self.n_pages = int(self.label.size)
        self.n_geo = int((self.label == gen.LABEL_OK).sum())
        self.out_root = os.path.join(work, "sink")
        self.n_ingest = 0
        self.out = None

    def setup(self, spark):
        from jgdtrans_rs_spark.engine import Engine
        from jgdtrans_rs_spark.plans.spark_sql import SqlEngine
        from jgdtrans_rs_spark.sources.pages import extract_geotags

        self.spark = spark
        self._parse_grid()
        t0 = time.perf_counter()
        self.eng = Engine(spark, self.grid)
        self.se = SqlEngine(spark, self.grid)
        self.setup_parts["engine_build_s"].append(time.perf_counter() - t0)
        self.pages_path = os.path.join(self.inputs, "pages.parquet")
        self.pages = spark.read.parquet(self.pages_path)
        valid, _ = self.eng.validate(extract_geotags(self._warm_pages()), "lat", "lon")
        self.eng.transform_and_tile(valid, "lat", "lon", None).count()

    def _warm_pages(self):
        from pyspark.sql import functions as F

        return self.pages.filter(F.xxhash64("url") % 64 == 0)

    def warm(self) -> None:
        """Nothing: see the class docstring."""

    def ops(self):
        return [("ingest", self.ingest), ("salted_join", self.salted_join), ("knn", self.knn),
                ("sql_forward", self.sql_forward)]

    def ingest(self, probe):
        from jgdtrans_rs_spark.sources import sink
        from jgdtrans_rs_spark.sources.pages import extract_geotags

        if self.out is not None:
            shutil.rmtree(self.out, ignore_errors=True)
        self.n_ingest += 1
        self.out = os.path.join(self.out_root, f"run-{self.n_ingest}")
        sc = self.spark.sparkContext
        valid, quarantine = self.eng.validate(extract_geotags(self.pages), "lat", "lon")
        transformed = self.eng.transform_and_tile(valid, "lat", "lon", None, level=15)
        sc.setJobDescription("ingest/sink")
        manifests = sink.run_checkpointed(transformed, self.out, mesh_col="meshcode",
                                          n_groups=self.N_GROUPS)
        sc.setJobDescription("ingest/quarantine")
        n_q = quarantine.count()
        sc.setJobDescription("ingest")
        self.n_written = sum(m["n_rows"] for m in manifests)
        by_status = [0, 0, 0, 0]
        for m in manifests:
            for k, v in m["status_counts"].items():
                by_status[int(k)] += v
        return self.n_pages, (self.n_written, *by_status, n_q)

    def _written(self):
        from jgdtrans_rs_spark.sources import sink

        return sink.read_resumed(self.spark, self.out)

    def salted_join(self, probe):
        from jgdtrans_rs_spark.operators import spatial
        from jgdtrans_rs_spark.sources import sink

        hot = sink.hot_codes_from_manifests(self.out, self.spark, threshold=self.HOT_THRESHOLD)
        pairs = spatial.bucketed_spatial_join(
            self._written(), self.polys, self.grid.mesh_unit, key="url",
            lat="out_lat", lon="out_lon", mesh_col="meshcode", hot_codes=hot)
        return self.n_written, digest(probe, pairs, ["url", "poly_id"]) + (len(hot),)

    def _knn_df(self, df):
        from jgdtrans_rs_spark.operators import spatial
        from pyspark.sql import functions as F

        return spatial.knn_mesh_nodes(df.filter(F.col("status") == 0), self.grid.mesh_unit,
                                      k=3, key="url", lat="out_lat", lon="out_lon")

    def knn(self, probe):
        return self.n_geo, digest(probe, self._knn_df(self._written()),
                                  ["url", "rank", "node_code"])

    def _sql_input(self):
        """The written rows as SqlEngine input: key, source position, alt."""
        from pyspark.sql import functions as F

        return self._written().select("url", "lat", "lon", F.lit(0.0).alias("alt"))

    def _sql(self, probe, fn):
        """Build a SqlEngine DataFrame, timing the driver-side build."""
        df, dt = _timed(fn, self._sql_input(), key="url")
        probe.build_s += dt
        return df

    def sql_forward(self, probe):
        return self.n_geo, digest(probe, self._sql(probe, self.se.forward),
                                  self.SQL_FWD_COLS, "status")

    def check(self, name, result) -> bool:
        ok = self.same_as_first(name, result)
        if name == "ingest":
            n, s0, s1, s2, s3, n_q = result
            return ok and n + n_q == self.n_pages and s0 == self.n_geo and n_q == self.n_pages - self.n_geo
        if name == "salted_join":
            return ok and result[0] > 0 and result[2] > 0
        if name == "knn":
            return ok and result[0] == 3 * self.n_geo
        # sql_forward: every geotag sits in a fully parameterised cell
        return ok and result[0] == result[2] == self.n_geo

    def final_checks(self):
        from jgdtrans_rs_spark import kernel
        from jgdtrans_rs_spark.operators import spatial
        from pyspark.sql import functions as F

        written = self._written()
        src = self.spark.read.parquet(self.pages_path).select("url", F.col("text").alias("src_text"))
        joined = written.join(src, "url")
        text_ok = (joined.count() == self.n_geo
                   and joined.filter(~F.col("text").eqNullSafe(F.col("src_text"))).count() == 0)
        pip = spatial.point_in_polygon(written, self.polys, key="url", lat="out_lat", lon="out_lon")
        pip_ok = digest(Probe(), pip, ["url", "poly_id"]) == self.first["salted_join"][:2]
        sample = written.filter(self.sample_filter("url", self.n_geo))
        s = sample.select("url", "lat", "lon", "out_lat", "out_lon", "status").toPandas()
        s = s.sort_values("url").reset_index(drop=True)
        la, lo, _, c = kernel.forward(s["lat"].to_numpy(), s["lon"].to_numpy(),
                                      np.zeros(len(s)), self.grid)
        fwd_ok = (len(s) >= SAMPLE_ROWS and same_bits(s["out_lat"], la)
                  and same_bits(s["out_lon"], lo)
                  and np.array_equal(s["status"].to_numpy(), c.status))
        arrow = digest(Probe(), self.eng.forward(self._sql_input()), self.SQL_FWD_COLS, "status")
        knn = self._knn_df(sample).toPandas()
        top, keep = spatial.knn_topk_np(la, lo, self.grid.mesh_unit, 3)
        want = {(u, r + 1, int(top[i, r])) for i, u in enumerate(s["url"])
                for r in range(3) if keep[i, r]}
        got = set(zip(knn["url"], knn["rank"].astype(int), knn["node_code"].astype(int)))
        return [("text_identical_per_url", text_ok), ("salted_join_equals_pip", pip_ok),
                ("forward_sample_bit_exact", fwd_ok), ("knn_sample", got == want and len(want) > 0),
                        ("sql_forward_equals_arrow_engine", self.first["sql_forward"] == arrow)]

    def batch(self):
        from .harness import BATCH_ROWS

        ok = self.label == gen.LABEL_OK
        return (self.lat[ok][:BATCH_ROWS], self.lon[ok][:BATCH_ROWS],
                np.zeros(min(int(ok.sum()), BATCH_ROWS)))


WORKLOADS = {w.name: w for w in (National, Pages)}
