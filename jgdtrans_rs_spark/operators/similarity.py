"""Similarity search over embedding columns.

* ``ann_lsh_topk`` — random-hyperplane LSH bucketing: each vector is
  signed against ``n_planes`` fixed hyperplanes; candidates share a
  bucket, exact cosine only on candidates.  At 100 TB this turns the
  O(n·q) scan into a bucket-local join; planes are deterministic
  (seeded) so results are reproducible.
* ``embedding_near_dup`` — pairs above a cosine threshold via the same
  bucketing.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType, LongType

from ..plans import webops


def _persist_stage(df: DataFrame, base_name: str) -> DataFrame:
    """Persist a stage AND register it in the shared stage registry
    (operators/dedup._register_stage_view), so one
    ``dedup.reclaim_stages(spark)`` call unpersists every staged block
    and drops its temp view (ADVICE r04) — without it, repeated
    operator calls in a long session would pin blocks reachable only
    through LRU eviction and leave one view per call in the catalog.
    Same cache contract as operators/dedup."""
    from . import dedup as _dedup

    out = df.persist()
    _dedup._register_stage_view(out.sparkSession, out, base_name)
    return out


def infer_dim(df: DataFrame, vec_col: str = "embedding") -> int:
    """Modal vector length — one narrow deterministic pass (group on
    ``size(vec_col)``; the aggregate is a handful of distinct lengths).
    This backs the operators' ``dim=None`` default: previously ``dim``
    defaulted to 64, so a caller with (say) 768-dim embeddings who
    didn't pass it got EVERY vector tagged wrong-length (sentinel
    bucket -1) and silently empty results.

    Why a full pass and not ``limit(1024)``: limit takes whichever
    rows the scan produces first, so on a mixed-length corpus the
    inferred dim would flip with partitioning/file order — the exact
    nondeterminism ``train_ivf_centroids`` documents avoiding.  Every
    caller invokes this immediately before a full signature pass over
    the same frame, so the extra scan is a small constant factor; at
    corpus scale pass ``dim=`` explicitly and pay nothing.  Mixed
    lengths resolve to the most common (ties to the smaller) and the
    minority lengths keep the documented sentinel policy."""
    rows = (
        df.filter(F.col(vec_col).isNotNull())
        .select(F.size(vec_col).alias("_d"))
        .filter(F.col("_d") > 0)
        .groupBy("_d").count()
        .orderBy(F.desc("count"), F.asc("_d")).take(1)
    )
    if not rows:
        raise ValueError(
            f"infer_dim: no non-empty '{vec_col}' vectors to sample — "
            f"pass dim= explicitly")
    return int(rows[0]["_d"])


def _planes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    # single source of truth with the DuckDB oracle's hyperplane
    # literals (webops._lsh_planes_values) — one generator, two
    # executions, so the full-replication oracles stay bit-honest
    return webops.lsh_planes(dim, n_planes, seed)


def _dense_ok(vecs: "pd.Series", dim: int):
    """Dense float64 matrix + validity mask, the ONE degenerate-row
    policy for the embedding operators: NULL, wrong-length, or
    NON-FINITE vectors get a zero row and ok=False.  The finiteness
    check matters (round-5 review): Spark compares NaN GREATER than
    every double, so a NaN that reaches a cosine threshold filter
    PASSES it (bogus near-dup pairs), a NaN sample poisons every
    k-means centroid, and NaN sign bits collapse all such vectors
    into one guaranteed-hot bucket instead of the -1 sentinel."""
    ok = np.array([v is not None and len(v) == dim for v in vecs], dtype=bool)
    mat = np.array(
        [np.asarray(v, dtype=np.float64) if good else np.zeros(dim)
         for v, good in zip(vecs, ok)])
    finite = np.isfinite(mat).all(axis=1)
    ok &= finite
    mat[~ok] = 0.0
    return mat, ok


def signature_buckets(df: DataFrame, dim: int | None = None,
                      n_planes: int = 12, n_tables: int = 1,
                      vec_col: str = "embedding") -> DataFrame:
    """Add LSH (table, bucket) rows: per table, sign bits against that
    table's fixed hyperplanes packed into an int (one output row per
    input row per table — OR-amplification across tables).

    Channel choice: scalar pandas_udf emitting the per-table bucket
    array + JVM ``posexplode`` — the row expansion stays in codegen.
    On this Spark build the mapInPandas input writer costs ~9 us/row
    JVM-side; the scalar-UDF writer is ~8x cheaper, and only
    ``vec_col`` ships through Python (passthrough columns stay
    JVM-side).

    NULL / wrong-length vectors get the sentinel bucket -1 in every
    table (they only ever join among themselves, and the cosine
    re-rank drops them anyway) instead of crashing the batch or — the
    subtler failure — tripping the result-length check when a whole
    batch is degenerate."""
    if dim is None:
        dim = infer_dim(df, vec_col)
    all_planes = [_planes(dim, n_planes, seed=42 + 101 * t) for t in range(n_tables)]

    @F.pandas_udf(ArrayType(LongType()))
    def buckets(vecs: pd.Series) -> pd.Series:
        n_rows = len(vecs)
        if n_rows == 0:  # empty BATCH (mat.size==0 also fired on all-degenerate rows)
            return pd.Series([])
        mat, ok = _dense_ok(vecs, dim)
        out = np.zeros((n_rows, len(all_planes)), dtype=np.int64)
        for t, planes in enumerate(all_planes):
            signs = (mat @ planes.T) > 0  # same op order as ever: bit-identical buckets
            bucket = np.zeros(n_rows, dtype=np.int64)
            for j in range(n_planes):
                bucket |= signs[:, j].astype(np.int64) << j
            out[:, t] = bucket
        out[~ok, :] = -1
        return pd.Series(list(out))

    return (
        df.withColumn("_tb", buckets(F.col(vec_col)))
        .select(*df.columns, F.posexplode("_tb").alias("table", "bucket"))
        .withColumn("table", F.col("table").cast("int"))
    )


def _rank_topk(joined: DataFrame, k: int, vec_col: str, id_col: str) -> DataFrame:
    """Exact cosine re-rank of (query_id, q_vec, candidate) rows as a
    pure Column cosine (F.zip_with/F.aggregate dot product) + window
    row_number — zero Python in the re-rank; the window shuffle keys
    on query_id like the grouped alternative would."""
    from pyspark.sql import Window

    from ..functions.columns import cosine_similarity

    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc(F.col(id_col)))
    return (
        joined.withColumn("cos", cosine_similarity(F.col("q_vec"), F.col(vec_col)))
        # zero-norm vectors give NULL cosine (try_divide), NaN inputs
        # give NaN — neither may enter the ranking (Spark sorts NaN
        # above every double, so an unguarded DESC would rank it first)
        .filter(F.col("cos").isNotNull() & ~F.isnan(F.col("cos")))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", F.col(id_col).alias("neighbor_id"))
    )


def ann_lsh_topk(df: DataFrame, n_queries: int = 10, k: int = 5,
                 dim: int | None = None, n_planes: int = 4, n_tables: int = 8,
                 vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Approximate top-k: candidates = union over hash tables of the
    query's bucket, exact cosine re-rank on the (deduplicated)
    candidate set.

    Scale path: (table, bucket) is the shuffle key; per-bucket
    candidate sets are orders of magnitude smaller than the corpus and
    recall is tuned by (n_planes, n_tables) — OR-amplification:
    recall ≈ 1 - (1 - p^m)^L.
    """
    # persisted: the signature stage feeds BOTH sides of the bucket
    # join.  At the local tiers the self-join costs the same either
    # way (~1.1 s warm at sf0.1 — the Arrow stage is cheap and AQE
    # reuses the exchange), but at corpus scale the unpersisted plan
    # has no guarantee of reuse across the two branches, so the stage
    # boundary is explicit like embedding_near_dup's.  Cache contract
    # in _persist_stage.
    b = _persist_stage(
        signature_buckets(df, dim, n_planes, n_tables, vec_col),
        "_lsh_sigs")
    q = b.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.col("table"), F.col("bucket"),
    )
    joined = (
        q.join(b, ["table", "bucket"])
        .filter(F.col(id_col) != F.col("query_id"))
        .dropDuplicates(["query_id", id_col])
    )

    return _rank_topk(joined, k, vec_col, id_col)


def train_ivf_centroids(df: DataFrame, n_lists: int = 8,
                        dim: int | None = None,
                        sample_rows: int = 2000, iters: int = 10,
                        vec_col: str = "embedding", id_col: str = "vec_id",
                        seed: int = 42) -> np.ndarray:
    """Deterministic k-means coarse quantizer for IVF.

    Trains on a bounded UNBIASED sample collected to the driver: a
    hash filter ``xxhash64(id, seed) % m == 0`` with m sized from one
    count — deterministic regardless of partitioning/parallelism
    (unlike ``limit``, which takes one partition's head and biases the
    quantizer at scale, and unlike ``sample``, whose per-partition RNG
    changes with the split).  numpy Lloyd iterations with fixed seed —
    reproducible across runs."""
    if dim is None:
        dim = infer_dim(df, vec_col)
    n = df.count()
    m = max(1, n // sample_rows)
    # no limit() after the filter: the hash predicate alone decides
    # membership, so the sample is identical under any partitioning
    # (limit would truncate the ~sample_rows survivors scan-order-first);
    # sorting by id fixes the ROW ORDER too — the seeded init pick and
    # the Lloyd means are order-sensitive
    sample = (
        df.filter(F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)), F.lit(m)) == 0)
        .select(id_col, vec_col).collect()
    )
    sample.sort(key=lambda r: r[0])
    # degenerate rows (NULL / wrong length) are excluded from training
    # rather than crashing the ragged np.array build
    rows = [np.asarray(r[1], dtype=np.float64) for r in sample
            if r[1] is not None and len(r[1]) == dim]
    # non-finite samples excluded too: one NaN row makes its centroid
    # mean NaN, then EVERY training point argmins to that centroid
    mat = np.array([v for v in rows if np.isfinite(v).all()])
    if len(mat) < n_lists:
        raise ValueError(
            f"IVF training sample has {len(mat)} rows < n_lists={n_lists}; "
            "lower n_lists or raise sample_rows")
    rs = np.random.RandomState(seed)
    centroids = mat[rs.choice(len(mat), n_lists, replace=False)]
    for _ in range(iters):
        d2 = ((mat[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for j in range(n_lists):
            members = mat[assign == j]
            if len(members):
                centroids[j] = members.mean(axis=0)
    return centroids


def ann_ivf_topk(df: DataFrame, n_queries: int = 10, k: int = 5,
                 n_lists: int = 8, nprobe: int = 2, dim: int | None = None,
                 vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """IVF approximate top-k: coarse-quantize the corpus into inverted
    lists, probe the query's ``nprobe`` nearest lists, exact cosine
    re-rank on the candidates.

    Scale path: ``list_id`` is the shuffle key; each query touches
    nprobe/n_lists of the corpus.  Centroids are trained once on a
    driver-side sample and broadcast via closure.
    """
    if dim is None:
        dim = infer_dim(df, vec_col)
    centroids = train_ivf_centroids(df, n_lists, dim, vec_col=vec_col, id_col=id_col)

    def _mat_ok(vecs: pd.Series):
        # shared degenerate-row policy (NULL / wrong-length / non-finite)
        return _dense_ok(vecs, dim)

    @F.pandas_udf(IntegerType())
    def assign_list(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series(np.array([], dtype=np.int32))
        mat, ok = _mat_ok(vecs)
        d2 = ((mat[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
        out = d2.argmin(axis=1).astype(np.int32)
        out[~ok] = -1  # degenerate rows land in a list no probe visits
        return pd.Series(out)

    @F.pandas_udf(ArrayType(IntegerType()))
    def probe_lists(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([])
        mat, ok = _mat_ok(vecs)
        d2 = ((mat[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
        order = np.argsort(d2, axis=1)[:, :nprobe].astype(np.int32)
        empty = np.empty(0, dtype=np.int32)
        return pd.Series([row if good else empty
                          for row, good in zip(order, ok)])

    corpus = df.withColumn("list_id", assign_list(F.col(vec_col)))
    queries = (
        df.filter(F.col(id_col) < n_queries)
        .select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"),
                F.explode(probe_lists(F.col(vec_col))).alias("list_id"))
    )
    joined = queries.join(corpus, "list_id").filter(F.col(id_col) != F.col("query_id"))

    return _rank_topk(joined.dropDuplicates(["query_id", id_col]), k, vec_col, id_col)


def augment_with_near_dups(df: DataFrame, every: int = 17, id_offset: int = 1_000_000,
                           vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Union the corpus with deterministic perturbed copies of every
    ``every``-th vector (new id = old + ``id_offset``): element-wise
    scale by 1 + 0.015*sin(id*7 + i), cosine to the original
    >= 1 - ~2e-4.  Pure Column ops — gives the near-dup operator
    ground-truth positive pairs in-query (mirrors plans/webops.py
    ``_dup_corpus`` for text)."""
    dups = (
        df.filter(F.col(id_col) % every == 0)
        .select(
            (F.col(id_col) + id_offset).alias(id_col),
            F.transform(
                F.col(vec_col),
                lambda x, i: (x * (1.0 + 0.015 * F.sin(F.col(id_col) * 7.0 + i.cast("double"))))
                .cast("float"),
            ).alias(vec_col),
            *[c for c in df.columns if c not in (id_col, vec_col)],
        )
        .select(df.columns)
    )
    return df.unionByName(dups)


def embedding_near_dup(df: DataFrame, threshold: float = 0.9,
                       dim: int | None = None, n_planes: int = 6,
                       n_tables: int = 4,
                       vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a < b) above threshold,
    candidates via multi-table LSH buckets (high-threshold pairs agree
    on most hyperplanes, so recall is high at far lower cost than the
    quadratic scan).

    A duplicate-heavy bucket — exactly the near-dup case — self-joins
    quadratically; the bucket join is a plain equi-join on
    (table, bucket), so under AQE Spark's skew-join handling splits an
    oversized shuffle partition itself.
    """
    # persisted: b feeds both join sides (a self-join re-executes
    # shared lineage).  Cache contract in _persist_stage (unique temp
    # view = the reclaim handle).  Degenerate rows (sentinel bucket -1)
    # are dropped up front: they can never clear the cosine threshold,
    # and their (t, -1) buckets would self-join quadratically on a
    # dirty corpus.
    b = _persist_stage(
        signature_buckets(df, dim, n_planes, n_tables, vec_col)
        .filter(F.col("bucket") >= 0),
        "_nd_sigs")
    left = b.select(F.col(id_col).alias("a"), F.col(vec_col).alias("va"), "table", "bucket")
    right = b.select(F.col(id_col).alias("b"), F.col(vec_col).alias("vb"), "table", "bucket")
    pairs = (
        left.join(right, ["table", "bucket"])
        .filter(F.col("a") < F.col("b"))
        .dropDuplicates(["a", "b"])
    )

    # exact verify wholly in codegen: the Column cosine (no bit-parity
    # contract here — this is an approximate operator with a recall
    # gate, not an oracle).  Zero-norm gives NULL (try_divide) and
    # drops; a NaN cosine must be guarded EXPLICITLY because Spark
    # orders NaN above every double, so `NaN >= threshold` is TRUE
    # (the _rank_topk lesson applied here too).  pairs is already
    # unique on (a, b).
    from ..functions.columns import cosine_similarity

    cos = cosine_similarity(F.col("va"), F.col("vb"))
    return (
        pairs.filter(~F.isnan(cos) & (cos >= threshold))
        .select("a", "b")
    )
