"""Similarity search over ``vec_id``/``embedding`` frames (the vector
length is read from the data, ``infer_dim``).

* ``ann_lsh_topk`` — random-hyperplane LSH bucketing: each vector is
  signed against a few fixed hyperplanes per table; candidates share a
  bucket, exact cosine only on candidates.  At 100 TB this turns the
  O(n·q) scan into a bucket-local join; planes are deterministic
  (seeded) so results are reproducible.
* ``ann_ivf_topk`` — k-means inverted lists; a query probes its nearest.
* ``embedding_near_dup`` — pairs above a cosine threshold via the same
  bucketing; ``augment_with_near_dups`` plants known positives.

The signature stage that feeds both sides of a bucket self-join is cut
with a lazy local checkpoint (the operators/dedup.py staging rule): no
temp view and no cache entry is left in the session, and the stage's
blocks go when the returned DataFrame does.

Settings shared with a DuckDB replica are plans/webops.py constants,
read at call time; the IVF trainer's are the constants below.  A test
varies one with monkeypatch.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType, LongType

from ..plans import webops

# IVF: _IVF_LISTS lists from _IVF_ITERS Lloyd rounds on ~_IVF_SAMPLE_ROWS
# sampled vectors; a query probes its _IVF_PROBE nearest lists.
_IVF_LISTS, _IVF_PROBE = 8, 2
_IVF_SAMPLE_ROWS, _IVF_ITERS, _IVF_SEED = 2000, 10, 42


def infer_dim(df: DataFrame) -> int:
    """Modal vector length — one narrow deterministic pass (group on
    ``size(embedding)``; the aggregate is a handful of distinct
    lengths).  A fixed length would tag every vector of a wider corpus
    wrong-length (sentinel bucket -1) and return silently empty
    results.

    Why a full pass and not ``limit(1024)``: limit takes whichever
    rows the scan produces first, so on a mixed-length corpus the
    inferred dim would flip with partitioning/file order — the exact
    nondeterminism ``train_ivf_centroids`` documents avoiding.  Every
    caller invokes this immediately before a full signature pass over
    the same frame, so the extra scan is a small constant factor.
    Mixed lengths resolve to the most common (ties to the smaller) and
    the minority lengths keep the documented sentinel policy."""
    rows = (
        df.filter(F.col("embedding").isNotNull())
        .select(F.size("embedding").alias("_d"))
        .filter(F.col("_d") > 0)
        .groupBy("_d").count()
        .orderBy(F.desc("count"), F.asc("_d")).take(1)
    )
    if not rows:
        raise ValueError("infer_dim: no non-empty 'embedding' vectors to sample")
    return int(rows[0]["_d"])


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


def signature_buckets(df: DataFrame, n_planes: int, n_tables: int) -> DataFrame:
    """Add LSH (table, bucket) rows: per table, sign bits against that
    table's fixed hyperplanes packed into an int (one output row per
    input row per table — OR-amplification across tables).

    Channel choice: scalar pandas_udf emitting the per-table bucket
    array + JVM ``posexplode`` — the row expansion stays in codegen.
    On this Spark build the mapInPandas input writer costs ~9 us/row
    JVM-side; the scalar-UDF writer is ~8x cheaper, and only
    ``embedding`` ships through Python (passthrough columns stay
    JVM-side).

    NULL / wrong-length vectors get the sentinel bucket -1 in every
    table (they only ever join among themselves, and the cosine
    re-rank drops them anyway) instead of crashing the batch or — the
    subtler failure — tripping the result-length check when a whole
    batch is degenerate."""
    dim = infer_dim(df)
    # the DuckDB replicas' hyperplane literals come from the same generator
    all_planes = [webops.lsh_planes(dim, n_planes, 42 + 101 * t) for t in range(n_tables)]

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
        df.withColumn("_tb", buckets(F.col("embedding")))
        .select(*df.columns, F.posexplode("_tb").alias("table", "bucket"))
        .withColumn("table", F.col("table").cast("int"))
    )


def _rank_topk(joined: DataFrame) -> DataFrame:
    """Exact cosine top-_ANN_K re-rank of (query_id, q_vec, candidate)
    rows as a pure Column cosine (F.zip_with/F.aggregate dot product)
    + window row_number — zero Python in the re-rank; the window
    shuffle keys on query_id like the grouped alternative would."""
    from pyspark.sql import Window

    from ..functions.columns import cosine_similarity

    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc(F.col("vec_id")))
    return (
        joined.withColumn("cos", cosine_similarity(F.col("q_vec"), F.col("embedding")))
        # zero-norm vectors give NULL cosine (try_divide), NaN inputs
        # give NaN — neither may enter the ranking (Spark sorts NaN
        # above every double, so an unguarded DESC would rank it first)
        .filter(F.col("cos").isNotNull() & ~F.isnan(F.col("cos")))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= webops._ANN_K)
        .select("query_id", "rank", F.col("vec_id").alias("neighbor_id"))
    )


def ann_lsh_topk(df: DataFrame) -> DataFrame:
    """Approximate top-k of the query vectors: candidates = union over
    hash tables of the query's bucket, exact cosine re-rank on the
    (deduplicated) candidate set.

    Scale path: (table, bucket) is the shuffle key; per-bucket
    candidate sets are orders of magnitude smaller than the corpus and
    recall is set by the planes m and tables L (webops._ANN_PLANES,
    _ANN_TABLES) — OR-amplification: recall ≈ 1 - (1 - p^m)^L.
    """
    # staged: the signature stage feeds BOTH sides of the bucket join.
    # At the local tiers the self-join costs the same either way
    # (~1.1 s warm at sf0.1 — the Arrow stage is cheap and AQE reuses
    # the exchange), but at corpus scale the uncut plan has no
    # guarantee of reuse across the two branches, so the stage
    # boundary is explicit like embedding_near_dup's.
    b = signature_buckets(
        df, webops._ANN_PLANES, webops._ANN_TABLES).localCheckpoint(eager=False)
    q = b.filter(F.col("vec_id") < webops._ANN_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_vec"),
        F.col("table"), F.col("bucket"),
    )
    joined = (
        q.join(b, ["table", "bucket"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "vec_id"])
    )

    return _rank_topk(joined)


def train_ivf_centroids(df: DataFrame) -> np.ndarray:
    """Deterministic k-means coarse quantizer for IVF.

    Trains on a bounded UNBIASED sample collected to the driver: a
    hash filter ``xxhash64(id, seed) % m == 0`` with m sized from one
    count — deterministic regardless of partitioning/parallelism
    (unlike ``limit``, which takes one partition's head and biases the
    quantizer at scale, and unlike ``sample``, whose per-partition RNG
    changes with the split).  numpy Lloyd iterations with fixed seed —
    reproducible across runs."""
    dim = infer_dim(df)
    n = df.count()
    m = max(1, n // _IVF_SAMPLE_ROWS)
    # no limit() after the filter: the hash predicate alone decides
    # membership, so the sample is identical under any partitioning
    # (limit would truncate the survivors scan-order-first);
    # sorting by id fixes the ROW ORDER too — the seeded init pick and
    # the Lloyd means are order-sensitive
    sample = (
        df.filter(F.pmod(F.xxhash64(F.col("vec_id"), F.lit(_IVF_SEED)), F.lit(m)) == 0)
        .select("vec_id", "embedding").collect()
    )
    sample.sort(key=lambda r: r[0])
    # degenerate rows (NULL / wrong length) are excluded from training
    # rather than crashing the ragged np.array build
    rows = [np.asarray(r[1], dtype=np.float64) for r in sample
            if r[1] is not None and len(r[1]) == dim]
    # non-finite samples excluded too: one NaN row makes its centroid
    # mean NaN, then EVERY training point argmins to that centroid
    mat = np.array([v for v in rows if np.isfinite(v).all()])
    if len(mat) < _IVF_LISTS:
        raise ValueError(
            f"IVF training sample has {len(mat)} rows, fewer than the "
            f"{_IVF_LISTS} lists")
    rs = np.random.RandomState(_IVF_SEED)
    centroids = mat[rs.choice(len(mat), _IVF_LISTS, replace=False)]
    for _ in range(_IVF_ITERS):
        d2 = ((mat[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for j in range(_IVF_LISTS):
            members = mat[assign == j]
            if len(members):
                centroids[j] = members.mean(axis=0)
    return centroids


def ann_ivf_topk(df: DataFrame) -> DataFrame:
    """IVF approximate top-k of the query vectors: coarse-quantize the
    corpus into inverted lists, probe the query's _IVF_PROBE nearest
    lists, exact cosine re-rank on the candidates.

    Scale path: ``list_id`` is the shuffle key; each query touches
    _IVF_PROBE/_IVF_LISTS of the corpus.  Centroids are trained once on
    a driver-side sample and broadcast via closure.
    """
    centroids = train_ivf_centroids(df)
    dim = centroids.shape[1]

    # both UDFs apply the shared degenerate-row policy (_dense_ok)
    @F.pandas_udf(IntegerType())
    def assign_list(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series(np.array([], dtype=np.int32))
        mat, ok = _dense_ok(vecs, dim)
        d2 = ((mat[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
        out = d2.argmin(axis=1).astype(np.int32)
        out[~ok] = -1  # degenerate rows land in a list no probe visits
        return pd.Series(out)

    @F.pandas_udf(ArrayType(IntegerType()))
    def probe_lists(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([])
        mat, ok = _dense_ok(vecs, dim)
        d2 = ((mat[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
        order = np.argsort(d2, axis=1)[:, :_IVF_PROBE].astype(np.int32)
        empty = np.empty(0, dtype=np.int32)
        return pd.Series([row if good else empty
                          for row, good in zip(order, ok)])

    corpus = df.withColumn("list_id", assign_list(F.col("embedding")))
    queries = (
        df.filter(F.col("vec_id") < webops._ANN_QUERIES)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec"),
                F.explode(probe_lists(F.col("embedding"))).alias("list_id"))
    )
    joined = queries.join(corpus, "list_id").filter(F.col("vec_id") != F.col("query_id"))

    return _rank_topk(joined.dropDuplicates(["query_id", "vec_id"]))


def augment_with_near_dups(df: DataFrame) -> DataFrame:
    """Union the corpus with deterministic perturbed copies of every
    webops._AUG_EVERY-th vector (new id = old + _AUG_ID_OFFSET): element-wise
    scale by 1 + 0.015*sin(id*7 + i), cosine to the original
    >= 1 - ~2e-4.  Pure Column ops — gives the near-dup operator
    ground-truth positive pairs in-query (mirrors plans/webops.py
    ``_dup_corpus`` for text)."""
    vid = F.col("vec_id")
    dups = (
        df.filter(vid % webops._AUG_EVERY == 0)
        .select(
            (vid + webops._AUG_ID_OFFSET).alias("vec_id"),
            F.transform(
                F.col("embedding"),
                lambda x, i: (x * (1.0 + 0.015 * F.sin(vid * 7.0 + i.cast("double"))))
                .cast("float"),
            ).alias("embedding"),
            *[c for c in df.columns if c not in ("vec_id", "embedding")],
        )
        .select(df.columns)
    )
    return df.unionByName(dups)


def embedding_near_dup(df: DataFrame) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a < b) at or above the
    webops._NEAR_DUP_COS threshold,
    candidates via multi-table LSH buckets (high-threshold pairs agree
    on most hyperplanes, so recall is high at far lower cost than the
    quadratic scan).

    A duplicate-heavy bucket — exactly the near-dup case — self-joins
    quadratically; the bucket join is a plain equi-join on
    (table, bucket), so under AQE Spark's skew-join handling splits an
    oversized shuffle partition itself.
    """
    # staged: b feeds both join sides (a self-join re-executes shared
    # lineage).  Degenerate rows (sentinel bucket -1) are dropped up
    # front: they can never clear the cosine threshold, and their
    # (t, -1) buckets would self-join quadratically on a dirty corpus.
    b = (signature_buckets(df, webops._NEAR_DUP_PLANES, webops._NEAR_DUP_TABLES)
         .filter(F.col("bucket") >= 0).localCheckpoint(eager=False))
    left = b.select(F.col("vec_id").alias("a"), F.col("embedding").alias("va"), "table", "bucket")
    right = b.select(F.col("vec_id").alias("b"), F.col("embedding").alias("vb"), "table", "bucket")
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
        pairs.filter(~F.isnan(cos) & (cos >= webops._NEAR_DUP_COS))
        .select("a", "b")
    )
