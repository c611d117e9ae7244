"""Deduplication operators for training-data pipelines.

All variants are declarative Spark SQL plans (generated from
plans/webops.py, shared with the DuckDB oracle), so Catalyst owns the
physical strategy:

* exact          — hash-groupBy on md5(text): one shuffle on the digest;
                   run it as ``spark.sql(webops.dedup_exact_sql(SPARK,
                   docs))``.
* minhash_lsh    — shingle -> 12 minhashes -> 3 bands of 4 -> band
                   self-join -> exact-Jaccard verify.  Shuffles on band
                   keys and shingle ids; at 100 TB the band join is the
                   scalable candidate generator (pair count stays near
                   linear instead of quadratic).
* simhash_pairs  — SIMHASH_BITS-bit fingerprint per doc,
                   banded-Hamming near-dup pairs on the int.
* ngram_jaccard  — exact blocked self-join (the small-corpus verifier
                   for minhash_lsh's recall).
* winnowing / components — sliding-window fingerprints; connected
                   components of a pair graph.

A stage that is expensive and read more than once (both sides of a
self-join, or several projections) is cut with
``plans/spark_sql.staged_sql``, a lazy local checkpoint, and reaches
the next statement as a ``sql_with`` argument: a call leaves no temp
view and no cache entry in the session, and the stage's blocks go when
the returned DataFrame does.

Thresholds, band geometry and window widths are plans/webops.py
constants shared with the DuckDB replicas (``_MAX_ROUNDS`` lives here);
a test varies one with monkeypatch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..plans import webops
from ..plans.spark_sql import sql_with, staged_sql
from ..plans.textsql import SPARK


def minhash_lsh_pairs(spark: SparkSession, docs: str = "documents") -> DataFrame:
    """Near-duplicate pairs (doc_a, doc_b, inter_n, union_n).

    Staged (``staged_sql``): the shingle pipeline is computed once (not
    re-inlined into every minhash column / band reference by
    CollapseProject), then signatures once, then the band join — at
    corpus scale each stage is a clean shuffle boundary.
    """
    sints = staged_sql(spark, webops.minhash_sints_sql(SPARK, docs))
    sigs = staged_sql(spark, webops.minhash_sigs_from(SPARK, "__SINTS__"),
                      SINTS=sints)
    return sql_with(spark, webops.minhash_pairs_from(SPARK, "__SIGS__"), SIGS=sigs)


def ngram_jaccard_pairs(spark: SparkSession, docs: str = "documents") -> DataFrame:
    """Exact shingle-Jaccard pairs (doc_a, doc_b, inter_n, union_n),
    with the shingle stage materialized (it feeds both sides of the
    blocked self-join)."""
    base = staged_sql(spark, webops.ngram_base_sql(SPARK, docs))
    return sql_with(spark, webops.ngram_pairs_from(SPARK, "__BASE__"), BASE=base)


def winnowing_fingerprints(spark: SparkSession, docs: str = "documents") -> DataFrame:
    """Winnowing fingerprints, relational formulation: shingle stage
    materialized (``staged_sql`` — CollapseProject would inline
    the shingle pipeline into every window slice: measured minutes at
    5k docs), then the sliding minimum as a ROWS window frame over the
    exploded (doc_id, i, shingle) rows — one shuffle on doc_id, no
    per-window array slicing.  Output set identical to the
    single-statement array form (webops.winnowing_from — the DuckDB
    oracle)."""
    base = staged_sql(spark, webops.winnowing_base_sql(SPARK, docs))
    window = webops._WINNOW_WINDOW
    return sql_with(spark, f"""
      SELECT DISTINCT doc_id, fp
      FROM (
        SELECT doc_id, i, n,
               MIN(s) OVER (PARTITION BY doc_id ORDER BY i
                            ROWS BETWEEN CURRENT ROW AND {window - 1} FOLLOWING) AS fp
        FROM (
          SELECT doc_id, i, element_at(sints, i) AS s, size(sints) AS n
          FROM __BASE__ LATERAL VIEW explode(sequence(1, size(sints))) _e AS i
          WHERE size(sints) >= {window}
        ) _rows
      ) _mins
      WHERE i <= n - {window} + 1
    """, BASE=base)


def simhash_pairs(spark: SparkSession, docs: str = "documents") -> DataFrame:
    """Banded-Hamming simhash pairs with the signature stage
    materialized (the 32-term signature would otherwise be recomputed
    per band reference through CTE inlining; 26 s -> ~2 s at 5k docs)."""
    sigs = staged_sql(spark, webops.simhash_sigs_sql(SPARK, docs))
    return sql_with(spark, webops.simhash_pairs_from(SPARK, "__SIGS__"), SIGS=sigs)


def dedup_incremental(spark: SparkSession, docs: str = "documents") -> DataFrame:
    """Incremental dedup (webops.dedup_incremental_sql semantics) with
    the sints and signature stages materialized: Spark re-executes a
    multi-referenced CTE per reference (PLANS.md 'Expression staging'
    #3 — the digest probe, band probe, shingle explode and sizes arms
    all read the corpus), which cost 57 s at sf0.1 vs 2.2 s staged
    (26x).  At 100 TB these stages ARE the precomputed corpus-side
    signature tables the docstring describes."""
    sints = staged_sql(spark, webops.dedup_incremental_sints_sql(SPARK, docs))
    sigs = staged_sql(spark, webops.dedup_incremental_sigs_from(SPARK, "__SINTS__"),
                      SINTS=sints)
    body = webops.dedup_incremental_from(SPARK, "__SIGS__", "__SINTS__")
    return sql_with(spark, f"WITH {body.lstrip()}", SIGS=sigs, SINTS=sints)


_MAX_ROUNDS = 25  # dedup_components converges in ~log2(diameter) rounds


def dedup_components(pairs: DataFrame, nodes: DataFrame) -> DataFrame:
    """Connected components of the near-duplicate pair graph ``pairs``
    (doc_a, doc_b) over ``nodes`` (doc_id) ->
    (doc_id, canonical_id, cluster_size): the cluster-assignment step
    a training-data pipeline runs AFTER pair generation, so every
    document maps to one canonical representative (min doc_id in its
    component; singletons map to themselves).

    Algorithm: min-label propagation WITH pointer doubling — per round
    each node takes (1) the min of its own and its neighbours' labels,
    then (2) the label OF that label (label values are always node ids
    of the same component, so the lookup is sound and min-monotone).
    Step (2) doubles the distance information travels per round, so
    convergence is O(log2(diameter)) rounds instead of O(diameter):
    a 65,536-node chain converges in ~17 rounds where plain
    propagation needs 65,535 (VERDICT r04 #2; pinned by
    test_dedup_components_deep_graph_log_rounds).  The driver loop
    stops at the fixpoint (one scalar count per round, control-plane
    only) and MATERIALIZES each round's labels (localCheckpoint) so
    the next round's plan reads a stable snapshot instead of
    re-executing an ever-deepening join lineage.  ``pairs`` is
    checkpointed BEFORE the symmetrizing self-union: the union's two
    branches would otherwise each re-execute the whole upstream
    candidate-join per action (measured 38 s -> 0.6 s for the edge
    build at sf0.01; rounds 4.5 s -> 0.6 s because every round's join
    re-read that lineage).

    100 TB design: each round is two keyed shuffle-joins (neighbour
    min against the symmetrized edge list + the doubling self-lookup)
    plus a groupBy-min — all keyed, all AQE-skew-splittable; rounds
    needed = log2(component diameter).  Web near-dup graphs are
    overwhelmingly stars/cliques around a canonical document
    (exact-copy families, template clusters) and fix in 2-3 rounds;
    even pathological chains are now bounded by ~log2(n) << _MAX_ROUNDS.
    At that scale swap localCheckpoint for reliable ``checkpoint()``
    (executor loss under localCheckpoint forfeits blocks mid-loop).
    Output is deterministic regardless of partitioning: min() is
    order-free.
    """
    from pyspark.sql import functions as F

    p = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    p = p.localCheckpoint()
    edges = (
        p.unionByName(p.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint()
    )
    labels = nodes.select(
        F.col("doc_id").alias("node"), F.col("doc_id").alias("label")).localCheckpoint()
    for _ in range(_MAX_ROUNDS):
        neigh = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src").agg(F.min("label").alias("nmin"))
        )
        half = (
            labels.join(neigh, labels.node == neigh.src, "left")
            .select(
                "node",
                F.col("label").alias("old"),
                F.least(F.col("label"), F.coalesce(F.col("nmin"), F.col("label")))
                .alias("mid"),
            )
        )
        # pointer doubling: mid -> label currently held by node `mid`.
        # Labels only ever hold ids of same-component nodes and only
        # decrease, so least(mid, label[mid]) stays in-component and
        # min-monotone; a label whose node is outside `nodes` (possible
        # only round 1 if pairs mention unknown ids) passes through.
        # half is materialized first: lut re-projects it, and the
        # doubling join shuffles the two branches on DIFFERENT keys
        # (mid vs node), so without the cut each round executed the
        # neighbour-min pipeline twice (round-5 review — the same
        # lesson already applied to `pairs` and the per-round labels)
        half = half.localCheckpoint()
        lut = half.select(F.col("node").alias("_ln"), F.col("mid").alias("_lm"))
        new = (
            half.join(lut, half.mid == lut._ln, "left")
            .select(
                "node",
                F.least(F.col("mid"), F.coalesce(F.col("_lm"), F.col("mid")))
                .alias("label"),
                (F.least(F.col("mid"), F.coalesce(F.col("_lm"), F.col("mid")))
                 < F.col("old")).alias("chg"),
            )
            .localCheckpoint()
        )
        labels = new.select("node", "label")
        if new.filter("chg").count() == 0:  # cheap: reads the checkpoint
            break
    else:
        raise RuntimeError(
            f"dedup_components did not converge in {_MAX_ROUNDS} rounds — "
            "the pair graph has a longer diameter than any dedup graph should")
    sizes = labels.groupBy("label").agg(F.count("*").cast("long").alias("cluster_size"))
    return (
        labels.join(sizes, "label")
        .select(F.col("node").alias("doc_id"), F.col("label").alias("canonical_id"),
                "cluster_size")
    )
