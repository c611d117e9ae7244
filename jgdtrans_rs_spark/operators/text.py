"""Text-cleaning operators for training-data pipelines.

Declarative Spark SQL plans generated from plans/webops.py (shared
with the DuckDB oracle):

* boilerplate_strip — corpus-level repeated-segment removal (the
  CCNet-style paragraph-dedup pass reshaped for single-line synthetic
  docs): hash every fixed-width token segment, mark segments that
  appear in >= webops._BOILER_MIN_DOCS distinct documents as
  boilerplate, drop every occurrence, rebuild the text in order.
* vocab_topn — corpus-wide token frequency + document frequency,
  ranked, top-N (tokenizer-prep).
* text_profile, decontaminate, corpus_filter_audit.

Scale notes are on the SQL builders (plans/webops.py); their settings
are constants there, shared with the DuckDB replicas (a test varies one
with monkeypatch).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..plans import webops
from ..plans.spark_sql import sql_with, staged_sql
from ..plans.textsql import SPARK


def boilerplate_strip(spark: SparkSession, docs: str = "documents") -> DataFrame:
    """(doc_id, n_segs, n_boiler, clean_text).

    The segment relation feeds BOTH the boilerplate aggregate and the
    rejoin, so it is a stage (``staged_sql``, the operators/dedup.py
    convention — Spark's CTE inlining would otherwise recompute the
    tokenize+slice pipeline per consumer; same pathology PLANS.md
    documents for minhash/winnowing)."""
    segrows = staged_sql(spark, webops.boiler_segments_sql(SPARK, docs))
    return sql_with(spark, webops.boilerplate_from(SPARK, "__SEGROWS__"),
                    SEGROWS=segrows)


def vocab_topn(spark: SparkSession, docs: str = "documents") -> DataFrame:
    """(token_id, token, tf, df) for the webops._VOCAB_TOPN most
    frequent tokens (single consumer chain — no staging needed)."""
    return spark.sql(webops.vocab_topn_sql(SPARK, docs))


def text_profile(spark: SparkSession, docs: str = "documents") -> DataFrame:
    """Per-doc token statistics + language heuristic in one pass
    (webops.text_profile_sql semantics) with the tokenize stage
    staged — eight consuming expressions would otherwise each inline
    the split pipeline (PLANS.md 'Expression staging' #1)."""
    base = staged_sql(spark, webops.text_profile_base_sql(SPARK, docs))
    return sql_with(spark, webops.text_profile_from(SPARK, "__BASE__"), BASE=base)


def decontaminate(spark: SparkSession, docs: str = "documents") -> DataFrame:
    """Benchmark decontamination (webops.decontaminate_sql semantics)
    with the perdoc shingle relation staged: it feeds the holdout set,
    the train probe AND the final left join — three CTE references
    Spark would otherwise each re-execute (~40 s at the sf0.1 probe vs
    under a second staged)."""
    perdoc = staged_sql(spark, webops.decontaminate_perdoc_sql(SPARK, docs))
    body = webops.decontaminate_from(SPARK, "__PERDOC__")
    return sql_with(spark, f"WITH {body.lstrip()}", PERDOC=perdoc)


def corpus_filter_audit(spark: SparkSession, docs: str = "documents") -> DataFrame:
    """(doc_id, source, quality_bucket, dup_shingle_pct, is_exact_dup,
    is_contaminated, keep, reject_reason) — the end-to-end corpus
    cleaning verdict (webops.corpus_filter_audit_sql semantics).

    The tokenize/shingle base stage (corpus_audit_base_sql) is
    materialized ONCE (``staged_sql``) and every audit stage —
    quality, repetition, exact-dup, decontamination — reads its staged
    _tids/_sints columns: one tokenizer pass over the corpus instead of
    one per stage (VERDICT r03 #2; CollapseProject would re-inline the
    token pipeline into every CTE consumer otherwise)."""
    base = staged_sql(spark, webops.corpus_audit_base_sql(SPARK, docs))
    return sql_with(spark, webops.corpus_filter_audit_from(SPARK, "__BASE__"),
                    BASE=base)
