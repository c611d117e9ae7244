"""Invariant tests for the round-3 corpus operators (properties the
oracle hash-compare can't express)."""

from __future__ import annotations

from pyspark.sql import functions as F

from jgdtrans_rs_spark.plans import webops
from jgdtrans_rs_spark.plans.textsql import DUCK, SPARK

SF = "/root/testdata/sf0.001"


def _docs(spark):
    spark.read.parquet(f"{SF}/documents.parquet").createOrReplaceTempView("documents")


def test_boilerplate_rebuild_identity(spark, monkeypatch):
    """With the document threshold above the corpus size nothing is
    boilerplate, so clean_text must reconstruct the
    whitespace-normalized original — proving the ordered segment
    rebuild is lossless."""
    _docs(spark)
    monkeypatch.setattr(webops, "_BOILER_MIN_DOCS", 10**9)
    out = spark.sql(webops.boilerplate_strip_sql(SPARK)) \
        .select("doc_id", "n_boiler", "clean_text").toPandas().set_index("doc_id")
    src = spark.sql(
        "SELECT doc_id, array_join(filter(split(text, ' '), x -> x != ''), ' ') AS norm "
        "FROM documents WHERE size(filter(split(text, ' '), x -> x != '')) > 0"
    ).toPandas().set_index("doc_id")
    assert (out["n_boiler"] == 0).all()
    assert len(out) == len(src)
    assert (out["clean_text"].sort_index() == src["norm"].sort_index()).all()


def test_vocab_tf_conserves_token_count(spark, monkeypatch):
    """With top-N above the vocabulary size, the summed term frequency
    must equal the corpus token count, and df <= corpus size."""
    _docs(spark)
    monkeypatch.setattr(webops, "_VOCAB_TOPN", 10**6)
    v = spark.sql(webops.vocab_topn_sql(SPARK)).toPandas()
    total = spark.sql(
        "SELECT SUM(size(filter(split(text, ' '), x -> x != ''))) AS n FROM documents"
    ).collect()[0].n
    n_docs = spark.table("documents").count()
    assert v["tf"].sum() == total
    assert (v["df"] <= n_docs).all() and (v["df"] >= 1).all()
    # dense, deterministic ranking
    assert sorted(v["token_id"]) == list(range(1, len(v) + 1))


def test_sample_stratified_deterministic_and_bounded(spark):
    """Two runs select the identical subset; every surviving bucket is
    below its source's configured rate."""
    _docs(spark)
    rates = webops._SAMPLE_RATES
    assert rates["src2"] == 0
    a = spark.sql(webops.sample_stratified_sql(SPARK)).toPandas()
    b = spark.sql(webops.sample_stratified_sql(SPARK)).toPandas()
    key = lambda d: sorted(map(tuple, d[["doc_id", "source", "bucket"]].values.tolist()))
    assert key(a) == key(b) and len(a) > 0
    for _, r in a.iterrows():
        assert r.bucket < rates.get(r.source, webops._SAMPLE_DEFAULT_PCT)
    assert not (a["source"] == "src2").any()


def test_pack_chunks_spans_tile_the_stream(spark, monkeypatch):
    """Per source, token spans must be contiguous (no gaps/overlaps)
    and chunk ids consistent with the spans."""
    _docs(spark)
    monkeypatch.setattr(webops, "_CONTEXT_LEN", 256)
    p = spark.sql(webops.pack_chunks_sql(SPARK)).toPandas()
    for _, g in p.sort_values(["source", "doc_id"]).groupby("source"):
        starts = g["tok_start"].to_numpy()
        ends = (g["tok_start"] + g["n_tokens"]).to_numpy()
        assert starts[0] == 0
        assert (starts[1:] == ends[:-1]).all()
        assert (g["chunk_start"] == g["tok_start"] // 256).all()


def test_dedup_incremental_full_injected_recall(spark):
    """Every injected copy gets the right verdict — exact copies
    (doc_id+1M) 'exact_dup', 2-token-prefixed copies (doc_id+2M)
    'near_dup'.  Round 3 missed 3 of 72 near-dups: candidate (band)
    misses of the 3x4 geometry, fixed by the probe's 6x2 banding plus
    the short-doc containment verify arm (webops.dedup_incremental_sql
    docstring)."""
    _docs(spark)
    out = spark.sql(webops.dedup_incremental_sql(SPARK)).toPandas()
    exact = out[(out.doc_id >= 1_000_000) & (out.doc_id < 2_000_000)]
    near = out[out.doc_id >= 2_000_000]
    assert len(exact) > 0 and (exact["verdict"] == "exact_dup").all()
    assert len(near) > 0 and (near["verdict"] == "near_dup").all()


def test_repetition_stats_long_doc_linear(spark):
    """The mode-token fold must be linear: a crafted ~50k-token doc
    (worst case for the old O(n^2) transform+filter spelling: ~2.5e9
    comparisons) completes in seconds, and the computed shares are
    exact."""
    import time

    n = 50_000
    # 'aa' repeated 60%, then a distinct-ish tail
    toks = ["aa"] * (3 * n // 5) + [f"t{i % 997}x" for i in range(2 * n // 5)]
    text = " ".join(toks)
    spark.createDataFrame([(1, text)], "doc_id long, text string") \
        .createOrReplaceTempView("_long_docs")
    t0 = time.perf_counter()
    row = spark.sql(webops.repetition_stats_sql(SPARK, "_long_docs")).collect()[0]
    dt = time.perf_counter() - t0
    assert dt < 30, f"repetition_stats took {dt:.1f}s on a 50k-token doc"
    assert row.top_token_pct == (3 * n // 5) * 100 // n
    assert row.n_shingles == n - 2


def test_staged_operators_read_materialized_stages(spark):
    """The staged operators must actually read their checkpointed stage
    (an ExistingRDD scan in the executed plan) — the guard against the
    CTE/projection re-execution pathologies (PLANS.md 'Expression
    staging'): an unstaged dedup_incremental cost 57 s at sf0.1 vs
    2.2 s staged."""
    from jgdtrans_rs_spark.operators import dedup as dedup_ops
    from jgdtrans_rs_spark.operators import text as text_ops

    _docs(spark)
    for df in (dedup_ops.dedup_incremental(spark),
               text_ops.decontaminate(spark),
               text_ops.corpus_filter_audit(spark),
               text_ops.text_profile(spark)):
        df.count()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Scan ExistingRDD" in plan


def test_decontaminate_holdout_excluded_and_copies_flagged(spark):
    """Holdout docs never appear in the output; a doc sharing ALL its
    shingles with a holdout doc (i.e. itself shifted into train ids)
    must be flagged."""
    _docs(spark)
    out = spark.sql(webops.decontaminate_sql(SPARK)).toPandas()
    assert not (out["doc_id"] % webops._HOLDOUT_MOD == 0).any()
    # every flagged doc has >= 1 hit; every unflagged has 0
    assert ((out["n_hit_shingles"] > 0) == out["is_contaminated"]).all()


def _view_docs(spark, rows, name="_r5_docs"):
    spark.createDataFrame(rows, "doc_id long, text string, lang string") \
        .createOrReplaceTempView(name)
    return name


def _duck_docs(rows, name="_r5_docs"):
    """A DuckDB connection holding ``rows`` as table ``name``."""
    import duckdb

    con = duckdb.connect()
    con.execute(f"CREATE TABLE {name} (doc_id BIGINT, text VARCHAR, lang VARCHAR)")
    con.executemany(f"INSERT INTO {name} VALUES (?, ?, ?)", rows)
    return con


def test_minhash_survives_cjk_tokens(spark):
    """ascii() returns the full Unicode codepoint, so a CJK first/last
    character used to push (a*s + b) past 2^63 — ANSI Spark aborted
    the job and DuckDB errored.  The mod-before-multiply form is
    value-identical in range and overflow-safe (round-5 review)."""
    # tokens vary in FIRST and LAST codepoint (the tid function keys
    # on first/last/length, so same-shaped tokens would collapse)
    base = " ".join(chr(0x4E00 + 7 * i) + "本" + chr(0x8A00 + 5 * i)
                    for i in range(30))
    near = base.split()
    near[17] = chr(0x7FFF) + "編" + chr(0x7FFE)
    rows = [(0, base, "ja"),
            (1, " ".join(near), "ja"),                  # near copy, J ~ 0.8
            (2, " ".join(chr(0x6B00 + 11 * i) + "別" + chr(0x9000 + 3 * i)
                         for i in range(30)), "ja")]
    name = _view_docs(spark, rows)
    got = {(r.doc_a, r.doc_b) for r in spark.sql(
        webops.minhash_pairs_sql(SPARK, docs=name)).collect()
        if r.doc_a < 1_000_000 and r.doc_b < 1_000_000}
    assert (0, 1) in got and not any(2 in p for p in got)
    # the DuckDB dialect runs the same literals without overflow
    con = _duck_docs(rows)
    oc = {(int(r[0]), int(r[1])) for r in con.sql(
        webops.minhash_pairs_sql(DUCK, docs=name)).fetchall()
        if r[0] < 1_000_000 and r[1] < 1_000_000}
    assert oc == got


def test_url_tracking_strip_anchored(spark):
    """The tracking-param strip must match only at a parameter
    boundary: '?xutm_source=a' is a DIFFERENT param and must survive
    (the unanchored form corrupted it into '?x', collapsing distinct
    urls onto one dedup key — round-5 review)."""
    spark.createDataFrame(
        [(1, "https://a.jp/p?xutm_source=alpha"),
         (2, "https://a.jp/p?xutm_source=beta"),
         (3, "https://a.jp/p?utm_source=x&id=7"),
         (4, "https://a.jp/p?id=7&utm_campaign=y")],
        "pkey long, url string").createOrReplaceTempView("_r5_urls")
    out = {r.pkey: r.norm_url for r in spark.sql(
        webops.url_normalize_from(SPARK, "_r5_urls"))
        .select("pkey", "norm_url").collect()}
    assert out[1] == "https://a.jp/p?xutm_source=alpha"
    assert out[2] == "https://a.jp/p?xutm_source=beta"
    assert out[1] != out[2]
    assert out[3] == out[4] == "https://a.jp/p?id=7"


def test_quality_bucket_not_rejecting_cjk(spark):
    """quality_bucket 0 (punct-heavy) must not fire on clean CJK text:
    the old [^A-Za-z0-9 ] complement counted EVERY non-ASCII char as
    punctuation and rejected whole languages (round-5 review)."""
    rows = [(0, "日本語の自然な文章がここに十分な長さで続いています "
                "追加の 語 が 五つ 以上", "ja"),
            (1, "!!! ??? ;;; ### $$$ %%% && ** (( ))", "en")]
    name = _view_docs(spark, rows)
    got = {r.doc_id: r.quality_bucket for r in spark.sql(
        webops.quality_score_sql(SPARK, docs=name)).collect()}
    assert got[0] != 0        # clean Japanese is not punct-heavy
    assert got[1] == 0        # actual punctuation soup still is


def test_incremental_containment_is_one_sided(spark):
    """A large NEW article that merely quotes one tiny EXISTING doc is
    NOT a near-duplicate (J ~ 0); only a short new doc fully contained
    in the corpus may be flagged through the containment arm."""
    tiny = "alpha beta gamma delta epsilon zeta"
    big = tiny + " " + " ".join(f"w{i}x w{i}y w{i}z" for i in range(120))
    # ids chosen OFF the builder's own injection lattice (base%5==0 ->
    # +1M exact copy, base%7==0 -> +2M near copy) so these rows are
    # the only members of the new batch
    rows = [(1, tiny, "en"),                      # existing corpus doc
            (1_000_003, big, "en"),               # big new doc quoting it
            (1_000_004, tiny + " eta", "en")]     # short new doc contained
    name = _view_docs(spark, rows)
    got = {r.doc_id: r.verdict for r in spark.sql(
        webops.dedup_incremental_sql(SPARK, docs=name)).collect()}
    assert got[1_000_003] == "new"        # symmetric LEAST() called it near_dup
    assert got[1_000_004] == "near_dup"   # genuine short-containment still fires
    # the DuckDB arm counts the overlap relationally: same verdicts
    con = _duck_docs(rows)
    duck = dict(con.sql(
        webops.dedup_incremental_sql(DUCK, docs=name)).fetchall())
    assert duck == got


def test_band_join_pinned_on_hand_corpus(spark):
    """The band join all three LSH builders share, pinned by sets worked
    out by hand rather than by comparing one builder's two dialects.
    Every id is off the builder's injection lattice (base%5, base%7) so
    these rows are the whole corpus.  A holds 20 tokens with distinct
    first letters, so distinct token ids and 18 distinct 3-shingles;
    a rotation by r keeps 18 - r of them and adds r.  Simhash sums over
    the token bag, so A and its rotations share one fingerprint."""
    a = ("alpha bravo charlie delta echo foxtrot golf hotel india juliet "
         "kilo lima mike november oscar papa quebec romeo sierra tango")
    w = a.split()
    rot1, rot2 = " ".join(w[1:] + w[:1]), " ".join(w[2:] + w[:2])
    rows = [(1, a, "en"),
            (2, a, "en"),                     # exact copy
            (3, rot1, "en"),                  # near copy, J = 17/19
            (4, "Umbra Vivid Woven Xenon Yodel Zesty Amber Basil", "en"),
            (6, "Cedar Dune Ember Frost Glade Heron Inlet Jasper", "en"),
            (8, "hi there", "en"),            # < 3 tokens: no shingles
            (9, "", "en"),                    # no tokens
            (1_000_001, a, "en"),             # new: exact copy of 1
            (1_000_002, rot2, "en"),          # new: near copy, J(A) = 16/20
            (1_000_003, "Kestrel Lotus Maple Nectar Onyx Pine", "en"),
            (1_000_004, "hi there", "en"),    # new: short exact copy of 8
            (1_000_008, "", "en"),            # new: tokenless copy of 9
            (1_000_009, "hi you", "en")]      # new: short, no shingles
    same = (1, 2, 1_000_001)
    minhash = {(x, y, 18, 18) for x in same for y in same if x < y}
    minhash |= {(min(x, 3), max(x, 3), 17, 19) for x in same}
    minhash |= {(x, 1_000_002, 16, 20) for x in same}
    minhash |= {(3, 1_000_002, 17, 19)}
    bag = (1, 2, 3, 1_000_001, 1_000_002)
    simhash = {(x, y, 0) for x in bag for y in bag if x < y}
    simhash |= {(8, 1_000_004, 0)}
    incremental = {1_000_001: "exact_dup", 1_000_002: "near_dup",
                   1_000_003: "new", 1_000_004: "exact_dup",
                   1_000_008: "exact_dup", 1_000_009: "new"}

    name = _view_docs(spark, rows)
    con = _duck_docs(rows)
    for d, run in ((SPARK, lambda q: [tuple(r) for r in spark.sql(q).collect()]),
                   (DUCK, lambda q: con.sql(q).fetchall())):
        assert set(run(webops.minhash_pairs_sql(d, docs=name))) == minhash, d
        assert set(run(webops.simhash_pairs_sql(d, docs=name))) == simhash, d
        assert dict(run(webops.dedup_incremental_sql(d, docs=name))) \
            == incremental, d


def test_staged_operators_leave_no_views_or_cache(spark, semidyna_grid):
    """Repeated operator calls leave the session as they found it: each
    staged operator cuts its stage with a lazy local checkpoint and
    passes it to the next statement as a ``sql_with`` argument, so two
    calls of each — and SqlEngine's forward, backward, tiles and
    transform_pip, and synth_pages — register no temp view and no
    cache entry.  The one view they may add is each SqlEngine's grid
    view, made once when the engine is built."""
    import __spark_entry__ as entry_mod
    from jgdtrans_rs_spark.operators import dedup, similarity, text
    from jgdtrans_rs_spark.plans import oracle
    from jgdtrans_rs_spark.plans.spark_sql import SqlEngine, sql_with
    from jgdtrans_rs_spark.sources.pages import synth_pages

    _docs(spark)
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    spark.catalog.clearCache()  # what other tests' fixtures cached
    before = {t.name for t in spark.catalog.listTables()}
    ops = (dedup.minhash_lsh_pairs, dedup.ngram_jaccard_pairs,
           dedup.winnowing_fingerprints, dedup.simhash_pairs,
           dedup.dedup_incremental, text.boilerplate_strip, text.text_profile,
           text.decontaminate, text.corpus_filter_audit,
           lambda s: similarity.ann_lsh_topk(emb),
           lambda s: similarity.embedding_near_dup(emb))
    for _ in range(2):
        for op in ops:
            df = op(spark)
            n = df.count()
            assert df.count() == n  # the second action reads the stages
    eng = SqlEngine(spark, semidyna_grid)
    pts = sql_with(spark, oracle.points_sql("__ORDERS__"),
                   ORDERS=spark.read.parquet(f"{SF}/orders.parquet"))
    for df in (eng.forward(pts), eng.backward(pts), eng.assign_tiles(pts),
               eng.transform_pip(pts, entry_mod.POLYGONS), synth_pages(spark, SF)):
        df.count()
    after = {t.name for t in spark.catalog.listTables()}
    assert after == before | {eng._view}
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_sql_with_binds_frames_for_the_analysis_only(spark):
    """``__NAME__`` tokens bind DataFrame arguments through views that
    are gone once the statement is analyzed, and a cached argument stays
    cached (dropping the view through ``spark.catalog.dropTempView``, as
    pyspark's ``spark.sql(text, df=...)`` does, uncaches it)."""
    from jgdtrans_rs_spark.plans.spark_sql import sql_with

    x = spark.range(3).selectExpr("id", "id * 2 AS y").cache()
    x.count()
    before = {t.name for t in spark.catalog.listTables()}
    got = sql_with(spark, "SELECT x.id, x.y FROM __X__ x JOIN __Z__ z ON x.id = z.id",
                   X=x, Z=spark.range(1, 5))
    assert {t.name for t in spark.catalog.listTables()} == before
    assert x.storageLevel.useMemory
    assert sorted(map(tuple, got.collect())) == [(1, 2), (2, 4)]
    x.unpersist()
