"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)``   — flagship: edge extraction from the synthetic
                     source-code table (FIXTURES.md §F2) → damped PageRank
                     (reference semantics, pagerank.py:100-139) → top-20.
``queries()``      — one entry per operator family from SURVEY.md §2 and
                     the training-data-pipeline suite; each (spark,
                     sf_dir) → DataFrame.
``oracle_sql()``   — DuckDB-runnable ANSI SQL equivalents on the same
                     parquet views. Queries over OUR synthetic fixture
                     (code_*) and the iterative-convergence/LSH paths have
                     no SQL oracle → rows-only checks per the contract.

Float columns are rounded to ≤6 dp on BOTH sides so value-hashes are
stable across fp summation orders. Column names are aliased identically
on both sides.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

ALPHA = 0.85


def _sf_of(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.001


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _cs_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer→supplier link graph: one edge per lineitem of each order
    (parallel edges preserved — reference COO additive semantics)."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    return o.join(li, o.o_orderkey == li.l_orderkey).select(
        F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
    )


CS_EDGES_SQL = """
  SELECT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
"""

NORM_TEXT_SQL = r"trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g'))"


# ---------------------------------------------------------------------------
# entry
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: sf0.001 source-code table → extracted link graph →
    reference-mode PageRank → top-20 files by rank."""
    from pagerank_project_spark.config import PageRankConfig
    from pagerank_project_spark.datagen import ensure_fixture
    from pagerank_project_spark.operators.extract import extract_edges, vertices_from_files
    from pagerank_project_spark.operators.pagerank import pagerank

    fix = ensure_fixture(0.001)
    files = spark.read.parquet(f"{fix}/source_table/data")
    edges = extract_edges(files)  # sha256 invariant asserted inside
    verts = vertices_from_files(files)
    res = pagerank(spark, edges, vertices=verts, cfg=PageRankConfig(mode="reference", epsilon=1e-6))
    return (
        res.ranks.orderBy(F.desc("rank"), F.asc("id"))
        .limit(20)
        .select("id", F.round("rank", 6).alias("rank"))
    )


# ---------------------------------------------------------------------------
# query implementations (Spark side)
# ---------------------------------------------------------------------------

def q_degree_distribution(spark, sf_dir):
    e = _cs_edges(spark, sf_dir)
    return (
        e.groupBy("src")
        .agg(F.count("*").alias("degree"))
        .groupBy("degree")
        .agg(F.count("*").alias("n_nodes"))
    )


def q_inlink_ratio_filter(spark, sf_dir):
    """ONE count action for n (the filter threshold is ratio·n), then total
    and kept edge counts fold into the single returned plan — the driver's
    collect is the only other action."""
    from pagerank_project_spark.operators.pagerank import apply_filter_ratio
    from pagerank_project_spark.operators.vids import build_vertices

    e = _cs_edges(spark, sf_dir)
    n = build_vertices(e, None).count()
    total_df = e.agg(F.count("*").alias("n_edges_total"))
    kept_df = apply_filter_ratio(e, n, 0.3).agg(F.count("*").alias("n_edges_kept"))
    return (
        spark.createDataFrame([(n,)], "n_vertices long")
        .crossJoin(total_df)
        .crossJoin(kept_df)
    )


def q_pagerank_k3(spark, sf_dir):
    from pagerank_project_spark.config import PageRankConfig
    from pagerank_project_spark.operators.pagerank import pagerank

    e = _cs_edges(spark, sf_dir)
    cfg = PageRankConfig(mode="standard", alpha=ALPHA, epsilon=1e-300, max_iterations=3)
    res = pagerank(spark, e, cfg=cfg)
    return res.ranks.select("id", F.round("rank", 6).alias("rank"))


def q_pagerank_k3_personalized(spark, sf_dir):
    """op-18: personalization-indicator vector (urls containing '1'),
    3 fixed textbook iterations — oracle-checkable end-to-end."""
    from pagerank_project_spark.config import PageRankConfig
    from pagerank_project_spark.operators.pagerank import pagerank

    e = _cs_edges(spark, sf_dir)
    cfg = PageRankConfig(mode="standard", alpha=ALPHA, epsilon=1e-300, max_iterations=3)
    res = pagerank(spark, e, cfg=cfg, v_expr=F.col("id").contains("1"))
    return res.ranks.select("id", F.round("rank", 6).alias("rank"))


def q_pagerank_k3_weighted(spark, sf_dir):
    """Weighted-transition PageRank (engine extension of reference op-7:
    P row-normalized over a strictly-positive edge-weight column instead
    of uniform 1/outdeg), 3 fixed textbook iterations. Weights are the
    integer-valued lineitem quantities, so the per-src normalizers sum
    EXACTLY in float64 on both engines."""
    from pagerank_project_spark.config import PageRankConfig
    from pagerank_project_spark.operators.pagerank import pagerank

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_quantity")
    e = o.join(li, o.o_orderkey == li.l_orderkey).select(
        F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
        F.col("l_quantity").alias("wt"),
    )
    cfg = PageRankConfig(mode="standard", alpha=ALPHA, epsilon=1e-300, max_iterations=3)
    res = pagerank(spark, e, cfg=cfg, weight_col="wt")
    return res.ranks.select("id", F.round("rank", 6).alias("rank"))


def q_pagerank_k3_prepared(spark, sf_dir):
    """The SAME fixed-3-iteration textbook PageRank as pagerank_k3, but
    run from a PREPARED persistent graph (plans/prepared_graph): prepare
    → load → loop. Shares pagerank_k3's oracle verbatim — the prepared
    path is pinned bitwise-identical to the in-run build, so one SQL
    text gates both."""
    import tempfile

    from pagerank_project_spark.config import PageRankConfig
    from pagerank_project_spark.operators.pagerank import pagerank
    from pagerank_project_spark.plans.prepared_graph import load_prepared, prepare_graph

    # deterministic per-sf cache dir (NOT a fresh mkdtemp per invocation —
    # repeated oracle runs in one long-lived session would otherwise
    # accumulate temp dirs and prepared_edges_* catalog tables); reuse is
    # safe because load_prepared verifies the catalog entry's location and
    # bucket spec against this dir's manifest. Cache key = content
    # fingerprint of the source parquet (file list + sizes + mtimes) + the
    # FULL sf_dir path, matching q_code_lpa_prepared's rule: a regenerated
    # sf_dir at the same basename gets a fresh baked graph instead of
    # silently reusing a stale one.
    import hashlib

    sig = []
    for tbl in ("orders", "lineitem"):
        troot = os.path.join(sf_dir, f"{tbl}.parquet")
        paths = [troot] if os.path.isfile(troot) else sorted(
            os.path.join(dp, fn)
            for dp, _, fns in os.walk(troot)
            for fn in fns
            if fn.endswith(".parquet")
        )
        for p in paths:
            st = os.stat(p)
            sig.append(f"{p}:{st.st_size}:{st.st_mtime_ns}")
    fp = hashlib.md5(
        ("|".join(sig) + "|" + os.path.abspath(sf_dir)).encode()
    ).hexdigest()[:16]
    pdir = os.path.join(tempfile.gettempdir(), f"prepared-cs-{fp}")
    if os.path.exists(f"{pdir}/manifest.json"):
        pg = load_prepared(spark, pdir)
    else:
        pg = prepare_graph(spark, _cs_edges(spark, sf_dir), pdir)
    cfg = PageRankConfig(mode="standard", alpha=ALPHA, epsilon=1e-300, max_iterations=3)
    res = pagerank(spark, cfg=cfg, prepared=pg)
    return res.ranks.select("id", F.round("rank", 6).alias("rank"))


def q_cc_iter5(spark, sf_dir):
    from pagerank_project_spark.operators.components import connected_components

    e = _cs_edges(spark, sf_dir)
    # propagation mode: exactly 5 min-label supersteps ≡ the unrolled SQL
    # oracle (the star default would converge in fewer, different rounds)
    res = connected_components(spark, e, max_iterations=5, algorithm="propagation")
    return res.labels.select("id", "component")


def _supplier_pairs(spark, sf_dir):
    """Supplier co-occurrence graph (two suppliers linked iff they share an
    order) — the triangle/clustering fixture."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    a = li.alias("a")
    b = li.alias("b")
    return (
        a.join(b, F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        .filter(F.col("a.l_suppkey") < F.col("b.l_suppkey"))
        .select(
            F.concat(F.lit("s"), F.col("a.l_suppkey")).alias("src"),
            F.concat(F.lit("s"), F.col("b.l_suppkey")).alias("dst"),
        )
        .distinct()
    )


def q_hits_k3(spark, sf_dir):
    """Fixed-3-iteration HITS over the customer→supplier link graph —
    unrolled-SQL-oracle-checkable (same fixture as pagerank_k3)."""
    from pagerank_project_spark.operators.hits import hits

    res = hits(spark, _cs_edges(spark, sf_dir), iterations=3)
    return res.scores.select(
        "id", F.round("auth", 6).alias("auth"), F.round("hub", 6).alias("hub")
    )


def q_link_pred_topk(spark, sf_dir):
    """Top-50 predicted links (Adamic-Adar) on the bipartite
    customer→supplier graph — candidates are same-side pairs sharing
    counterparties (the co-purchase signal); AA rounded before ranking in
    both engines. (The supplier co-occurrence graph is near-complete at
    small SF — no non-adjacent pairs to predict.)"""
    from pagerank_project_spark.operators.linkpred import link_prediction_topk

    return link_prediction_topk(spark, _cs_edges(spark, sf_dir), k=50)


def q_kcore_iter4(spark, sf_dir):
    """Exactly 4 h-index supersteps of k-core decomposition — all-integer
    dataflow, so the unrolled DuckDB oracle matches exactly."""
    from pagerank_project_spark.operators.kcore import kcore_fixed

    return kcore_fixed(spark, _cs_edges(spark, sf_dir), iterations=4)


def q_search_topk(spark, sf_dir):
    from pagerank_project_spark.functions.query import search

    ranks = _t(spark, sf_dir, "customer").select(
        F.col("c_name").alias("id"), (F.col("c_acctbal") / F.lit(100000.0)).alias("rank")
    )
    out = search(ranks, "191 -8", max_results=10, sum_weight=0.03)
    return out.select("id", F.round("score", 6).alias("score"))


def q_dedup_exact(spark, sf_dir):
    from pagerank_project_spark.operators.dedup import exact_dedup_groups

    return exact_dedup_groups(_t(spark, sf_dir, "documents"))


def q_text_profile(spark, sf_dir):
    from pagerank_project_spark.operators.textstats import text_profile

    prof = text_profile(_t(spark, sf_dir, "documents"))
    return prof.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
        F.round("punct_ratio", 6).alias("punct_ratio"),
        F.round("quality", 6).alias("quality"),
        "lang_pred",
        "fp",
    )


def q_tfidf_topk(spark, sf_dir):
    """Top-5 TF-IDF terms per document; scores rounded before ranking in
    both engines so ulp-level ln() differences can't flip the k-th spot."""
    from pagerank_project_spark.operators.textstats import tfidf_topk

    return tfidf_topk(_t(spark, sf_dir, "documents"), k=5)


def q_bigram_lm(spark, sf_dir):
    """Corpus bigram LM table (counts + conditional MLE probabilities) —
    all-integer/exact-ratio arithmetic, bit-exact oracle."""
    from pagerank_project_spark.operators.textstats import bigram_lm_stats

    return bigram_lm_stats(_t(spark, sf_dir, "documents"))


def q_lm_surprisal(spark, sf_dir):
    """Per-doc mean bigram surprisal under the corpus's own LM — the
    CCNet-style quality signal; p is an exact integer ratio, the per-doc
    mean of −ln p moves ≲1e-13 across libms, far inside the 6dp round."""
    from pagerank_project_spark.operators.textstats import lm_surprisal

    return lm_surprisal(_t(spark, sf_dir, "documents"))


def q_quality_filter(spark, sf_dir):
    """Per-language quality-percentile corpus filter (keep top 50% of each
    language by quality); kept set is deterministic — integer cutoff over
    a (quality desc, doc_id) total order on the bit-identical score."""
    from pagerank_project_spark.operators.textstats import quality_filter_per_lang

    return quality_filter_per_lang(_t(spark, sf_dir, "documents"), keep_frac=0.5)


# --- repetition / PII fixtures ----------------------------------------------
# the synthetic documents are single-line with no PII, so these queries
# derive enriched text DETERMINISTICALLY from (text, doc_id) with the same
# arithmetic on both engines (the proven media_audio_profile pattern):
# multi-line docs with data-dependent planted duplicate lines/paragraphs,
# and appended PII spans per residue class.

def _ml_text_expr():
    """Multi-line document: para1 = first-80-chars + first-40-chars line
    (duplicated when doc_id ≡ 0 mod 2), para2 = chars 81-160 (duplicated as
    para3 when doc_id ≡ 0 mod 3)."""
    t, d = F.col("text"), F.col("doc_id")
    p1 = F.substring(t, 1, 80)
    p2 = F.substring(t, 81, 80)
    l1 = F.substring(t, 1, 40)
    para1 = F.when(d % 2 == 0, F.concat_ws("\n", p1, l1, l1)).otherwise(F.concat_ws("\n", p1, l1))
    tail = F.when(d % 3 == 0, F.concat(F.lit("\n\n"), p2)).otherwise(F.lit(""))
    return F.concat(para1, F.lit("\n\n"), p2, tail)


ML_TEXT_SQL = """
CASE WHEN doc_id % 2 = 0
     THEN substr(text, 1, 80) || chr(10) || substr(text, 1, 40) || chr(10) || substr(text, 1, 40)
     ELSE substr(text, 1, 80) || chr(10) || substr(text, 1, 40) END
|| chr(10) || chr(10) || substr(text, 81, 80)
|| CASE WHEN doc_id % 3 = 0 THEN chr(10) || chr(10) || substr(text, 81, 80) ELSE '' END
"""


def _pii_text_expr():
    """PII-enriched text: per residue class append an email / dotted quad /
    international phone / 32-hex-char key derived from (doc_id, text)."""
    t, d = F.col("text"), F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    return F.concat(
        t,
        F.when(d % 2 == 0, F.concat(F.lit(" contact p"), s(d), F.lit("@mail.example.com"))).otherwise(F.lit("")),
        F.when(d % 3 == 0, F.concat(F.lit(" host 10."), s(d % 256), F.lit(".0."), s(d % 100))).otherwise(F.lit("")),
        F.when(d % 5 == 0, F.concat(F.lit(" call +1 555 "), s(d % 900 + 100), F.lit(" "), s(d % 9000 + 1000))).otherwise(F.lit("")),
        F.when(d % 7 == 0, F.concat(F.lit(" token "), F.md5(t.cast("binary")))).otherwise(F.lit("")),
    )


PII_TEXT_SQL = """
text
|| CASE WHEN doc_id % 2 = 0 THEN ' contact p' || doc_id::VARCHAR || '@mail.example.com' ELSE '' END
|| CASE WHEN doc_id % 3 = 0 THEN ' host 10.' || (doc_id % 256)::VARCHAR || '.0.' || (doc_id % 100)::VARCHAR ELSE '' END
|| CASE WHEN doc_id % 5 = 0 THEN ' call +1 555 ' || (doc_id % 900 + 100)::VARCHAR || ' ' || (doc_id % 9000 + 1000)::VARCHAR ELSE '' END
|| CASE WHEN doc_id % 7 = 0 THEN ' token ' || md5(text) ELSE '' END
"""


def q_repetition_profile(spark, sf_dir):
    """Gopher/C4-style repetition signals over the derived multi-line
    corpus — all exact integer ratios, bit-exact oracle."""
    from pagerank_project_spark.operators.textstats import repetition_profile

    docs = _t(spark, sf_dir, "documents").select("doc_id", _ml_text_expr().alias("text"))
    return repetition_profile(docs)


def q_dup_ngram_spans(spark, sf_dir):
    """Cross-document duplicate 8-gram span coverage (ExactSubstr-lite) —
    exact integer ratios, bit-exact DuckDB oracle."""
    from pagerank_project_spark.operators.textstats import dup_ngram_profile

    return dup_ngram_profile(_t(spark, sf_dir, "documents"), n=8)


def q_line_dedup(spark, sf_dir):
    """Corpus-level boilerplate-line removal TRANSFORM over the derived
    multi-line corpus — rewrites clean_text, byte-exact cross-engine."""
    from pagerank_project_spark.operators.textstats import corpus_line_dedup

    docs = _t(spark, sf_dir, "documents").select("doc_id", _ml_text_expr().alias("text"))
    return corpus_line_dedup(docs)


def q_quality_filter_rep(spark, sf_dir):
    """quality_filter_per_lang COMPOSED with the repetition pre-filter:
    docs whose duplicate-line fraction exceeds 0.3 (the doc_id ≡ 0 mod 6
    plants, at 0.4) are dropped before the per-language percentile."""
    from pagerank_project_spark.operators.textstats import quality_filter_per_lang

    docs = _t(spark, sf_dir, "documents").select("doc_id", _ml_text_expr().alias("text"))
    return quality_filter_per_lang(docs, keep_frac=0.5, max_dup_line_frac=0.3)


def q_pii_scrub(spark, sf_dir):
    from pagerank_project_spark.operators.pii import pii_scrub

    docs = _t(spark, sf_dir, "documents").select("doc_id", _pii_text_expr().alias("text"))
    return pii_scrub(docs)


def q_lang_histogram(spark, sf_dir):
    from pagerank_project_spark.operators.textstats import lang_id

    return (
        _t(spark, sf_dir, "documents")
        .select(lang_id(F.col("text")).alias("lang_pred"))
        .groupBy("lang_pred")
        .agg(F.count("*").alias("n_docs"))
    )


def q_ngram_jaccard(spark, sf_dir):
    from pagerank_project_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), threshold=0.2)


def q_decontamination(spark, sf_dir):
    """Benchmark-leakage report: corpus docs sharing ≥1 distinct word
    3-gram with the held-out 'benchmark' slice (doc_id ≡ 0 mod 50).
    All-integer output — exact oracle match."""
    from pagerank_project_spark.operators.dedup import ngram_contamination

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    return ngram_contamination(docs, bench, n=3)


def q_embedding_topk(spark, sf_dir):
    from pagerank_project_spark.operators.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 50)
    return brute_force_topk(spark, queries, emb, k=5)


def q_events_hourly(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        "event_type", F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH").alias("hour")
    ).agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total_value"))


# --- rows-only queries over the synthetic source-code fixture ---------------

def _code_graph(spark, sf_dir):
    from pagerank_project_spark.datagen import ensure_fixture
    from pagerank_project_spark.operators.extract import extract_edges, vertices_from_files

    fix = ensure_fixture(_sf_of(sf_dir))
    files = spark.read.parquet(f"{fix}/source_table/data")
    return extract_edges(files, verify_sha=False), vertices_from_files(files)


def q_code_extract_summary(spark, sf_dir):
    from pagerank_project_spark.datagen import ensure_fixture
    from pagerank_project_spark.operators.extract import extract_edges

    fix = ensure_fixture(_sf_of(sf_dir))
    files = spark.read.parquet(f"{fix}/source_table/data")
    e = extract_edges(files)  # sha invariant enforced
    return e.groupBy("kind").agg(F.count("*").alias("n_edges")).orderBy("kind")


def q_code_pagerank_top50(spark, sf_dir):
    """RUN-TO-CONVERGENCE reference-mode PageRank → top-50. Rank is rounded
    to 6dp BEFORE the top-k cut (ties → id) so the selected set is
    ulp-robust; the DuckDB oracle unrolls the same dataflow with the
    convergence test inside the SQL (_pagerank_converged_sql)."""
    from pagerank_project_spark.config import PageRankConfig
    from pagerank_project_spark.operators.pagerank import pagerank

    edges, verts = _code_graph(spark, sf_dir)
    res = pagerank(
        spark, edges, vertices=verts, cfg=PageRankConfig(mode="reference", epsilon=1e-6, max_iterations=100)
    )
    return (
        res.ranks.select("id", F.round("rank", 6).alias("rank"))
        .orderBy(F.desc("rank"), F.asc("id"))
        .limit(50)
    )


def q_code_pagerank_csr_top50(spark, sf_dir):
    """Same converged run through the salted CSR pandas-UDF strategy —
    pinned to the same oracle (the strategies are equivalence-tested to
    1e-9; the 6dp pre-ranking round kills the residual ulp noise)."""
    from pagerank_project_spark.config import PageRankConfig
    from pagerank_project_spark.operators.pagerank import pagerank

    edges, verts = _code_graph(spark, sf_dir)
    cfg = PageRankConfig(mode="reference", epsilon=1e-6, max_iterations=100, strategy="csr")
    res = pagerank(spark, edges, vertices=verts, cfg=cfg)
    return (
        res.ranks.select("id", F.round("rank", 6).alias("rank"))
        .orderBy(F.desc("rank"), F.asc("id"))
        .limit(50)
    )


def q_code_pagerank_k3(spark, sf_dir):
    """Fixed-3-iteration textbook PageRank over the code graph (vertex
    universe = ALL files, isolated included) — SQL-oracle-checkable."""
    from pagerank_project_spark.config import PageRankConfig
    from pagerank_project_spark.operators.pagerank import pagerank

    edges, verts = _code_graph(spark, sf_dir)
    cfg = PageRankConfig(mode="standard", alpha=ALPHA, epsilon=1e-300, max_iterations=3)
    res = pagerank(spark, edges, vertices=verts, cfg=cfg)
    return res.ranks.select("id", F.round("rank", 6).alias("rank"))


def q_code_lpa_communities(spark, sf_dir):
    from pagerank_project_spark.operators.labelprop import label_propagation

    edges, verts = _code_graph(spark, sf_dir)
    res = label_propagation(spark, edges, vertices=verts, iterations=4)
    return (
        res.labels.groupBy("label")
        .agg(F.count("*").alias("size"))
        .groupBy("size")
        .agg(F.count("*").alias("n_communities"))
    )


def q_code_lpa_prepared(spark, sf_dir):
    """The SAME 4-iteration LPA as code_lpa_communities, run from the
    PREPARED undirected artifact (prepare_undirected → load → loop) —
    pinned bitwise to the direct path, so one SQL text gates both."""
    import hashlib
    import tempfile

    from pagerank_project_spark.datagen import ensure_fixture
    from pagerank_project_spark.operators.labelprop import label_propagation
    from pagerank_project_spark.plans.prepared_graph import (
        load_prepared_undirected,
        prepare_undirected,
    )

    edges, verts = _code_graph(spark, sf_dir)
    # cache key = content fingerprint of the underlying fixture (manifest
    # bytes + mtime) + the FULL sf_dir path — a regenerated fixture at the
    # same basename, or a same-named fixture at another path, gets a fresh
    # baked graph instead of silently reusing a stale one
    from pagerank_project_spark.plans.prepared_graph import UND_VERSION

    fix = ensure_fixture(_sf_of(sf_dir))
    man = f"{fix}/source_table/_manifest.json"
    with open(man, "rb") as fh:
        fp = hashlib.md5(
            fh.read()
            + str(os.path.getmtime(man)).encode()
            + os.path.abspath(sf_dir).encode()
            + str(UND_VERSION).encode()  # artifact-format bumps invalidate the cache
        ).hexdigest()[:16]
    pdir = os.path.join(tempfile.gettempdir(), f"prepared-und-code-{fp}")
    if os.path.exists(f"{pdir}/manifest.json"):
        pg = load_prepared_undirected(spark, pdir)
    else:
        pg = prepare_undirected(spark, edges, pdir, vertices=verts)
    res = label_propagation(spark, iterations=4, prepared_und=pg)
    return (
        res.labels.groupBy("label")
        .agg(F.count("*").alias("size"))
        .groupBy("size")
        .agg(F.count("*").alias("n_communities"))
    )


def q_code_triangles(spark, sf_dir):
    from pagerank_project_spark.operators.triangles import triangle_count

    edges, _ = _code_graph(spark, sf_dir)
    res = triangle_count(spark, edges)
    return spark.createDataFrame([(res.total,)], "n_triangles long")


def q_code_modularity(spark, sf_dir):
    """Newman modularity of the LPA-4 partition over the code graph —
    partition-quality metric for the community detector; exact-integer
    sufficient statistics keep the DuckDB compare deterministic."""
    from pagerank_project_spark.operators.graphmetrics import modularity
    from pagerank_project_spark.operators.labelprop import label_propagation

    edges, verts = _code_graph(spark, sf_dir)
    res = label_propagation(spark, edges, vertices=verts, iterations=4)
    return modularity(spark, edges, res.labels)


def q_code_graph_profile(spark, sf_dir):
    """Degree assortativity + reciprocity of the code link graph."""
    from pagerank_project_spark.operators.graphmetrics import mixing_profile

    edges, _ = _code_graph(spark, sf_dir)
    return mixing_profile(spark, edges)


def q_code_bfs_depths(spark, sf_dir):
    """Directed hop distance from each repo's entry file (multi-source
    frontier BFS, 8 rounds) — crawl-depth / link-distance features."""
    from pagerank_project_spark.operators.traversal import bfs_distances

    edges, verts = _code_graph(spark, sf_dir)
    seeds = verts.filter(F.col("id").like(BFS_SEED_LIKE))
    return bfs_distances(spark, edges, seeds, max_iterations=8).select(
        "id", F.col("dist").cast("long").alias("dist")
    )


def q_code_random_walks(spark, sf_dir):
    """Deterministic md5-argmin random walks (5 steps) from each repo's
    entry file — DeepWalk-style sequence corpus, cross-engine exact."""
    from pagerank_project_spark.operators.traversal import random_walks

    edges, verts = _code_graph(spark, sf_dir)
    starts = verts.filter(F.col("id").like(BFS_SEED_LIKE))
    return random_walks(spark, edges, starts, steps=5).select(
        "walk_id", F.col("step").cast("long").alias("step"), "id"
    )


def q_code_module_graph(spark, sf_dir):
    """File-level edges collapsed to the module (directory) quotient graph
    with edge weights — the host-graph collapse of a web corpus."""
    from pagerank_project_spark.operators.traversal import quotient_graph

    edges, _ = _code_graph(spark, sf_dir)
    return quotient_graph(edges, "regexp_replace({v}, '/[^/]+$', '')")


def q_code_spam_mass(spark, sf_dir):
    """TrustRank spam mass over the code graph: trusted seeds = each
    repo's entry file; k=3 fixed textbook iterations so both PageRank
    vectors unroll in SQL. rank/trust round to 6dp FIRST and the mass is
    computed from the rounded doubles on BOTH engines — the division is
    then IEEE-identical, not just ulp-close."""
    from pagerank_project_spark.config import PageRankConfig
    from pagerank_project_spark.operators.trust import spam_mass

    edges, verts = _code_graph(spark, sf_dir)
    cfg = PageRankConfig(mode="standard", alpha=ALPHA, epsilon=1e-300, max_iterations=3)
    sm = spam_mass(
        spark, edges,
        trusted_expr=F.col("id").like(BFS_SEED_LIKE),
        vertices=verts, cfg=cfg,
    )
    return sm.select(
        "id", F.round("rank", 6).alias("rank"), F.round("trust", 6).alias("trust")
    ).withColumn(
        "spam_mass", F.round((F.col("rank") - F.col("trust")) / F.col("rank"), 6)
    )


def q_code_bowtie(spark, sf_dir):
    """Broder bowtie regions relative to the entry-file seed set (8-hop
    cap, full vertex table so isolated files classify as 'disc')."""
    from pagerank_project_spark.operators.traversal import bowtie_membership

    edges, verts = _code_graph(spark, sf_dir)
    seeds = verts.filter(F.col("id").like(BFS_SEED_LIKE))
    return bowtie_membership(spark, edges, seeds, vertices=verts, max_iterations=8)


def q_code_dep_layers(spark, sf_dir):
    """Dependency layering of repo0: SCC → condensation → longest-path
    levels (the build-stage assignment of a cyclic import graph)."""
    from pagerank_project_spark.operators.scc import (
        condensation,
        dag_levels,
        strongly_connected_components,
    )

    edges, verts = _code_graph(spark, sf_dir)
    sub_e = edges.filter(
        F.col("src").like("org0/repo0:%") & F.col("dst").like("org0/repo0:%")
    )
    sub_v = verts.filter(F.col("id").like("org0/repo0:%"))
    res = strongly_connected_components(spark, sub_e, vertices=sub_v)
    cond = condensation(sub_e, res.labels).select(
        F.col("src_scc").alias("src"), F.col("dst_scc").alias("dst")
    )
    all_sccs = res.labels.select(F.col("scc").alias("id")).distinct()
    return dag_levels(spark, cond, vertices=all_sccs).select(
        F.col("id").alias("scc"), F.col("level").cast("long").alias("level")
    )


def q_code_module_rank(spark, sf_dir):
    """quotient_graph → weighted PageRank composition: collapse the file
    graph to the module (directory) supergraph, then rank modules with
    edge multiplicity as transition weight — the domain-level PageRank of
    a web corpus (host graph → host rank)."""
    from pagerank_project_spark.config import PageRankConfig
    from pagerank_project_spark.operators.pagerank import pagerank
    from pagerank_project_spark.operators.traversal import quotient_graph

    edges, _ = _code_graph(spark, sf_dir)
    mg = quotient_graph(edges, "regexp_replace({v}, '/[^/]+$', '')").select(
        F.col("src_group").alias("src"),
        F.col("dst_group").alias("dst"),
        F.col("weight").cast("double").alias("weight"),
    )
    cfg = PageRankConfig(mode="standard", alpha=ALPHA, epsilon=1e-300, max_iterations=3)
    res = pagerank(spark, mg, cfg=cfg, weight_col="weight")
    return res.ranks.select("id", F.round("rank", 6).alias("rank"))


def q_code_ppr_topk(spark, sf_dir):
    """Batched personalized PageRank: every repo's entry file is a seed,
    all seeds run in ONE superstep loop (state keyed (seed, id)); top-10
    per seed after 3 iterations, ranks 6dp-rounded before the cut."""
    from pagerank_project_spark.operators.ppr import ppr_topk

    edges, verts = _code_graph(spark, sf_dir)
    seeds = verts.filter(F.col("id").like(BFS_SEED_LIKE))
    return ppr_topk(spark, edges, seeds, k=10, alpha=ALPHA, iterations=3)


def q_code_neighbor_sample(spark, sf_dir):
    """GraphSAGE-style 2-hop sampled computation graph from the entry-file
    roots (fan-outs 3 then 2) — deterministic md5-ordered neighbor choice,
    so the exact sampled edge set is DuckDB-oracle-checkable."""
    from pagerank_project_spark.operators.neighbors import khop_neighborhood

    edges, verts = _code_graph(spark, sf_dir)
    seeds = verts.filter(F.col("id").like(BFS_SEED_LIKE))
    return khop_neighborhood(edges, seeds, [3, 2]).select(
        "root", F.col("hop").cast("long").alias("hop"), "src", "dst"
    )


def q_synonym_topk(spark, sf_dir):
    """Corpus-derived synonym table (PPMI-cosine, the GloVe stand-in for
    reference op-20 query expansion) — fully SQL-expressible."""
    from pagerank_project_spark.functions.synonyms import build_synonym_table

    return build_synonym_table(
        _t(spark, sf_dir, "documents"), min_count=20, topn=3
    ).select("word", "neighbor", F.round("sim", 6).alias("sim"))


def q_minhash_lsh(spark, sf_dir):
    from pagerank_project_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(_t(spark, sf_dir, "documents"), threshold=0.5)


def q_simhash_near(spark, sf_dir):
    from pagerank_project_spark.operators.dedup import simhash_near_pairs

    return simhash_near_pairs(_t(spark, sf_dir, "documents"), max_hamming=3)


def q_embedding_lsh_topk(spark, sf_dir):
    from pagerank_project_spark.operators.similarity import lsh_topk

    return lsh_topk(spark, _t(spark, sf_dir, "embeddings"), k=5)


def q_embedding_ivf_topk(spark, sf_dir):
    """IVF ANN with the DETERMINISTIC coarse quantizer (det_centroids — a
    pure function of (n, dim, seed)): the DuckDB oracle embeds the same
    centroid literals, so cell assignment, probing, candidate join, and
    the exact rerank are all checked end-to-end. Quality-vs-brute-force
    (with the trained quantizer too) is pinned by pytest."""
    from pagerank_project_spark.operators.similarity import det_centroids, ivf_topk

    return ivf_topk(
        spark, _t(spark, sf_dir, "embeddings"), k=5,
        centroids=det_centroids(16, EMB_DIM, seed=29),
    )


# the synthetic embeddings are near-orthogonal (max pairwise cosine ≈ 0.51
# at sf0.01), so a true near-dup threshold (0.9) would oracle-match only
# the empty set; 0.3 keeps the same operator semantics with a non-trivial
# (~1k-pair) answer. Planted-duplicate recall at 0.9 is pinned by pytest.
NEAR_DUP_THRESHOLD = 0.3

# testdata embeddings are 64-dim at every sf; the deterministic LSH plane /
# IVF centroid constants (shared verbatim between the Spark kernels and the
# generated oracle SQL literals) are keyed on this
EMB_DIM = 64


def q_embedding_near_dup(spark, sf_dir):
    from pagerank_project_spark.operators.similarity import cosine_near_pairs_exact

    return cosine_near_pairs_exact(
        spark, _t(spark, sf_dir, "embeddings"), threshold=NEAR_DUP_THRESHOLD
    )


def q_embedding_near_dup_lsh(spark, sf_dir):
    from pagerank_project_spark.operators.similarity import cosine_near_pairs

    return cosine_near_pairs(
        spark, _t(spark, sf_dir, "embeddings"), threshold=NEAR_DUP_THRESHOLD,
        bands=16, rows_per_band=2,
    )


def q_media_audio_profile(spark, sf_dir):
    """Multimodal binary-column path, oracle-checked end-to-end: audio
    blobs are derived deterministically from ``documents`` (64 bytes =
    four chained md5 digests of the text — full 0-255 byte range, so the
    int16 LE reinterpretation exercises both signs), then run through the
    REAL media plumbing (MEDIA_SCHEMA binary column → Arrow →
    ``audio_features`` mapInPandas kernel). Every feature is exactly
    reproducible in SQL: int16 sums/sums-of-squares are integer-exact in
    float64, the divisions are mirrored in the same order, and values are
    rounded to 6dp on both sides (the harness's own float tolerance)."""
    from pagerank_project_spark.operators.multimodal import audio_features

    docs = _t(spark, sf_dir, "documents")
    blob = F.concat(
        F.unhex(F.md5(F.col("text").cast("binary"))),
        *[
            F.unhex(F.md5(F.concat(F.col("text"), F.lit(str(k))).cast("binary")))
            for k in (1, 2, 3)
        ],
    )
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("audio").alias("kind"),
        F.struct(
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("int").alias("channels"),
            F.lit(8000).cast("int").alias("sample_rate"),
            F.lit(None).cast("int").alias("n_frames"),
        ).alias("meta"),
        blob.alias("data"),
    )
    return audio_features(media).select(
        F.col("media_id").alias("doc_id"),
        F.round("duration_sec", 6).alias("duration_sec"),
        F.round("rms", 6).alias("rms"),
        F.round("zero_cross_rate", 6).alias("zcr"),
    )


def q_dedup_clusters(spark, sf_dir):
    """Keep-one dedup: exact n-gram-Jaccard pairs → transitive closure via
    the star-contraction CC operator → canonical doc (min id) per cluster.
    Oracle = the same pair SQL + converged min-label propagation (unrolled
    with generous headroom: near-dup clusters are near-cliques). The
    production-scale twin clusters ``minhash_lsh_pairs`` output instead
    (hash-seeded → pinned by pytest, not SQL)."""
    from pagerank_project_spark.operators.dedup import near_dup_clusters, ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), threshold=0.2)
    return near_dup_clusters(spark, pairs)


def q_events_sessions(spark, sf_dir):
    """Batch sessionization (30-min inactivity gap) — the batch twin of the
    ``applyInPandasWithState`` streaming sessionizer, here oracle-checked
    against a lag/cumsum SQL replay. Gap test is on whole seconds
    (floor-cast on the Spark side ≡ date_diff('second') boundary count on
    the DuckDB side), so sub-second fractions can't flip an engine."""
    from pagerank_project_spark.streaming.edge_stream import sessionize_events

    s = sessionize_events(_t(spark, sf_dir, "events"), gap_minutes=30)
    return s.select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_start"),
        "n_events",
        "total_value",
    )


# corpus-mixing rates for the sampling contract query: keep 60% of English,
# 25% of German, 10% of everything else (deterministic md5 buckets — the
# kept set is a function of the data only, reproducible on any cluster)
SAMPLE_RATES = {"en": 60, "de": 25}
SAMPLE_DEFAULT_PCT = 10
SAMPLE_SALT = "mix1"


def q_docs_lang_sample(spark, sf_dir):
    from pagerank_project_spark.operators.sampling import stratified_hash_sample
    from pagerank_project_spark.operators.textstats import lang_id

    docs = _t(spark, sf_dir, "documents").withColumn("lang_pred", lang_id(F.col("text")))
    kept = stratified_hash_sample(
        docs, "doc_id", F.col("lang_pred"), SAMPLE_RATES,
        default_pct=SAMPLE_DEFAULT_PCT, salt=SAMPLE_SALT,
    )
    return kept.select("doc_id", "lang_pred")


def q_token_quantiles(spark, sf_dir):
    """Per-language exact token-count quantiles — corpus length profiling
    (the stats a pipeline reads before picking truncation/packing lengths).
    Spark's ``percentile`` and DuckDB's ``quantile_cont`` share the linear
    interpolation definition, bit-for-bit, so the oracle is exact. The scale
    note: exact percentile shuffles each group's values to one reducer —
    per-LANGUAGE groups are few and bounded, which is what makes exact
    affordable here; for per-document-key quantiles use approx_percentile."""
    from pagerank_project_spark.operators.textstats import lang_id, token_count

    return (
        _t(spark, sf_dir, "documents")
        .select(lang_id(F.col("text")).alias("lang_pred"), token_count(F.col("text")).alias("nt"))
        .groupBy("lang_pred")
        .agg(
            F.round(F.expr("percentile(nt, 0.5)"), 6).alias("p50_tokens"),
            F.round(F.expr("percentile(nt, 0.9)"), 6).alias("p90_tokens"),
            F.count("*").alias("n_docs"),
        )
    )


# ---------------------------------------------------------------------------
# Round-5 consolidated contract queries. The driver harness checks exactly the
# FIRST 50 queries() entries; rounds 3-4 had 63, leaving 13 un-checked. Each
# merge below JOINS/UNIONS already-green families on their shared key so every
# underlying operator keeps a hard per-value check, and the registry fits the
# 50-row window with EVERY entry oracle-backed. The single-family q_* functions
# stay callable (tests and bench use them).
# ---------------------------------------------------------------------------


def q_pagerank_hits_k3_suite(spark, sf_dir):
    """pagerank_k3 + personalized + weighted + HITS, one row per vertex of
    the shared customer→supplier graph: (id, rank, rank_pers, rank_w,
    auth, hub). Four independently-unrolled SQL oracles joined on id."""
    pr = q_pagerank_k3(spark, sf_dir)
    pp = q_pagerank_k3_personalized(spark, sf_dir).withColumnRenamed("rank", "rank_pers")
    pw = q_pagerank_k3_weighted(spark, sf_dir).withColumnRenamed("rank", "rank_w")
    h = q_hits_k3(spark, sf_dir)
    return pr.join(pp, "id").join(pw, "id").join(h, "id")


def q_triangle_clustering(spark, sf_dir):
    """Per-vertex clustering coefficients + the global triangle count as a
    constant column (both over the supplier co-occurrence graph)."""
    from pagerank_project_spark.operators.triangles import clustering_coefficient, triangle_count

    pairs = _supplier_pairs(spark, sf_dir)
    tri = triangle_count(spark, pairs)
    out = clustering_coefficient(spark, pairs)
    return out.select(
        "id", F.round("coeff", 6).alias("coeff"), F.lit(tri.total).alias("n_triangles")
    )


def q_code_cc(spark, sf_dir):
    """CC over the code graph, both contracts in one row per vertex:
    the exactly-5-superstep intermediate label (≡ unrolled SQL) and the
    CONVERGED star-contraction label with its component size."""
    from pagerank_project_spark.operators.components import connected_components

    edges, verts = _code_graph(spark, sf_dir)
    it5 = connected_components(spark, edges, vertices=verts, max_iterations=5, algorithm="propagation")
    conv = connected_components(spark, edges, vertices=verts)
    sizes = conv.labels.groupBy("component").agg(F.count("*").alias("component_size"))
    return (
        it5.labels.select("id", F.col("component").alias("component_iter5"))
        .join(conv.labels, "id")
        .join(sizes, "component")
        .select("id", "component_iter5", "component", "component_size")
    )


def q_code_pagerank_conv_top50(spark, sf_dir):
    """Run-to-convergence top-50 through BOTH physical strategies —
    relational superstep and salted-CSR pandas-UDF — joined on id against
    ONE convergence-in-SQL oracle (rank duplicated): strategy equivalence
    becomes part of the hash check itself."""
    rel = q_code_pagerank_top50(spark, sf_dir)
    csr = q_code_pagerank_csr_top50(spark, sf_dir).withColumnRenamed("rank", "rank_csr")
    return rel.join(csr, "id").select("id", "rank", "rank_csr")


def q_text_profile_lang(spark, sf_dir):
    """Per-doc text profile + the language histogram riding along as a
    per-language count column (lang_n_docs)."""
    prof = q_text_profile(spark, sf_dir)
    hist = q_lang_histogram(spark, sf_dir).withColumnRenamed("n_docs", "lang_n_docs")
    return prof.join(hist, "lang_pred").select(
        "doc_id", "n_tokens", "n_bpe_tokens", "punct_ratio", "quality",
        "lang_pred", "fp", "lang_n_docs",
    )


def q_repetition_quality(spark, sf_dir):
    """Repetition signals per doc + whether the repetition-composed
    per-language quality filter KEEPS the doc (kept = 1/0 long — the
    quality arithmetic itself is hash-checked via quality_filter)."""
    rep = q_repetition_profile(spark, sf_dir)
    kept = q_quality_filter_rep(spark, sf_dir).select("doc_id").withColumn("_k", F.lit(1))
    return rep.join(kept, "doc_id", "left").withColumn(
        "kept", F.coalesce(F.col("_k"), F.lit(0)).cast("long")
    ).drop("_k")


def q_embedding_ann_topk(spark, sf_dir):
    """Both ANN candidate generators (hyperplane-LSH and deterministic-IVF)
    in one relation, tagged by method — each side's buckets, candidates,
    and exact rerank are engine-exact (md5/constant reformulation)."""
    lsh = q_embedding_lsh_topk(spark, sf_dir).select(
        F.lit("lsh").alias("method"), "vec_id", "neighbor", "cosine"
    )
    ivf = q_embedding_ivf_topk(spark, sf_dir).select(
        F.lit("ivf").alias("method"), "vec_id", "neighbor", "cosine"
    )
    return lsh.unionByName(ivf)


def q_embedding_near_dup_suite(spark, sf_dir):
    """Exact streaming near-dup pairs + the LSH-bucketed scale path,
    tagged by method (the LSH side is a recall<1 SUBSET by construction —
    both sides hash-checked against their own mechanism)."""
    ex = q_embedding_near_dup(spark, sf_dir).select(
        F.lit("exact").alias("method"), "a", "b", "cosine"
    )
    lsh = q_embedding_near_dup_lsh(spark, sf_dir).select(
        F.lit("lsh").alias("method"), "a", "b", "cosine"
    )
    return ex.unionByName(lsh)


def q_code_module_rank_graph(spark, sf_dir):
    """Module quotient graph with the module-level weighted PageRank of
    both endpoints joined on: (src_group, dst_group, weight, src_rank,
    dst_rank)."""
    mg = q_code_module_graph(spark, sf_dir)
    pr = q_code_module_rank(spark, sf_dir)
    return (
        mg.join(pr.select(F.col("id").alias("src_group"), F.col("rank").alias("src_rank")), "src_group")
        .join(pr.select(F.col("id").alias("dst_group"), F.col("rank").alias("dst_rank")), "dst_group")
        .select("src_group", "dst_group", "weight", "src_rank", "dst_rank")
    )


def q_code_scc_condensation(spark, sf_dir):
    """SCC labels + condensation DAG of the repo0 import subgraph in one
    tagged relation: ('scc', id, scc-label, 0) ∪ ('edge', src_scc,
    dst_scc, weight)."""
    from pagerank_project_spark.operators.scc import condensation, strongly_connected_components

    edges, verts = _code_graph(spark, sf_dir)
    sub_e = edges.filter(
        F.col("src").like("org0/repo0:%") & F.col("dst").like("org0/repo0:%")
    )
    sub_v = verts.filter(F.col("id").like("org0/repo0:%"))
    res = strongly_connected_components(spark, sub_e, vertices=sub_v)
    lab = res.labels.select(
        F.lit("scc").alias("kind"), F.col("id").alias("a"), F.col("scc").alias("b"),
        F.lit(0).cast("long").alias("w"),
    )
    ced = condensation(sub_e, res.labels).select(
        F.lit("edge").alias("kind"), F.col("src_scc").alias("a"),
        F.col("dst_scc").alias("b"), F.col("weight").cast("long").alias("w"),
    )
    return lab.unionByName(ced)


def q_docs_lang_sample_quantiles(spark, sf_dir):
    """Stratified hash-sampled docs with their language's exact token
    quantiles joined on: (doc_id, lang_pred, p50_tokens, p90_tokens,
    lang_n_docs)."""
    samp = q_docs_lang_sample(spark, sf_dir)
    quant = q_token_quantiles(spark, sf_dir).withColumnRenamed("n_docs", "lang_n_docs")
    return samp.join(quant, "lang_pred").select(
        "doc_id", "lang_pred", "p50_tokens", "p90_tokens", "lang_n_docs"
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # EXACTLY 50 entries (the driver's check window), every one oracle-backed.
    return {
        # reference-derived operator families (SURVEY.md §2)
        "degree_distribution": q_degree_distribution,
        "inlink_ratio_filter": q_inlink_ratio_filter,
        "pagerank_hits_k3_suite": q_pagerank_hits_k3_suite,
        "cc_iter5": q_cc_iter5,
        "pagerank_k3_prepared": q_pagerank_k3_prepared,
        "triangle_clustering": q_triangle_clustering,
        "kcore_iter4": q_kcore_iter4,
        "link_pred_topk": q_link_pred_topk,
        "search_topk": q_search_topk,
        # training-data pipeline suite
        "dedup_exact": q_dedup_exact,
        "text_profile_lang": q_text_profile_lang,
        "tfidf_topk": q_tfidf_topk,
        "quality_filter": q_quality_filter,
        "lm_surprisal": q_lm_surprisal,
        "repetition_quality": q_repetition_quality,
        "dup_ngram_spans": q_dup_ngram_spans,
        "line_dedup": q_line_dedup,
        "pii_scrub": q_pii_scrub,
        "bigram_lm": q_bigram_lm,
        "ngram_jaccard": q_ngram_jaccard,
        "decontamination": q_decontamination,
        "embedding_topk": q_embedding_topk,
        "events_hourly": q_events_hourly,
        # synthetic source-code fixture
        "code_extract_summary": q_code_extract_summary,
        "code_pagerank_k3": q_code_pagerank_k3,
        "code_pagerank_conv_top50": q_code_pagerank_conv_top50,
        "code_cc": q_code_cc,
        "code_lpa_communities": q_code_lpa_communities,
        "code_lpa_prepared": q_code_lpa_prepared,
        "code_triangles": q_code_triangles,
        "code_modularity": q_code_modularity,
        "code_graph_profile": q_code_graph_profile,
        "code_bfs_depths": q_code_bfs_depths,
        "code_random_walks": q_code_random_walks,
        "code_spam_mass": q_code_spam_mass,
        "code_bowtie": q_code_bowtie,
        "code_neighbor_sample": q_code_neighbor_sample,
        "code_ppr_topk": q_code_ppr_topk,
        "code_module_rank_graph": q_code_module_rank_graph,
        "code_scc_condensation": q_code_scc_condensation,
        "code_dep_layers": q_code_dep_layers,
        "synonym_topk": q_synonym_topk,
        # md5/constant-deterministic LSH & ANN (engine-exact mechanisms)
        "minhash_lsh": q_minhash_lsh,
        "simhash_near": q_simhash_near,
        "embedding_ann_topk": q_embedding_ann_topk,
        "embedding_near_dup_suite": q_embedding_near_dup_suite,
        "media_audio_profile": q_media_audio_profile,
        "dedup_clusters": q_dedup_clusters,
        "events_sessions": q_events_sessions,
        "docs_lang_sample_quantiles": q_docs_lang_sample_quantiles,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

def _pagerank_k3_sql(
    e_sql: str | None = None,
    v_sql: str | None = None,
    pv_pred_sql: str | None = None,
    wt_sql: str | None = None,
) -> str:
    """Unrolled 3-iteration textbook PageRank (standard mode: v L1, x L1;
    x0 = 1/√n; same per-iteration dataflow as pagerank.py:100-139).
    e_sql/v_sql parameterize the edge table and vertex universe (default:
    the customer→supplier graph with endpoint-derived vertices);
    pv_pred_sql is an optional personalization indicator expression over
    ``id`` (reference make_personalization_vector, pagerank.py:81-97 —
    L1-normalized; None → uniform 1/n); wt_sql is an optional edge-weight
    expression over ``e`` — P is then row-normalized over the weights
    (operators/pagerank.build_graph extension) instead of 1/outdeg."""
    e_sql = e_sql or CS_EDGES_SQL
    v_sql = v_sql or "SELECT DISTINCT id FROM (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)"
    vraw = pv_pred_sql or "1.0"
    od_expr = "COUNT(*)::DOUBLE" if wt_sql is None else f"SUM({wt_sql})::DOUBLE"
    w_expr = "1.0/od.d" if wt_sql is None else f"({wt_sql})::DOUBLE/od.d"
    head = f"""
WITH e AS ({e_sql}),
v AS ({v_sql}),
nn AS (SELECT COUNT(*)::DOUBLE AS n FROM v),
od AS (SELECT src, {od_expr} AS d FROM e GROUP BY src),
w AS (SELECT e.src, e.dst, {w_expr} AS w FROM e JOIN od USING (src)),
vraw AS (SELECT id, ({vraw})::DOUBLE AS vr FROM v),
vn AS (SELECT id, vr / (SELECT SUM(vr) FROM vraw) AS vw FROM vraw),
x0 AS (SELECT id, 1.0/sqrt(nn.n) AS x FROM v, nn)
"""
    body = ""
    for k in range(3):
        p, c = f"x{k}", f"x{k + 1}"
        body += f""",
dang{k} AS (SELECT COALESCE(SUM(x.x), 0) AS dm FROM {p} x LEFT JOIN od ON x.id = od.src WHERE od.src IS NULL),
con{k} AS (SELECT w.dst AS id, SUM(w.w * x.x) AS c FROM w JOIN {p} x ON w.src = x.id GROUP BY w.dst),
raw{k} AS (
  SELECT v.id, {ALPHA}*COALESCE(c.c, 0) + ({ALPHA}*d.dm + {1 - ALPHA})*vn.vw AS x
  FROM v LEFT JOIN con{k} c ON v.id = c.id JOIN vn ON vn.id = v.id, dang{k} d
),
{c} AS (SELECT id, x / (SELECT SUM(abs(x)) FROM raw{k}) AS x FROM raw{k})
"""
    return head + body + "\nSELECT id, ROUND(x, 6) AS rank FROM x3"


def _pagerank_converged_sql(
    e_sql: str, v_sql: str, eps: float = 1e-6, depth: int = 12, k_top: int = 50
) -> str:
    """RUN-TO-CONVERGENCE reference-mode PageRank (pagerank.py:100-139
    committed-code semantics: x L1-normalized per iteration, v
    L2-normalized → uniform v_i = 1/√n, x0 = 1/√n, dangling mass folded
    per iteration, stop when the L2 residual ‖x_k − x_{k−1}‖₂ < ε), then
    the top-``k_top`` by rounded rank.

    The convergence TEST itself is inside the SQL: every unrolled iterate
    carries its residual, and the answer selects the iterate at the FIRST
    k with residual < ε — so the oracle needs no out-of-band recorded
    iteration count, only an unroll depth with headroom (measured: the
    code graph converges in 5 iterations at sf0.001, 4 at sf0.01; the
    residual contraction is geometric ≈ α·|λ₂|, nowhere near the depth).
    Ranks are rounded to 6dp BEFORE the top-k cut on BOTH engines, so
    ulp-level summation differences cannot flip the k-th spot; rounded
    ties break on id. AS MATERIALIZED throughout — each iterate is
    referenced three times (gather, residual, final union) and inlining
    would copy the base scan 3^depth times (same lesson as _cc_prop_body)."""
    head = f"""
WITH e AS MATERIALIZED ({e_sql}),
v AS MATERIALIZED ({v_sql}),
nn AS (SELECT COUNT(*)::DOUBLE AS n FROM v),
od AS MATERIALIZED (SELECT src, COUNT(*)::DOUBLE AS d FROM e GROUP BY src),
w AS MATERIALIZED (SELECT e.src, e.dst, 1.0/od.d AS w FROM e JOIN od USING (src)),
x0 AS MATERIALIZED (SELECT id, 1.0/sqrt(nn.n) AS x FROM v, nn)
"""
    body = ""
    for k in range(1, depth + 1):
        p, c = f"x{k - 1}", f"x{k}"
        body += f""",
dang{k} AS (SELECT COALESCE(SUM(x.x), 0) AS dm FROM {p} x LEFT JOIN od ON x.id = od.src WHERE od.src IS NULL),
con{k} AS (SELECT w.dst AS id, SUM(w.w * x.x) AS c FROM w JOIN {p} x ON w.src = x.id GROUP BY w.dst),
raw{k} AS MATERIALIZED (
  SELECT v.id, {ALPHA}*COALESCE(c.c, 0) + ({ALPHA}*d.dm + {1 - ALPHA})/sqrt(nn.n) AS x
  FROM v LEFT JOIN con{k} c ON v.id = c.id, dang{k} d, nn
),
{c} AS MATERIALIZED (SELECT id, x / (SELECT SUM(abs(x)) FROM raw{k}) AS x FROM raw{k}),
res{k} AS MATERIALIZED (SELECT sqrt(SUM((a.x - b.x)*(a.x - b.x))) AS r FROM {c} a JOIN {p} b USING (id))
"""
    res_union = " UNION ALL ".join(f"SELECT {k} AS k, r FROM res{k}" for k in range(1, depth + 1))
    x_union = " UNION ALL ".join(f"SELECT {k} AS k, id, x FROM x{k}" for k in range(1, depth + 1))
    tail = f""",
resall AS ({res_union}),
kc AS (SELECT MIN(k) AS k FROM resall WHERE r < {eps}),
allx AS ({x_union})
SELECT id, ROUND(x, 6) AS rank FROM allx WHERE k = (SELECT k FROM kc)
ORDER BY ROUND(x, 6) DESC, id LIMIT {k_top}
"""
    return head + body + tail


def _hits_k3_sql(k: int = 3) -> str:
    """Unrolled fixed-k HITS (operators/hits.py dataflow verbatim): per
    iteration one gather+L2-normalize per side over the DEDUPED edge set.
    Sparse-vs-dense is immaterial — absent vertices are exact zeros for
    both the norm and the next gather."""
    head = f"""
WITH e AS MATERIALIZED (SELECT DISTINCT src, dst FROM ({CS_EDGES_SQL})),
v AS MATERIALIZED (SELECT DISTINCT id FROM (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
h0 AS MATERIALIZED (SELECT id, 1.0::DOUBLE AS s FROM v)
"""
    body = ""
    for i in range(k):
        body += f""",
ar{i} AS MATERIALIZED (SELECT e.dst AS id, SUM(h.s) AS x FROM e JOIN h{i} h ON e.src = h.id GROUP BY e.dst),
a{i + 1} AS MATERIALIZED (
  SELECT v.id, COALESCE(ar.x, 0) / greatest((SELECT sqrt(SUM(x*x)) FROM ar{i}), 1e-300) AS s
  FROM v LEFT JOIN ar{i} ar ON v.id = ar.id
),
hr{i} AS MATERIALIZED (SELECT e.src AS id, SUM(a.s) AS x FROM e JOIN a{i + 1} a ON e.dst = a.id GROUP BY e.src),
h{i + 1} AS MATERIALIZED (
  SELECT v.id, COALESCE(hr.x, 0) / greatest((SELECT sqrt(SUM(x*x)) FROM hr{i}), 1e-300) AS s
  FROM v LEFT JOIN hr{i} hr ON v.id = hr.id
)
"""
    return (
        head
        + body
        + f"\nSELECT a.id, ROUND(a.s, 6) AS auth, ROUND(h.s, 6) AS hub "
        f"FROM a{k} a JOIN h{k} h USING (id)"
    )


def _kcore_sql(rounds: int = 4) -> str:
    """Unrolled h-index k-core supersteps (operators/kcore.py dataflow):
    per round gather neighbor values, histogram per (v, value), cumulative
    ≥-count, H = max(min(value, ge)). All integers — exact match."""
    head = f"""
WITH e AS MATERIALIZED (SELECT DISTINCT src, dst FROM ({CS_EDGES_SQL}) WHERE src <> dst),
und AS MATERIALIZED (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
c0 AS MATERIALIZED (SELECT src AS id, COUNT(*)::BIGINT AS core FROM und GROUP BY src)
"""
    body = ""
    for t in range(rounds):
        body += f""",
j{t} AS MATERIALIZED (SELECT u.src AS v, x.core AS cu FROM und u JOIN c{t} x ON u.dst = x.id),
g{t} AS MATERIALIZED (SELECT v, cu, COUNT(*)::BIGINT AS n FROM j{t} GROUP BY v, cu),
w{t} AS MATERIALIZED (SELECT v, cu, SUM(n) OVER (PARTITION BY v ORDER BY cu DESC) AS ge FROM g{t}),
c{t + 1} AS MATERIALIZED (SELECT v AS id, MAX(LEAST(cu, ge))::BIGINT AS core FROM w{t} GROUP BY v)
"""
    return head + body + f"\nSELECT id, core FROM c{rounds}"


SUPPLIER_PAIRS_SQL = """
  SELECT DISTINCT 's' || a.l_suppkey AS src, 's' || b.l_suppkey AS dst
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
"""


def _link_pred_sql(k: int = 50) -> str:
    """operators/linkpred.py dataflow verbatim: wedge join → per-pair agg
    (AA rounded inside the agg) → anti-join existing edges → Jaccard →
    deterministic top-k."""
    return f"""
WITH pairs AS MATERIALIZED (SELECT DISTINCT src, dst FROM ({CS_EDGES_SQL}) WHERE src <> dst),
und AS MATERIALIZED (SELECT src AS s, dst AS d FROM pairs UNION SELECT dst, src FROM pairs),
deg AS MATERIALIZED (SELECT s, COUNT(*)::BIGINT AS deg FROM und GROUP BY s),
wed AS (
  SELECT a.d AS u, b.d AS v, 1.0/ln(dg.deg) AS aa_w
  FROM und a JOIN und b ON a.s = b.s AND a.d < b.d
  JOIN deg dg ON dg.s = a.s
),
sc AS (
  SELECT u, v, COUNT(*)::BIGINT AS common, ROUND(SUM(aa_w), 6) AS adamic_adar
  FROM wed GROUP BY u, v
),
cand AS (
  SELECT sc.* FROM sc
  LEFT JOIN (SELECT s, d FROM und WHERE s < d) ex ON ex.s = sc.u AND ex.d = sc.v
  WHERE ex.s IS NULL
)
SELECT cand.u AS src, cand.v AS dst, common, adamic_adar,
       ROUND(common::DOUBLE/(du.deg + dv.deg - common), 6) AS jaccard
FROM cand JOIN deg du ON du.s = cand.u JOIN deg dv ON dv.s = cand.v
ORDER BY adamic_adar DESC, src, dst LIMIT {k}
"""


def _clustering_coeff_sql() -> str:
    """Per-vertex triangles (3-clique join, orientation-invariant count)
    + distinct-neighbor degree → exact-ratio coefficient, mirroring
    operators/triangles.clustering_coefficient bit-for-bit."""
    return f"""
WITH pairs AS MATERIALIZED ({SUPPLIER_PAIRS_SQL}),
und AS MATERIALIZED (SELECT src AS s1, dst AS s2 FROM pairs UNION SELECT dst, src FROM pairs),
deg AS (SELECT s1 AS id, COUNT(*)::BIGINT AS d FROM und GROUP BY s1),
canon AS MATERIALIZED (SELECT s1, s2 FROM und WHERE s1 < s2),
tri AS (
  SELECT ab.s1 AS a, ab.s2 AS b, ac.s2 AS c
  FROM canon ab JOIN canon ac ON ab.s1 = ac.s1 AND ab.s2 < ac.s2
  JOIN canon bc ON bc.s1 = ab.s2 AND bc.s2 = ac.s2
),
pv AS (
  SELECT id, COUNT(*)::BIGINT AS t FROM (
    SELECT a AS id FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri
  ) GROUP BY id
)
SELECT deg.id,
       ROUND(CASE WHEN d >= 2 THEN 2.0*COALESCE(t, 0)/(d*(d-1.0)) ELSE 0.0 END, 6) AS coeff
FROM deg LEFT JOIN pv USING (id)
"""


def _cc_prop_body(e_sql: str | None, v_sql: str | None, rounds: int) -> str:
    """Shared unrolled min-label-propagation CTE chain (DuckDB 1.0 has no
    keyed recursive CTEs, and a plain recursive closure is O(Σ|C|²) rows —
    the unrolled chain is |V| rows per round).

    Every l{k} is referenced twice (by m{k} and l{k+1}); without AS
    MATERIALIZED DuckDB inlines each reference, so the base scan is copied
    2^rounds times — at depth ≥15 planning blows the open-file budget and
    surfaces as a bogus 'No files found' IO error. MATERIALIZED keeps the
    plan linear in `rounds`."""
    e_sql = e_sql or CS_EDGES_SQL
    v_sql = v_sql or "SELECT DISTINCT id FROM (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)"
    head = f"""
WITH e AS MATERIALIZED ({e_sql}),
ed AS MATERIALIZED (SELECT DISTINCT src, dst FROM e WHERE src <> dst),
und AS MATERIALIZED (SELECT src, dst FROM ed UNION SELECT dst, src FROM ed),
v AS MATERIALIZED ({v_sql}),
l0 AS MATERIALIZED (SELECT id, id AS component FROM v)
"""
    body = ""
    for k in range(rounds):
        p, c = f"l{k}", f"l{k + 1}"
        body += f""",
m{k} AS MATERIALIZED (SELECT u.dst AS id, MIN(x.component) AS mn FROM und u JOIN {p} x ON u.src = x.id GROUP BY u.dst),
{c} AS MATERIALIZED (
  SELECT l.id, LEAST(l.component, COALESCE(m.mn, l.component)) AS component
  FROM {p} l LEFT JOIN m{k} m ON l.id = m.id
)
"""
    return head + body


def _cc_iter5_sql(e_sql: str | None = None, v_sql: str | None = None) -> str:
    return _cc_prop_body(e_sql, v_sql, 5) + "\nSELECT id, component FROM l5"


def _cc_sizes_sql(e_sql: str, v_sql: str, rounds: int) -> str:
    """CONVERGED component size histogram: min-label propagation reaches the
    fixpoint once every vertex is within `rounds` hops of its component's
    min vertex. The unroll depth is picked per oracle SF with ~2× headroom
    over the measured max dist-to-min (sf0.001: 4, sf0.01: 9, sf0.1: 53 —
    measured with networkx this round); the Spark side uses star
    contraction, so agreement here cross-checks two different algorithms."""
    return (
        _cc_prop_body(e_sql, v_sql, rounds)
        + f"""
SELECT size, COUNT(*)::BIGINT AS n_components FROM (
  SELECT component, COUNT(*)::BIGINT AS size FROM l{rounds} GROUP BY component
) GROUP BY size
"""
    )


def _cc_labels_sizes_sql(e_sql: str, v_sql: str, rounds: int) -> str:
    """CONVERGED per-vertex labels + component size (the per-vertex twin of
    _cc_sizes_sql — same unroll-depth reasoning; the Spark side runs star
    contraction, so agreement cross-checks two algorithms)."""
    return (
        _cc_prop_body(e_sql, v_sql, rounds)
        + f"""
SELECT m.id, m.component, s.component_size
FROM l{rounds} m JOIN (
  SELECT component, COUNT(*)::BIGINT AS component_size FROM l{rounds} GROUP BY component
) s USING (component)
"""
    )


def _text_profile_sql(from_sql: str = "documents") -> str:
    from pagerank_project_spark.operators.textstats import BPE_ISH_PATTERN, STOPWORDS

    def sw(lang):
        return r"\b(" + "|".join(STOPWORDS[lang]) + r")\b"

    hits = {lang: f"len(regexp_extract_all(lower(text), '{sw(lang)}'))" for lang in sorted(STOPWORDS)}
    return f"""
WITH base AS (
  SELECT doc_id, text,
    len(str_split_regex(trim(text), '\\s+'))::BIGINT AS n_tokens,
    len(regexp_extract_all(text, '{BPE_ISH_PATTERN}'))::BIGINT AS n_bpe_tokens,
    len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))::DOUBLE / greatest(length(text), 1) AS praw,
    length(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE AS nws,
    {hits["de"]} AS h_de, {hits["en"]} AS h_en, {hits["es"]} AS h_es, {hits["fr"]} AS h_fr,
    md5({NORM_TEXT_SQL}) AS fp
  FROM {from_sql}
), q AS (
  SELECT *,
    least(n_tokens / 20.0, 1.0) AS len_term,
    CASE WHEN nws / greatest(n_tokens, 1.0) BETWEEN 3 AND 10 THEN 1.0 ELSE 0.5 END AS wlen_term,
    1.0 - least(praw * 5.0, 1.0) AS punct_term,
    least(h_en / greatest(n_tokens, 1.0)::DOUBLE * 5.0, 1.0) AS stop_term,
    greatest(h_de, h_en, h_es, h_fr) AS best
  FROM base
)
SELECT doc_id, n_tokens, n_bpe_tokens,
  ROUND(praw, 6) AS punct_ratio,
  ROUND((len_term + wlen_term + punct_term + stop_term) / 4.0, 6) AS quality,
  CASE WHEN best = 0 THEN 'und'
       WHEN h_de = best THEN 'de' WHEN h_en = best THEN 'en'
       WHEN h_es = best THEN 'es' ELSE 'fr' END AS lang_pred,
  fp
FROM q
"""


def _quality_filter_sql(keep_frac: float = 0.5, from_sql: str = "documents") -> str:
    """Wraps the text_profile oracle (bit-identical quality + lang_pred)
    with the same integer-cutoff windowing as quality_filter_per_lang."""
    return f"""
WITH prof AS ({_text_profile_sql(from_sql)}),
r AS (
  SELECT doc_id, lang_pred, quality,
         row_number() OVER (PARTITION BY lang_pred ORDER BY quality DESC, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY lang_pred) AS n_lang
  FROM prof
)
SELECT doc_id, lang_pred, quality, rn::INT AS rn, n_lang::BIGINT AS n_lang
FROM r WHERE rn <= ceil({keep_frac} * n_lang)
"""


def _repetition_profile_sql() -> str:
    """operators/textstats.repetition_profile mirrored over the derived
    multi-line corpus: list ops for the row-local line/paragraph metrics,
    unnest+groupBy for the bigram mode — every output an exact integer
    ratio in float64."""
    lines = "list_filter([trim(x) for x in str_split(text, chr(10))], x -> x <> '')"
    paras = "list_filter([trim(x) for x in str_split(text, chr(10) || chr(10))], x -> x <> '')"
    chars = "coalesce(list_sum([length(x) for x in {0}]), 0)"
    return f"""
WITH d AS (SELECT doc_id, ({ML_TEXT_SQL}) AS text FROM documents),
seg AS (
  SELECT doc_id, {lines} AS lines, {paras} AS paras,
         str_split({NORM_TEXT_SQL}, ' ') AS tk
  FROM d
),
base AS (
  SELECT doc_id,
    len(lines)::BIGINT AS n_lines,
    ROUND((len(lines) - len(list_distinct(lines))) / greatest(len(lines), 1), 6) AS dup_line_frac,
    ROUND(({chars.format("lines")} - {chars.format("list_distinct(lines)")})
          / greatest({chars.format("lines")}, 1), 6) AS dup_line_char_frac,
    len(paras)::BIGINT AS n_paras,
    ROUND((len(paras) - len(list_distinct(paras))) / greatest(len(paras), 1), 6) AS dup_para_frac
  FROM seg
),
bg AS (
  SELECT doc_id, unnest(
    CASE WHEN len(tk) >= 2 THEN [tk[i] || ' ' || tk[i+1] for i in range(1, len(tk))]
         ELSE []::VARCHAR[] END) AS bg
  FROM seg
),
cnt AS (SELECT doc_id, bg, COUNT(*)::BIGINT AS c FROM bg GROUP BY 1, 2),
top AS (SELECT doc_id, MAX(c) / SUM(c) AS tbf FROM cnt GROUP BY 1)
SELECT b.doc_id, n_lines, dup_line_frac, dup_line_char_frac, n_paras, dup_para_frac,
       ROUND(COALESCE(top.tbf, 0), 6) AS top_bigram_frac
FROM base b LEFT JOIN top USING (doc_id)
"""


def _dup_ngram_spans_sql(n: int = 8, min_docs: int = 2) -> str:
    """Mirror of textstats.dup_ngram_profile: positioned n-grams hashed to
    md5, duplicated = in >= min_docs distinct docs, covered tokens = the
    UNION of duplicated spans (distinct positions). Exact integer ratios
    → bit-exact inside the 6dp round."""
    return f"""
WITH base AS (
  SELECT doc_id, str_split({NORM_TEXT_SQL}, ' ') AS tk,
         len(str_split({NORM_TEXT_SQL}, ' '))::BIGINT AS n_tokens
  FROM documents
),
g0 AS (
  SELECT doc_id, tk, unnest(generate_series(1, n_tokens - {n - 1})) AS pos
  FROM base WHERE n_tokens >= {n}
),
grams AS (
  SELECT doc_id, pos, md5(array_to_string(tk[pos:pos+{n - 1}], ' ')) AS g FROM g0
),
dup AS (
  SELECT g FROM (SELECT DISTINCT g, doc_id FROM grams)
  GROUP BY g HAVING COUNT(*) >= {min_docs}
),
dstart AS (SELECT doc_id, pos FROM grams JOIN dup USING (g)),
cov0 AS (SELECT doc_id, unnest(generate_series(pos, pos + {n - 1})) AS p FROM dstart),
cov AS (
  SELECT doc_id, COUNT(*)::BIGINT AS covered
  FROM (SELECT DISTINCT doc_id, p FROM cov0) GROUP BY doc_id
),
ng AS (SELECT doc_id, COUNT(*)::BIGINT AS n_ngrams FROM grams GROUP BY doc_id),
nd AS (SELECT doc_id, COUNT(*)::BIGINT AS n_dup_ngrams FROM dstart GROUP BY doc_id)
SELECT b.doc_id, b.n_tokens,
       COALESCE(ng.n_ngrams, 0)::BIGINT AS n_ngrams,
       COALESCE(nd.n_dup_ngrams, 0)::BIGINT AS n_dup_ngrams,
       COALESCE(cov.covered, 0)::BIGINT AS covered_tokens,
       ROUND(COALESCE(cov.covered, 0) / greatest(b.n_tokens, 1)::DOUBLE, 6) AS dup_token_frac
FROM base b
LEFT JOIN ng USING (doc_id) LEFT JOIN nd USING (doc_id) LEFT JOIN cov USING (doc_id)
"""


def _line_dedup_sql(min_docs: int = 2) -> str:
    """Mirror of textstats.corpus_line_dedup over the ML_TEXT corpus:
    trimmed non-empty lines, boilerplate = md5 in >= min_docs distinct
    docs, kept lines re-joined in position order (string_agg ORDER BY)."""
    return f"""
WITH src AS (SELECT doc_id, {ML_TEXT_SQL} AS text FROM documents),
l0 AS (SELECT doc_id, str_split(text, chr(10)) AS ln FROM src),
l1 AS (SELECT doc_id, unnest(generate_series(1, len(ln))) AS pos, ln FROM l0),
lines AS (SELECT doc_id, pos, trim(ln[pos]) AS l FROM l1),
ne AS (SELECT doc_id, pos, l, md5(l) AS g FROM lines WHERE l <> ''),
boiler AS (
  SELECT g FROM (SELECT DISTINCT g, doc_id FROM ne)
  GROUP BY g HAVING COUNT(*) >= {min_docs}
),
kept AS (SELECT * FROM ne ANTI JOIN boiler USING (g)),
agg AS (
  SELECT doc_id, string_agg(l, chr(10) ORDER BY pos) AS clean_text,
         COUNT(*)::BIGINT AS n_kept
  FROM kept GROUP BY doc_id
),
tot AS (SELECT doc_id, COUNT(*)::BIGINT AS n_lines FROM ne GROUP BY doc_id)
SELECT s.doc_id,
       COALESCE(agg.clean_text, '') AS clean_text,
       COALESCE(tot.n_lines, 0)::BIGINT AS n_lines,
       (COALESCE(tot.n_lines, 0) - COALESCE(agg.n_kept, 0))::BIGINT AS n_removed
FROM src s LEFT JOIN tot USING (doc_id) LEFT JOIN agg USING (doc_id)
"""


def _quality_filter_rep_sql(keep_frac: float = 0.5, max_dup: float = 0.3) -> str:
    """quality_filter composed with the repetition pre-filter, over the
    derived multi-line corpus: the dup-line predicate (raw exact ratio,
    unrounded — mirroring the Spark-side filter) gates the docs feeding
    the per-language percentile windows."""
    lines = "list_filter([trim(x) for x in str_split(text, chr(10))], x -> x <> '')"
    src = f"""
(WITH src0 AS (SELECT doc_id, ({ML_TEXT_SQL}) AS text FROM documents),
src1 AS (SELECT doc_id, text, {lines} AS lines FROM src0)
SELECT doc_id, text FROM src1
WHERE (len(lines) - len(list_distinct(lines))) / greatest(len(lines), 1) <= {max_dup})
"""
    return _quality_filter_sql(keep_frac, from_sql=src)


def _pii_scrub_sql() -> str:
    from pagerank_project_spark.operators.pii import pii_scrub_sql_exprs

    red, counts = pii_scrub_sql_exprs()
    return f"""
WITH p AS (SELECT doc_id, ({PII_TEXT_SQL}) AS text FROM documents)
SELECT doc_id, {red} AS redacted, {", ".join(counts)} FROM p
"""


def _lang_histogram_sql() -> str:
    from pagerank_project_spark.operators.textstats import STOPWORDS

    def sw(lang):
        return r"\b(" + "|".join(STOPWORDS[lang]) + r")\b"

    hits = {lang: f"len(regexp_extract_all(lower(text), '{sw(lang)}'))" for lang in sorted(STOPWORDS)}
    return f"""
WITH base AS (
  SELECT {hits["de"]} AS h_de, {hits["en"]} AS h_en, {hits["es"]} AS h_es, {hits["fr"]} AS h_fr
  FROM documents
), lp AS (
  SELECT CASE WHEN greatest(h_de, h_en, h_es, h_fr) = 0 THEN 'und'
              WHEN h_de = greatest(h_de, h_en, h_es, h_fr) THEN 'de'
              WHEN h_en = greatest(h_de, h_en, h_es, h_fr) THEN 'en'
              WHEN h_es = greatest(h_de, h_en, h_es, h_fr) THEN 'es'
              ELSE 'fr' END AS lang_pred
  FROM base
)
SELECT lang_pred, COUNT(*)::BIGINT AS n_docs FROM lp GROUP BY lang_pred
"""


def _ngram_jaccard_sql(threshold: float = 0.2) -> str:
    return f"""
WITH nt AS (SELECT doc_id, {NORM_TEXT_SQL} AS t FROM documents),
toks AS (SELECT doc_id, str_split(t, ' ') AS tk FROM nt),
sh AS (
  SELECT DISTINCT doc_id, unnest(
    CASE WHEN len(tk) >= 3
      THEN [tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] for i in range(1, len(tk) - 1)]
      ELSE [array_to_string(tk, ' ')] END) AS sh
  FROM toks
),
sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS i
  FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id
  GROUP BY 1, 2
)
SELECT a, b, ROUND(i::DOUBLE / (sa.sz + sb.sz - i), 6) AS jaccard
FROM inter
JOIN sz sa ON sa.doc_id = a
JOIN sz sb ON sb.doc_id = b
WHERE ROUND(i::DOUBLE / (sa.sz + sb.sz - i), 6) >= {threshold}
"""


# ---------------------------------------------------------------------------
# md5-deterministic LSH/ANN oracles (round 5): the five candidate generators
# that were pytest-only in rounds 3-4 are now built on pseudo-randomness both
# engines share — md5 hex→int for MinHash/SimHash (the random_walks pattern),
# and plane/centroid CONSTANTS embedded verbatim as SQL literals for the
# embedding paths — so signatures, buckets, candidates, and reranks are
# cross-engine EXACT and the driver's hash check applies.
# ---------------------------------------------------------------------------

_SHINGLE_CTES = f"""nt AS (SELECT doc_id, {{norm}} AS t FROM documents),
toks AS (SELECT doc_id, str_split(t, ' ') AS tk FROM nt),
sh AS (
  SELECT DISTINCT doc_id, unnest(
    CASE WHEN len(tk) >= 3
      THEN [tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] for i in range(1, len(tk) - 1)]
      ELSE [array_to_string(tk, ' ')] END) AS sh
  FROM toks
)"""


def _minhash_lsh_sql(threshold: float = 0.5, num_perm: int = 64, bands: int = 16) -> str:
    """Mirror of dedup.minhash_lsh_pairs: md5(shingle) → two 48-bit base
    hashes → double-hashed permutation mins (operators/dedup.py
    _signatures_from_shingles) → band-slice string keys → bucket self-join
    → exact-Jaccard rerank. Every integer is engine-exact."""
    p = 2147483647
    r = num_perm // bands
    mins = ",\n  ".join(f"MIN((h1 + {i} * h2) % {p}) AS m{i}" for i in range(num_perm))
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {bi} AS band, {key} AS bh FROM sig".format(
            bi=bi,
            key=" || ',' || ".join(f"m{bi * r + j}::VARCHAR" for j in range(r)),
        )
        for bi in range(bands)
    )
    return f"""
WITH {_SHINGLE_CTES.format(norm=NORM_TEXT_SQL)},
hs AS (SELECT doc_id,
  ('0x' || substr(md5(sh), 1, 12))::BIGINT % {p} AS h1,
  ('0x' || substr(md5(sh), 13, 12))::BIGINT % {p} AS h2
  FROM sh),
sig AS (SELECT doc_id,
  {mins}
  FROM hs GROUP BY doc_id),
band AS ({band_selects}),
cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         FROM band x JOIN band y USING (band, bh) WHERE x.doc_id < y.doc_id),
sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.a, c.b, COUNT(*) AS i
  FROM cand c
  JOIN sh x ON x.doc_id = c.a
  JOIN sh y ON y.doc_id = c.b AND y.sh = x.sh
  GROUP BY 1, 2
)
SELECT a, b, ROUND(i::DOUBLE / (sa.sz + sb.sz - i), 6) AS jaccard
FROM inter JOIN sz sa ON sa.doc_id = a JOIN sz sb ON sb.doc_id = b
WHERE ROUND(i::DOUBLE / (sa.sz + sb.sz - i), 6) >= {threshold}
"""


def _simhash_near_sql(max_hamming: int = 3) -> str:
    """Mirror of dedup.simhash_near_pairs: 60-bit fingerprints from
    md5-derived token hashes (bit j set iff 2·Σbit_j > n_tokens — integer-
    exact majority, identical to the numpy kernel), 4×15-bit band
    blocking, exact Hamming verify."""
    from pagerank_project_spark.operators.dedup import SIMHASH_BANDS, SIMHASH_BITS

    r = SIMHASH_BITS // SIMHASH_BANDS
    fp_terms = " + ".join(
        f"(CASE WHEN 2 * SUM((h >> {j}) & 1) > COUNT(*) THEN {1 << j} ELSE 0 END)"
        for j in range(SIMHASH_BITS)
    )
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {bi} AS band, (simhash >> {r * bi}) & {(1 << r) - 1} AS bh FROM fp"
        for bi in range(SIMHASH_BANDS)
    )
    return f"""
WITH nt AS (SELECT doc_id, {NORM_TEXT_SQL} AS t FROM documents),
toks AS (SELECT doc_id, str_split(t, ' ') AS tk FROM nt),
tok AS (SELECT DISTINCT doc_id, unnest(tk) AS t FROM toks),
th AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h FROM tok),
fp AS (SELECT doc_id, ({fp_terms})::BIGINT AS simhash FROM th GROUP BY doc_id),
band AS ({band_selects}),
cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b, x.simhash AS fa, y.simhash AS fb
         FROM band x JOIN band y USING (band, bh) WHERE x.doc_id < y.doc_id)
SELECT a, b, bit_count(xor(fa, fb))::BIGINT AS hamming
FROM cand WHERE bit_count(xor(fa, fb)) <= {max_hamming}
"""


def _vec_literal(row) -> str:
    return "[" + ", ".join(repr(float(x)) for x in row) + "]"


def _emb_lsh_band_ctes(bands: int, rows_per_band: int, seed: int) -> str:
    """Shared CTE prefix: raw-double vectors → per-band bucket keys from
    the SAME hyperplane constants the Spark kernel broadcasts
    (similarity.lsh_planes), with the projection rounded to 6dp before the
    sign exactly as the kernel does."""
    from pagerank_project_spark.operators.similarity import lsh_planes

    planes = lsh_planes(bands, rows_per_band, EMB_DIM, seed)
    bh_exprs = []
    for bi in range(bands):
        terms = " + ".join(
            f"(CASE WHEN ROUND(list_dot_product(e, {_vec_literal(planes[bi * rows_per_band + j])}), 6) > 0 THEN {1 << j} ELSE 0 END)"
            for j in range(rows_per_band)
        )
        bh_exprs.append(f"({terms}) AS bh{bi}")
    band_selects = " UNION ALL ".join(
        f"SELECT vec_id, {bi} AS band, bh{bi} AS bh FROM bits" for bi in range(bands)
    )
    return f"""v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e FROM embeddings),
bits AS (SELECT vec_id, {', '.join(bh_exprs)} FROM v),
band AS ({band_selects})"""


_EMB_RERANK_SQL = """scored AS (
  SELECT c.a, c.b,
         ROUND(list_dot_product(va.e, vb.e)
               / (sqrt(list_dot_product(va.e, va.e)) * sqrt(list_dot_product(vb.e, vb.e))), 6) AS cosine
  FROM cand c JOIN v va ON va.vec_id = c.a JOIN v vb ON vb.vec_id = c.b
)"""


def _embedding_lsh_topk_sql(k: int = 5, bands: int = 8, rows_per_band: int = 4, seed: int = 23) -> str:
    return f"""
WITH {_emb_lsh_band_ctes(bands, rows_per_band, seed)},
cand AS (SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
         FROM band x JOIN band y USING (band, bh) WHERE x.vec_id <> y.vec_id),
{_EMB_RERANK_SQL},
ranked AS (
  SELECT a AS vec_id, b AS neighbor, cosine,
         row_number() OVER (PARTITION BY a ORDER BY cosine DESC, b ASC) AS rn
  FROM scored
)
SELECT vec_id, neighbor, cosine FROM ranked WHERE rn <= {k}
"""


def _embedding_near_dup_lsh_sql(threshold: float, bands: int = 16, rows_per_band: int = 2, seed: int = 23) -> str:
    return f"""
WITH {_emb_lsh_band_ctes(bands, rows_per_band, seed)},
cand AS (SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
         FROM band x JOIN band y USING (band, bh) WHERE x.vec_id < y.vec_id),
{_EMB_RERANK_SQL}
SELECT a, b, cosine FROM scored WHERE cosine >= {threshold}
"""


def _embedding_ivf_topk_sql(k: int = 5, n_centroids: int = 16, nprobe: int = 4, seed: int = 29) -> str:
    """Mirror of similarity.ivf_topk with det_centroids: per-vector cell
    similarities (rounded 6dp, over the L2-normalized vector — centroids
    are unit rows) → assignment = rank-1 cell, probes = rank ≤ nprobe
    (ties → lowest cell, matching the kernel's stable argsort) → bucket
    join → exact rerank."""
    from pagerank_project_spark.operators.similarity import det_centroids

    cents = det_centroids(n_centroids, EMB_DIM, seed=seed)
    sims = ", ".join(
        f"ROUND(list_dot_product(e, {_vec_literal(c)}) / (CASE WHEN nrm = 0 THEN 1 ELSE nrm END), 6)"
        for c in cents
    )
    return f"""
WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e FROM embeddings),
n AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM v),
sims AS (SELECT vec_id, [{sims}] AS s FROM n),
exploded AS (SELECT vec_id, r.range AS ci, s[r.range] AS sim FROM sims, range(1, {n_centroids + 1}) r),
ranked_cells AS (
  SELECT vec_id, ci - 1 AS cell,
         row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, ci ASC) AS rn
  FROM exploded
),
assigned AS (SELECT vec_id, cell FROM ranked_cells WHERE rn = 1),
probes AS (SELECT vec_id, cell FROM ranked_cells WHERE rn <= {nprobe}),
cand AS (SELECT DISTINCT p.vec_id AS a, c.vec_id AS b
         FROM probes p JOIN assigned c USING (cell) WHERE p.vec_id <> c.vec_id),
{_EMB_RERANK_SQL},
ranked AS (
  SELECT a AS vec_id, b AS neighbor, cosine,
         row_number() OVER (PARTITION BY a ORDER BY cosine DESC, b ASC) AS rn
  FROM scored
)
SELECT vec_id, neighbor, cosine FROM ranked WHERE rn <= {k}
"""


DECONTAMINATION_SQL = f"""
WITH nt AS (SELECT doc_id, {NORM_TEXT_SQL} AS t FROM documents),
toks AS (SELECT doc_id, str_split(t, ' ') AS tk FROM nt),
sh AS (
  SELECT DISTINCT doc_id, unnest(
    CASE WHEN len(tk) >= 3
      THEN [tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] for i in range(1, len(tk) - 1)]
      ELSE [array_to_string(tk, ' ')] END) AS sh
  FROM toks
),
b AS (SELECT doc_id AS bench_id, sh FROM sh WHERE doc_id % 50 = 0)
SELECT s.doc_id, b.bench_id, COUNT(*)::BIGINT AS n_shared
FROM sh s JOIN b ON s.sh = b.sh AND s.doc_id <> b.bench_id
GROUP BY 1, 2
"""


def _dedup_clusters_sql(threshold: float = 0.2, rounds: int = 8) -> str:
    """Converged CC over the exact-Jaccard pair graph (near-dup clusters
    are near-cliques, so ``rounds`` unrolled min-label steps carry large
    headroom over any real dist-to-min), then canonical = MIN doc id and
    size per component — mirroring ``near_dup_clusters``."""
    e_sql = f"SELECT a AS src, b AS dst FROM ({_ngram_jaccard_sql(threshold)})"
    return (
        _cc_prop_body(e_sql, None, rounds)
        + f"""
SELECT m.id AS doc_id, s.canonical_id, s.cluster_size
FROM l{rounds} m JOIN (
  SELECT component, MIN(id) AS canonical_id, COUNT(*)::BIGINT AS cluster_size
  FROM l{rounds} GROUP BY component
) s USING (component)
"""
    )


def _events_sessions_sql(gap_minutes: int = 30) -> str:
    # date_diff('second', …) counts whole-second boundary crossings =
    # floor(t2) - floor(t1), matching the Spark side's long casts exactly
    return f"""
WITH x AS (
  SELECT user_id, ts, value,
    CASE WHEN date_diff('second', LAG(ts) OVER (PARTITION BY user_id ORDER BY ts), ts)
              > {gap_minutes * 60} THEN 1 ELSE 0 END AS brk
  FROM events
), s AS (
  SELECT user_id, ts, value,
    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
  FROM x
)
SELECT user_id, strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
       COUNT(*)::BIGINT AS n_events, ROUND(SUM(value), 4) AS total_value
FROM s GROUP BY user_id, sess
"""


def _docs_lang_sample_sql() -> str:
    from pagerank_project_spark.operators.textstats import STOPWORDS

    def sw(lang):
        return r"\b(" + "|".join(STOPWORDS[lang]) + r")\b"

    hits = {lang: f"len(regexp_extract_all(lower(text), '{sw(lang)}'))" for lang in sorted(STOPWORDS)}
    rate_case = " ".join(f"WHEN '{k}' THEN {v}" for k, v in sorted(SAMPLE_RATES.items()))
    return f"""
WITH base AS (
  SELECT doc_id,
    {hits["de"]} AS h_de, {hits["en"]} AS h_en, {hits["es"]} AS h_es, {hits["fr"]} AS h_fr
  FROM documents
), lp AS (
  SELECT doc_id,
    CASE WHEN greatest(h_de, h_en, h_es, h_fr) = 0 THEN 'und'
         WHEN h_de = greatest(h_de, h_en, h_es, h_fr) THEN 'de'
         WHEN h_en = greatest(h_de, h_en, h_es, h_fr) THEN 'en'
         WHEN h_es = greatest(h_de, h_en, h_es, h_fr) THEN 'es'
         ELSE 'fr' END AS lang_pred
  FROM base
)
SELECT doc_id, lang_pred FROM lp
WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '{SAMPLE_SALT}'), 1, 8) AS BIGINT) % 100
      < CASE lang_pred {rate_case} ELSE {SAMPLE_DEFAULT_PCT} END
"""


def _token_quantiles_sql() -> str:
    from pagerank_project_spark.operators.textstats import STOPWORDS

    def sw(lang):
        return r"\b(" + "|".join(STOPWORDS[lang]) + r")\b"

    hits = {lang: f"len(regexp_extract_all(lower(text), '{sw(lang)}'))" for lang in sorted(STOPWORDS)}
    return f"""
WITH base AS (
  SELECT len(str_split_regex(trim(text), '\\s+'))::BIGINT AS nt,
    {hits["de"]} AS h_de, {hits["en"]} AS h_en, {hits["es"]} AS h_es, {hits["fr"]} AS h_fr
  FROM documents
), lp AS (
  SELECT nt,
    CASE WHEN greatest(h_de, h_en, h_es, h_fr) = 0 THEN 'und'
         WHEN h_de = greatest(h_de, h_en, h_es, h_fr) THEN 'de'
         WHEN h_en = greatest(h_de, h_en, h_es, h_fr) THEN 'en'
         WHEN h_es = greatest(h_de, h_en, h_es, h_fr) THEN 'es'
         ELSE 'fr' END AS lang_pred
  FROM base
)
SELECT lang_pred, ROUND(quantile_cont(nt, 0.5), 6) AS p50_tokens,
       ROUND(quantile_cont(nt, 0.9), 6) AS p90_tokens,
       COUNT(*)::BIGINT AS n_docs
FROM lp GROUP BY lang_pred
"""


def _code_fixture_dir() -> str:
    """The synthetic source-code fixture the code_* queries read. The
    driver compares at sf=0.01 (override via SPARK_GRAFT_ORACLE_SF, which
    tools/check_contract.py sets from its sf_dir); generating is cached
    and cheap at these scales, so the oracle SQL can always point at real
    parquet files."""
    from pagerank_project_spark.datagen import ensure_fixture

    sf = float(os.environ.get("SPARK_GRAFT_ORACLE_SF", "0.01"))
    return ensure_fixture(sf)


def _code_e_sql(fix: str) -> str:
    """The code link graph from the fixture's intended-edge table. Edge
    extraction is verified separately (pytest exact set equality +
    code_extract_summary's regex-level oracle below), so intended ≡
    extracted and the graph-algorithm oracles stay independent of the
    extraction SQL."""
    return f"SELECT src, dst FROM read_parquet('{fix}/intended_edges/*.parquet')"


def _code_v_sql(fix: str) -> str:
    return (
        "SELECT repo || ':' || regexp_replace(path, '\\.[a-z]+$', '') AS id "
        f"FROM read_parquet('{fix}/source_table/data/*.parquet')"
    )


def _code_extract_summary_sql(fix: str) -> str:
    """Regex-level replication of operators/extract.py in DuckDB (RE2 on
    both sides; (?m) inline flags identical)."""
    stem = "regexp_replace(path, '\\.[a-z]+$', '')"
    return f"""
WITH files AS (SELECT * FROM read_parquet('{fix}/source_table/data/*.parquet')),
dim AS (SELECT repo, {stem} AS stem, repo || ':' || {stem} AS vid FROM files),
refs AS (
  SELECT repo, repo || ':' || {stem} AS src, lang,
    unnest(CASE
      WHEN lang = 'python' THEN regexp_extract_all(content, '(?m)^from\\s+([\\w.]+)\\s+import\\b', 1)
      WHEN lang = 'js'     THEN regexp_extract_all(content, '(?m)^import\\s+\\w+\\s+from\\s+"\\./([\\w/]+)";', 1)
      WHEN lang = 'java'   THEN regexp_extract_all(content, '(?m)^import\\s+([\\w.]+);', 1)
      WHEN lang = 'go'     THEN regexp_extract_all(content, '(?m)^import\\s+"([\\w/]+)"', 1)
      ELSE []::VARCHAR[] END) AS ref
  FROM files),
imports AS (
  SELECT r.src FROM
    (SELECT repo, src,
            CASE WHEN lang IN ('python', 'java') THEN replace(ref, '.', '/') ELSE ref END AS ref_stem
     FROM refs) r
  JOIN dim d ON r.repo = d.repo AND r.ref_stem = d.stem),
reqs AS (
  SELECT repo || ':' || {stem} AS src,
         unnest(regexp_extract_all(content, '(?m)requires:\\s+([\\w./-]+)', 1)) AS target_repo
  FROM files),
entry AS (SELECT repo AS target_repo FROM dim WHERE stem = 'src/mod0/file0'),
requires AS (SELECT r.src FROM reqs r JOIN entry e USING (target_repo)),
all_e AS (SELECT 'import' AS kind FROM imports UNION ALL SELECT 'requires' AS kind FROM requires)
SELECT kind, COUNT(*)::BIGINT AS n_edges FROM all_e GROUP BY kind ORDER BY kind
"""


def _code_lpa_body(fix: str, iterations: int = 4) -> str:
    """Unrolled synchronous LPA (neighbor-label frequency, ties → min
    string label; isolated keep own) as a WITH-chain ending at
    l{iterations} — composed by both the community-histogram oracle and
    the modularity oracle."""
    head = f"""
WITH e AS ({_code_e_sql(fix)}),
ed AS (SELECT DISTINCT src, dst FROM e WHERE src <> dst),
und AS (SELECT src, dst FROM ed UNION SELECT dst, src FROM ed),
v AS ({_code_v_sql(fix)}),
l0 AS (SELECT id, id AS lbl FROM v)
"""
    body = ""
    for k in range(iterations):
        p, c = f"l{k}", f"l{k + 1}"
        body += f""",
f{k} AS (
  SELECT id, lbl, SUM(cnt) AS cnt FROM (
    SELECT u.dst AS id, x.lbl AS lbl, 1 AS cnt FROM und u JOIN {p} x ON u.src = x.id
    UNION ALL SELECT id, lbl, 0 AS cnt FROM {p}
  ) GROUP BY id, lbl
),
{c} AS (
  SELECT id, lbl FROM (
    SELECT id, lbl, row_number() OVER (PARTITION BY id ORDER BY cnt DESC, lbl ASC) AS rn FROM f{k}
  ) WHERE rn = 1
)
"""
    return head + body


def _code_lpa_sql(fix: str, iterations: int = 4) -> str:
    return (
        _code_lpa_body(fix, iterations)
        + f"""
SELECT size, COUNT(*)::BIGINT AS n_communities FROM (
  SELECT lbl, COUNT(*)::BIGINT AS size FROM l{iterations} GROUP BY lbl
) GROUP BY size
"""
    )


def _code_modularity_sql(fix: str, iterations: int = 4) -> str:
    """Newman Q of the LPA-{iterations} partition — mirrors
    operators/graphmetrics.modularity term for term: exact BIGINT
    sufficient statistics, the double closed form applied once."""
    return (
        _code_lpa_body(fix, iterations)
        + f""",
m_lab AS (SELECT id, lbl AS label FROM l{iterations}),
m_canon AS (SELECT DISTINCT least(src, dst) AS s1, greatest(src, dst) AS s2 FROM e WHERE src <> dst),
m_both AS (
  SELECT la.label AS c1, lb.label AS c2
  FROM m_canon JOIN m_lab la ON m_canon.s1 = la.id JOIN m_lab lb ON m_canon.s2 = lb.id
),
m_halves AS (
  SELECT c1 AS label, (c1 = c2)::BIGINT AS i FROM m_both
  UNION ALL SELECT c2, (c1 = c2)::BIGINT FROM m_both
),
m_per_c AS (SELECT label, COUNT(*)::BIGINT AS d_c, SUM(i)::BIGINT AS e2_c FROM m_halves GROUP BY label),
m_tot AS (
  SELECT COUNT(*)::BIGINT AS n_communities, SUM(d_c)::BIGINT AS sum_d,
         SUM(e2_c)::BIGINT AS sum_e2, SUM(d_c * d_c)::BIGINT AS sum_d2
  FROM m_per_c
)
SELECT (sum_d / 2)::BIGINT AS n_edges_und, n_communities,
       ROUND((sum_e2 / 2) / (sum_d / 2) - sum_d2 / (4.0 * (sum_d / 2) * (sum_d / 2)), 6) AS modularity
FROM m_tot
"""
    )


def _code_mixing_profile_sql(fix: str) -> str:
    """operators/graphmetrics.mixing_profile in DuckDB — same exact
    integer sufficient statistics, same closed forms."""
    return f"""
WITH e AS ({_code_e_sql(fix)}),
canon AS (SELECT DISTINCT least(src, dst) AS s1, greatest(src, dst) AS s2 FROM e WHERE src <> dst),
deg AS (
  SELECT id, COUNT(*)::BIGINT AS deg
  FROM (SELECT s1 AS id FROM canon UNION ALL SELECT s2 FROM canon) GROUP BY id
),
sym AS (SELECT s1, s2 FROM canon UNION ALL SELECT s2 AS s1, s1 AS s2 FROM canon),
pr AS (
  SELECT dx.deg AS dx, dy.deg AS dy
  FROM sym JOIN deg dx ON sym.s1 = dx.id JOIN deg dy ON sym.s2 = dy.id
),
st AS (
  SELECT COUNT(*)::BIGINT AS n, SUM(dx)::BIGINT AS sx, SUM(dy)::BIGINT AS sy,
         SUM(dx * dy)::BIGINT AS sxy, SUM(dx * dx)::BIGINT AS sxx, SUM(dy * dy)::BIGINT AS syy
  FROM pr
),
ed AS (SELECT DISTINCT src, dst FROM e WHERE src <> dst),
rev AS (SELECT dst AS a, src AS b, 1 AS r FROM ed),
rc AS (
  SELECT COUNT(*)::BIGINT AS n_dir, COALESCE(SUM(r), 0)::BIGINT AS n_recip
  FROM ed LEFT JOIN rev ON ed.src = rev.a AND ed.dst = rev.b
)
SELECT (n / 2)::BIGINT AS n_edges_und,
  ROUND(CASE WHEN sqrt((n * sxx - sx * sx)::DOUBLE) * sqrt((n * syy - sy * sy)::DOUBLE) <> 0
        THEN (n * sxy - sx * sy)::DOUBLE
             / (sqrt((n * sxx - sx * sx)::DOUBLE) * sqrt((n * syy - sy * sy)::DOUBLE)) END, 6) AS assortativity,
  n_dir AS n_edges_directed,
  ROUND(n_recip / n_dir::DOUBLE, 6) AS reciprocity
FROM st, rc
"""


BFS_SEED_LIKE = "%:src/mod0/file0"  # each repo's entry file (one seed per repo)


def _code_bfs_sql(fix: str, rounds: int = 8) -> str:
    """Unrolled multi-source directed BFS (min-relaxation — equals
    operators/traversal.bfs_distances' frontier algorithm for dist ≤
    rounds)."""
    head = f"""
WITH e AS ({_code_e_sql(fix)}),
ed AS (SELECT DISTINCT src, dst FROM e WHERE src <> dst),
v AS ({_code_v_sql(fix)}),
b0 AS (SELECT id, 0::BIGINT AS dist FROM v WHERE id LIKE '{BFS_SEED_LIKE}')
"""
    body = ""
    for k in range(1, rounds + 1):
        body += f""",
b{k} AS (
  SELECT id, MIN(dist)::BIGINT AS dist FROM (
    SELECT id, dist FROM b{k - 1}
    UNION ALL SELECT ed.dst AS id, b{k - 1}.dist + 1 FROM ed JOIN b{k - 1} ON ed.src = b{k - 1}.id
  ) GROUP BY id
)
"""
    return head + body + f"\nSELECT id, dist FROM b{rounds}"


def _code_walks_sql(fix: str, steps: int = 5) -> str:
    """Unrolled deterministic md5-argmin random walks — mirrors
    operators/traversal.random_walks (same hash, same (rk, dst)
    tie-break)."""
    head = f"""
WITH e AS ({_code_e_sql(fix)}),
ed AS (SELECT DISTINCT src, dst FROM e WHERE src <> dst),
v AS ({_code_v_sql(fix)}),
w0 AS (SELECT id AS walk_id, id AS cur FROM v WHERE id LIKE '{BFS_SEED_LIKE}')
"""
    body = ""
    for t in range(1, steps + 1):
        body += f""",
w{t} AS (
  SELECT walk_id, dst AS cur FROM (
    SELECT w.walk_id, ed.dst,
      row_number() OVER (
        PARTITION BY w.walk_id
        ORDER BY md5(w.walk_id || '|{t}|' || ed.dst), ed.dst
      ) AS rn
    FROM ed JOIN w{t - 1} w ON ed.src = w.cur
  ) WHERE rn = 1
)
"""
    tail = "\nUNION ALL ".join(
        f"SELECT walk_id, {t}::BIGINT AS step, cur AS id FROM w{t}" for t in range(steps + 1)
    )
    return head + body + "\n" + tail


def _code_scc_sql(fix: str, repo: str = "org0/repo0") -> str:
    """Exact SCC of the repo subgraph via recursive-CTE transitive
    closure: mutual = reach ∩ reachᵀ, scc = min mutual partner (the
    reflexive seed row makes singletons self-labeled)."""
    return f"""
WITH RECURSIVE e AS (
  SELECT src, dst FROM read_parquet('{fix}/intended_edges/*.parquet')
  WHERE src <> dst AND src LIKE '{repo}:%' AND dst LIKE '{repo}:%'
),
v AS (
  SELECT repo || ':' || regexp_replace(path, '\\.[a-z]+$', '') AS id
  FROM read_parquet('{fix}/source_table/data/*.parquet') WHERE repo = '{repo}'
),
reach(a, b) AS (
  SELECT id, id FROM v
  UNION
  SELECT r.a, e.dst FROM reach r JOIN e ON r.b = e.src
),
mutual AS (
  SELECT r1.a AS id, r1.b AS o FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
)
SELECT id, MIN(o) AS scc FROM mutual GROUP BY id
"""


def _code_condensation_sql(fix: str, repo: str = "org0/repo0") -> str:
    """SCC closure oracle + inter-SCC edge collapse with RAW edge-row
    multiplicity as weight (mirrors operators/scc.condensation)."""
    return f"""
WITH RECURSIVE e AS (
  SELECT src, dst FROM read_parquet('{fix}/intended_edges/*.parquet')
  WHERE src <> dst AND src LIKE '{repo}:%' AND dst LIKE '{repo}:%'
),
v AS (
  SELECT repo || ':' || regexp_replace(path, '\\.[a-z]+$', '') AS id
  FROM read_parquet('{fix}/source_table/data/*.parquet') WHERE repo = '{repo}'
),
reach(a, b) AS (
  SELECT id, id FROM v
  UNION
  SELECT r.a, e.dst FROM reach r JOIN e ON r.b = e.src
),
mutual AS (
  SELECT r1.a AS id, r1.b AS o FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
),
scc AS (SELECT id, MIN(o) AS scc FROM mutual GROUP BY id),
raw AS (
  SELECT src, dst FROM read_parquet('{fix}/intended_edges/*.parquet')
  WHERE src LIKE '{repo}:%' AND dst LIKE '{repo}:%'
)
SELECT ls.scc AS src_scc, ld.scc AS dst_scc, COUNT(*)::BIGINT AS weight
FROM raw JOIN scc ls ON raw.src = ls.id JOIN scc ld ON raw.dst = ld.id
WHERE ls.scc <> ld.scc
GROUP BY 1, 2
"""


def _code_dep_layers_sql(fix: str, repo: str = "org0/repo0") -> str:
    """SCC closure → condensation edges → longest-path levels via a
    depth-enumerating recursive walk (UNION-deduped (node, depth) pairs —
    terminates because the condensation is a DAG; level = MAX depth)."""
    return f"""
WITH RECURSIVE e AS (
  SELECT src, dst FROM read_parquet('{fix}/intended_edges/*.parquet')
  WHERE src <> dst AND src LIKE '{repo}:%' AND dst LIKE '{repo}:%'
),
v AS (
  SELECT repo || ':' || regexp_replace(path, '\\.[a-z]+$', '') AS id
  FROM read_parquet('{fix}/source_table/data/*.parquet') WHERE repo = '{repo}'
),
reach(a, b) AS (
  SELECT id, id FROM v
  UNION
  SELECT r.a, e.dst FROM reach r JOIN e ON r.b = e.src
),
mutual AS (
  SELECT r1.a AS id, r1.b AS o FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
),
scc AS (SELECT id, MIN(o) AS scc FROM mutual GROUP BY id),
cond AS (
  SELECT DISTINCT ls.scc AS s, ld.scc AS d
  FROM e JOIN scc ls ON e.src = ls.id JOIN scc ld ON e.dst = ld.id
  WHERE ls.scc <> ld.scc
),
walk(nd, depth) AS (
  SELECT scc, 0 FROM (SELECT DISTINCT scc FROM scc)
  UNION
  SELECT c.d, w.depth + 1 FROM walk w JOIN cond c ON c.s = w.nd
)
SELECT nd AS scc, MAX(depth)::BIGINT AS level FROM walk GROUP BY nd
"""


def _code_ppr_sql(fix: str, alpha: float, iterations: int, k: int) -> str:
    """Unrolled batched PPR — mirrors operators/ppr.ppr_batch term for
    term (restart AND dangling mass to the seed; sparse support), then
    ppr_topk's 6dp-round-before-cut contract."""
    head = f"""
WITH e AS MATERIALIZED ({_code_e_sql(fix)}),
v AS ({_code_v_sql(fix)}),
od AS MATERIALIZED (SELECT src, COUNT(*)::DOUBLE AS d FROM e GROUP BY src),
w AS MATERIALIZED (SELECT e.src, e.dst, 1.0/od.d AS w FROM e JOIN od USING (src)),
seeds AS (SELECT id AS seed FROM v WHERE id LIKE '{BFS_SEED_LIKE}'),
r0 AS (SELECT seed, seed AS id, 1.0::DOUBLE AS rank FROM seeds)
"""
    body = ""
    for t in range(iterations):
        body += f""",
con{t} AS (
  SELECT r.seed, w.dst AS id, SUM({alpha} * w.w * r.rank) AS x
  FROM w JOIN r{t} r ON w.src = r.id GROUP BY 1, 2
),
dang{t} AS (
  SELECT r.seed, SUM(r.rank) AS dm
  FROM r{t} r LEFT JOIN od ON r.id = od.src WHERE od.src IS NULL GROUP BY 1
),
r{t + 1} AS MATERIALIZED (
  SELECT seed, id, SUM(x) AS rank FROM (
    SELECT seed, id, x FROM con{t}
    UNION ALL
    SELECT s.seed, s.seed AS id, {alpha} * COALESCE(d.dm, 0) + {1 - alpha} AS x
    FROM seeds s LEFT JOIN dang{t} d USING (seed)
  ) GROUP BY 1, 2
)
"""
    tail = f"""
SELECT seed, id, rank, rn::BIGINT AS rnk FROM (
  SELECT seed, id, ROUND(rank, 6) AS rank,
         row_number() OVER (PARTITION BY seed ORDER BY ROUND(rank, 6) DESC, id ASC) AS rn
  FROM r{iterations}
) WHERE rn <= {k}
"""
    return head + body + tail


def _code_neighbor_sample_sql(fix: str, fanouts: tuple[int, ...] = (3, 2)) -> str:
    """2-hop deterministic fan-out sample — the per-hop adjacency CTEs are
    generated by operators/neighbors.neighbor_sample_sql from the SAME
    md5 ordering expression the engine uses, so they cannot drift."""
    from pagerank_project_spark.operators.neighbors import neighbor_sample_sql

    k1, k2 = fanouts
    a1 = neighbor_sample_sql("SELECT src, dst FROM e", k1, salt="|h1")
    a2 = neighbor_sample_sql("SELECT src, dst FROM e", k2, salt="|h2")
    return f"""
WITH e AS MATERIALIZED ({_code_e_sql(fix)}),
v AS ({_code_v_sql(fix)}),
a1 AS ({a1}),
a2 AS ({a2}),
seeds AS (SELECT id AS root, id FROM v WHERE id LIKE '{BFS_SEED_LIKE}'),
h1 AS (SELECT DISTINCT root, 1::BIGINT AS hop, a1.src, a1.dst FROM seeds JOIN a1 ON seeds.id = a1.src),
f1 AS (SELECT DISTINCT root, dst AS id FROM h1),
h2 AS (SELECT DISTINCT root, 2::BIGINT AS hop, a2.src, a2.dst FROM f1 JOIN a2 ON f1.id = a2.src)
SELECT root, hop, src, dst FROM h1 UNION ALL SELECT root, hop, src, dst FROM h2
"""


def _spam_mass_k3_sql(e_sql: str, v_sql: str, seed_pred_sql: str) -> str:
    """Two unrolled 3-iteration textbook PageRank chains (uniform
    teleport p*, seed teleport t*) sharing one edge/weight scan, then
    spam mass from the 6dp-ROUNDED vectors — mirrors
    operators/trust.spam_mass at q_code_spam_mass's rounding contract."""
    head = f"""
WITH e AS MATERIALIZED ({e_sql}),
v AS MATERIALIZED ({v_sql}),
nn AS (SELECT COUNT(*)::DOUBLE AS n FROM v),
od AS MATERIALIZED (SELECT src, COUNT(*)::DOUBLE AS d FROM e GROUP BY src),
w AS MATERIALIZED (SELECT e.src, e.dst, 1.0/od.d AS w FROM e JOIN od USING (src)),
uvn AS (SELECT id, 1.0/nn.n AS vw FROM v, nn),
svraw AS (SELECT id, ({seed_pred_sql})::DOUBLE AS vr FROM v),
svn AS (SELECT id, vr / (SELECT SUM(vr) FROM svraw) AS vw FROM svraw),
px0 AS MATERIALIZED (SELECT id, 1.0/sqrt(nn.n) AS x FROM v, nn),
tx0 AS MATERIALIZED (SELECT id, 1.0/sqrt(nn.n) AS x FROM v, nn)
"""
    body = ""
    for pre, vn in (("p", "uvn"), ("t", "svn")):
        for k in range(3):
            p, c = f"{pre}x{k}", f"{pre}x{k + 1}"
            body += f""",
{pre}dang{k} AS (SELECT COALESCE(SUM(x.x), 0) AS dm FROM {p} x LEFT JOIN od ON x.id = od.src WHERE od.src IS NULL),
{pre}con{k} AS (SELECT w.dst AS id, SUM(w.w * x.x) AS c FROM w JOIN {p} x ON w.src = x.id GROUP BY w.dst),
{pre}raw{k} AS MATERIALIZED (
  SELECT v.id, {ALPHA}*COALESCE(c.c, 0) + ({ALPHA}*d.dm + {1 - ALPHA})*vn.vw AS x
  FROM v LEFT JOIN {pre}con{k} c ON v.id = c.id JOIN {vn} vn ON vn.id = v.id, {pre}dang{k} d
),
{c} AS MATERIALIZED (SELECT id, x / (SELECT SUM(abs(x)) FROM {pre}raw{k}) AS x FROM {pre}raw{k})
"""
    tail = """
SELECT id, rank, trust, ROUND((rank - trust) / rank, 6) AS spam_mass FROM (
  SELECT p.id, ROUND(p.x, 6) AS rank, ROUND(t.x, 6) AS trust
  FROM px3 p JOIN tx3 t USING (id)
)
"""
    return head + body + tail


def _code_bowtie_sql(fix: str, rounds: int = 8) -> str:
    """Two unrolled reachable-set chains (forward from seeds, backward
    over the transposed edges) then the 4-way region CASE — mirrors
    operators/traversal.bowtie_membership."""
    head = f"""
WITH e AS MATERIALIZED ({_code_e_sql(fix)}),
ed AS MATERIALIZED (SELECT DISTINCT src, dst FROM e WHERE src <> dst),
v AS MATERIALIZED ({_code_v_sql(fix)}),
f0 AS MATERIALIZED (SELECT id FROM v WHERE id LIKE '{BFS_SEED_LIKE}'),
g0 AS MATERIALIZED (SELECT id FROM v WHERE id LIKE '{BFS_SEED_LIKE}')
"""
    body = ""
    for k in range(1, rounds + 1):
        body += f""",
f{k} AS MATERIALIZED (
  SELECT DISTINCT id FROM (
    SELECT id FROM f{k - 1}
    UNION ALL SELECT ed.dst AS id FROM ed JOIN f{k - 1} ON ed.src = f{k - 1}.id
  )
),
g{k} AS MATERIALIZED (
  SELECT DISTINCT id FROM (
    SELECT id FROM g{k - 1}
    UNION ALL SELECT ed.src AS id FROM ed JOIN g{k - 1} ON ed.dst = g{k - 1}.id
  )
)
"""
    tail = f"""
SELECT v.id,
  CASE WHEN f.id IS NOT NULL AND g.id IS NOT NULL THEN 'core'
       WHEN g.id IS NOT NULL THEN 'in'
       WHEN f.id IS NOT NULL THEN 'out'
       ELSE 'disc' END AS region
FROM v LEFT JOIN f{rounds} f ON v.id = f.id LEFT JOIN g{rounds} g ON v.id = g.id
"""
    return head + body + tail


def _code_module_graph_sql(fix: str) -> str:
    return f"""
WITH e AS ({_code_e_sql(fix)}),
g AS (
  SELECT regexp_replace(src, '/[^/]+$', '') AS src_group,
         regexp_replace(dst, '/[^/]+$', '') AS dst_group
  FROM e
)
SELECT src_group, dst_group, COUNT(*)::BIGINT AS weight
FROM g WHERE src_group <> dst_group GROUP BY src_group, dst_group
"""


def _code_triangles_sql(fix: str) -> str:
    return f"""
WITH e AS ({_code_e_sql(fix)}),
und AS (SELECT DISTINCT least(src, dst) AS s1, greatest(src, dst) AS s2 FROM e WHERE src <> dst)
SELECT COUNT(*)::BIGINT AS n_triangles
FROM und ab JOIN und ac ON ab.s1 = ac.s1 AND ab.s2 < ac.s2
JOIN und bc ON bc.s1 = ab.s2 AND bc.s2 = ac.s2
"""


def _synonym_topk_sql(min_count: int = 20, topn: int = 3) -> str:
    """PPMI-cosine distributional synonyms (functions/synonyms.py) in SQL."""
    return f"""
WITH nt AS (SELECT doc_id, {NORM_TEXT_SQL} AS t FROM documents),
dw AS (SELECT DISTINCT doc_id, unnest(str_split(t, ' ')) AS word FROM nt),
dwne AS (SELECT doc_id, word FROM dw WHERE word <> ''),
nn AS (SELECT COUNT(*)::DOUBLE AS n FROM documents),
wc AS (SELECT word, COUNT(*) AS cnt FROM dwne GROUP BY word HAVING COUNT(*) >= {min_count}),
dwf AS (SELECT d.doc_id, d.word, c.cnt FROM dwne d JOIN wc c USING (word)),
pairs AS (
  SELECT x.word AS a, y.word AS b, x.cnt AS ca, y.cnt AS cb, COUNT(*) AS cab
  FROM dwf x JOIN dwf y ON x.doc_id = y.doc_id AND x.word < y.word
  GROUP BY 1, 2, 3, 4),
ppmi AS (
  SELECT a, b, ln(nn.n * cab / (ca * cb)) AS w FROM pairs, nn
  WHERE ln(nn.n * cab / (ca * cb)) > 0),
vec AS (SELECT a AS word, b AS ctx, w FROM ppmi UNION ALL SELECT b AS word, a AS ctx, w FROM ppmi),
nrm AS (SELECT word, sqrt(SUM(w * w)) AS nrm FROM vec GROUP BY word),
sims AS (
  SELECT p.word AS word, q.word AS neighbor, SUM(p.w * q.w) AS dot
  FROM vec p JOIN vec q ON p.ctx = q.ctx AND p.word <> q.word
  GROUP BY 1, 2),
scored AS (
  SELECT s.word, s.neighbor, ROUND(s.dot / (n1.nrm * n2.nrm), 6) AS sim
  FROM sims s JOIN nrm n1 ON s.word = n1.word JOIN nrm n2 ON s.neighbor = n2.word),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY word ORDER BY sim DESC, neighbor ASC) AS rn FROM scored)
SELECT word, neighbor, sim FROM ranked WHERE rn <= {topn}
"""


def oracle_sql() -> dict[str, str]:
    return {
        "degree_distribution": f"""
WITH e AS ({CS_EDGES_SQL})
SELECT degree, COUNT(*)::BIGINT AS n_nodes
FROM (SELECT src, COUNT(*)::BIGINT AS degree FROM e GROUP BY src)
GROUP BY degree
""",
        "inlink_ratio_filter": f"""
WITH e AS ({CS_EDGES_SQL}),
nv AS (SELECT COUNT(*)::BIGINT AS c FROM (SELECT DISTINCT id FROM (SELECT src AS id FROM e UNION ALL SELECT dst FROM e))),
ind AS (SELECT dst, COUNT(*) AS c FROM e GROUP BY dst)
SELECT (SELECT c FROM nv) AS n_vertices,
       (SELECT COUNT(*)::BIGINT FROM e) AS n_edges_total,
       (SELECT COUNT(*)::BIGINT FROM e JOIN ind USING (dst), nv WHERE ind.c < 0.3 * nv.c) AS n_edges_kept
""",
        "pagerank_hits_k3_suite": f"""
SELECT a.id, a.rank, b.rank AS rank_pers, c.rank AS rank_w, d.auth, d.hub
FROM ({_pagerank_k3_sql()}) a
JOIN ({_pagerank_k3_sql(pv_pred_sql="CASE WHEN id LIKE '%1%' THEN 1.0 ELSE 0.0 END")}) b USING (id)
JOIN ({_pagerank_k3_sql(e_sql='''
  SELECT 'c' || o_custkey AS src, 's' || l_suppkey AS dst, l_quantity AS wt
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
''', wt_sql="wt")}) c USING (id)
JOIN ({_hits_k3_sql()}) d USING (id)
""",
        "pagerank_k3_prepared": _pagerank_k3_sql(),
        "lm_surprisal": f"""
WITH nt AS (SELECT doc_id, {NORM_TEXT_SQL} AS t FROM documents),
toks AS (SELECT doc_id, str_split(t, ' ') AS tk FROM nt),
bg AS (
  SELECT doc_id, unnest(tk[1:len(tk)-1]) AS w1, unnest(tk[2:len(tk)]) AS w2
  FROM toks WHERE len(tk) >= 2
),
c AS (SELECT w1, w2, COUNT(*)::BIGINT AS c FROM bg GROUP BY 1, 2),
ctx AS (SELECT w1, SUM(c)::BIGINT AS ctx FROM c GROUP BY 1),
lm AS (SELECT w1, w2, c::DOUBLE / ctx AS p FROM c JOIN ctx USING (w1))
SELECT doc_id, COUNT(*)::BIGINT AS n_bigrams, ROUND(AVG(-ln(p)), 6) AS avg_surprisal
FROM bg JOIN lm USING (w1, w2) GROUP BY doc_id
""",
        "cc_iter5": _cc_iter5_sql(),
        "triangle_clustering": """
WITH und AS (
  -- canonical string-ordered undirected edges (s1 < s2); orientation choice
  -- doesn't affect the COUNT (degree-ordering in the engine is physical)
  SELECT DISTINCT
    least('s' || a.l_suppkey, 's' || b.l_suppkey) AS s1,
    greatest('s' || a.l_suppkey, 's' || b.l_suppkey) AS s2
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
),
tri AS (
  SELECT COUNT(*)::BIGINT AS n_triangles
  FROM und ab JOIN und ac ON ab.s1 = ac.s1 AND ab.s2 < ac.s2
  JOIN und bc ON bc.s1 = ab.s2 AND bc.s2 = ac.s2
)
SELECT c.id, c.coeff, (SELECT n_triangles FROM tri) AS n_triangles
FROM ({CLUSTERING_COEFF_BODY}) c
""".replace("{CLUSTERING_COEFF_BODY}", _clustering_coeff_sql()),
        "search_topk": """
SELECT c_name AS id, ROUND(c_acctbal / 100000.0 + 1 * (0.03), 6) AS score
FROM customer
WHERE c_name LIKE '%191%' AND c_name NOT LIKE '%8%'
ORDER BY c_acctbal / 100000.0 + 0.03 DESC, c_name
LIMIT 10
""",
        "dedup_exact": f"""
WITH fps AS (SELECT doc_id, md5({NORM_TEXT_SQL}) AS fp FROM documents)
SELECT fp, COUNT(*)::BIGINT AS n_docs, MIN(doc_id) AS canonical_id
FROM fps GROUP BY fp HAVING COUNT(*) >= 2
""",
        "text_profile_lang": f"""
SELECT p.doc_id, p.n_tokens, p.n_bpe_tokens, p.punct_ratio, p.quality,
       p.lang_pred, p.fp, h.n_docs AS lang_n_docs
FROM ({_text_profile_sql()}) p JOIN ({_lang_histogram_sql()}) h USING (lang_pred)
""",
        "ngram_jaccard": _ngram_jaccard_sql(0.2),
        "decontamination": DECONTAMINATION_SQL,
        "embedding_topk": """
WITH q AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 50),
c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
pairs AS (
  SELECT q.vec_id, c.vec_id AS neighbor,
         ROUND(list_cosine_similarity(q.v, c.v), 6) AS cosine
  FROM q, c WHERE q.vec_id <> c.vec_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cosine DESC, neighbor) AS rn
  FROM pairs
)
SELECT vec_id, neighbor, cosine FROM ranked WHERE rn <= 5
""",
        "events_hourly": """
SELECT event_type, strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour,
       COUNT(*)::BIGINT AS n, ROUND(SUM(value), 4) AS total_value
FROM events GROUP BY 1, 2
""",
        "embedding_near_dup_suite": f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT 'exact' AS method, a, b, cosine FROM (
  SELECT x.vec_id AS a, y.vec_id AS b,
         ROUND(list_cosine_similarity(x.v, y.v), 6) AS cosine
  FROM v x JOIN v y ON x.vec_id < y.vec_id
) WHERE cosine >= {NEAR_DUP_THRESHOLD}
UNION ALL
SELECT 'lsh' AS method, a, b, cosine
FROM ({_embedding_near_dup_lsh_sql(NEAR_DUP_THRESHOLD)})
""",
        "synonym_topk": _synonym_topk_sql(min_count=20, topn=3),
        # media_audio_profile: blob = 4 chained md5 digests (64 bytes = 32
        # int16 LE samples); hex pairs decoded via strpos arithmetic (no
        # blob functions needed), divisions mirror the numpy kernel's order
        # so the doubles are bit-identical before the shared 6dp rounding
        "media_audio_profile": """
WITH hx AS (
  SELECT doc_id,
         md5(text) || md5(text || '1') || md5(text || '2') || md5(text || '3') AS h
  FROM documents
),
s AS (
  SELECT doc_id, j,
         16*(strpos('0123456789abcdef', substr(h, 4*j+1, 1))-1)
           + (strpos('0123456789abcdef', substr(h, 4*j+2, 1))-1) AS lo,
         16*(strpos('0123456789abcdef', substr(h, 4*j+3, 1))-1)
           + (strpos('0123456789abcdef', substr(h, 4*j+4, 1))-1) AS hi
  FROM hx, generate_series(0, 31) t(j)
),
p AS (
  SELECT doc_id, j,
         CASE WHEN lo + 256*hi >= 32768 THEN lo + 256*hi - 65536
              ELSE lo + 256*hi END AS s16
  FROM s
),
z AS (
  SELECT doc_id, j, s16, (s16 < 0) AS sb,
         lead(s16 < 0) OVER (PARTITION BY doc_id ORDER BY j) AS sb_next
  FROM p
)
SELECT doc_id,
       ROUND(32.0/8000.0, 6) AS duration_sec,
       ROUND(sqrt((SUM(CAST(s16 AS DOUBLE)*s16)/1073741824.0)/32.0), 6) AS rms,
       ROUND(SUM(CASE WHEN sb_next IS NOT NULL AND sb <> sb_next THEN 1 ELSE 0 END)/31.0, 6) AS zcr
FROM z GROUP BY doc_id
""",
        "quality_filter": _quality_filter_sql(0.5),
        "repetition_quality": f"""
SELECT r.*, (CASE WHEN k.doc_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS kept
FROM ({_repetition_profile_sql()}) r
LEFT JOIN (SELECT doc_id FROM ({_quality_filter_rep_sql(0.5, 0.3)})) k USING (doc_id)
""",
        "dup_ngram_spans": _dup_ngram_spans_sql(n=8),
        "line_dedup": _line_dedup_sql(),
        "pii_scrub": _pii_scrub_sql(),
        "bigram_lm": f"""
WITH nt AS (SELECT {NORM_TEXT_SQL} AS t FROM documents),
toks AS (SELECT str_split(t, ' ') AS tk FROM nt WHERE len(t) > 0),
bg AS (
  SELECT unnest(tk[1:len(tk)-1]) AS w1, unnest(tk[2:len(tk)]) AS w2
  FROM toks WHERE len(tk) >= 2
),
c AS (SELECT w1, w2, COUNT(*)::BIGINT AS c FROM bg GROUP BY 1, 2),
ctx AS (SELECT w1, SUM(c)::BIGINT AS ctx FROM c GROUP BY 1)
SELECT c.w1, c.w2, c.c, ROUND(c.c::DOUBLE / ctx.ctx, 6) AS p
FROM c JOIN ctx USING (w1)
""",
        "tfidf_topk": """
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term FROM documents
),
tf AS (SELECT doc_id, term, COUNT(*)::BIGINT AS tf FROM toks GROUP BY doc_id, term),
df AS (SELECT term, COUNT(*)::BIGINT AS df FROM tf GROUP BY term),
nd AS (SELECT COUNT(*)::DOUBLE AS n FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, ROUND(tf.tf * ln((SELECT n FROM nd) / df.df), 6) AS tfidf
  FROM tf JOIN df USING (term)
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rnk FROM scored
)
SELECT doc_id, term, tfidf, rnk::INT AS rnk FROM ranked WHERE rnk <= 5
""",
        "kcore_iter4": _kcore_sql(4),
        "link_pred_topk": _link_pred_sql(50),
        "dedup_clusters": _dedup_clusters_sql(0.2),
        "events_sessions": _events_sessions_sql(30),
        "docs_lang_sample_quantiles": f"""
SELECT s.doc_id, s.lang_pred, q.p50_tokens, q.p90_tokens, q.n_docs AS lang_n_docs
FROM ({_docs_lang_sample_sql()}) s JOIN ({_token_quantiles_sql()}) q USING (lang_pred)
""",
        # round-5: the LSH/ANN candidate generators, md5/constant-
        # reformulated so the approximation MECHANISM is engine-exact
        "minhash_lsh": _minhash_lsh_sql(0.5),
        "simhash_near": _simhash_near_sql(3),
        "embedding_ann_topk": f"""
SELECT 'lsh' AS method, vec_id, neighbor, cosine FROM ({_embedding_lsh_topk_sql(k=5)})
UNION ALL
SELECT 'ivf' AS method, vec_id, neighbor, cosine FROM ({_embedding_ivf_topk_sql(k=5)})
""",
        **_code_oracles(),
    }


def _code_oracles() -> dict[str, str]:
    fix = _code_fixture_dir()
    sf = float(os.environ.get("SPARK_GRAFT_ORACLE_SF", "0.01"))
    # unroll depth ≥ the graph's max distance-to-component-min (see
    # _cc_sizes_sql); generous headroom at each SF the oracle runs at
    cc_rounds = 12 if sf <= 0.001 else (20 if sf <= 0.01 else 80)
    # converged-PageRank unroll depth: measured 5 iterations at sf0.001 and
    # 4 at sf0.01 (geometric residual contraction) — 12/16 is >2× headroom
    pr_depth = 12 if sf <= 0.001 else (16 if sf <= 0.01 else 60)
    pr_conv = _pagerank_converged_sql(
        _code_e_sql(fix), _code_v_sql(fix), eps=1e-6, depth=pr_depth, k_top=50
    )
    return {
        "code_extract_summary": _code_extract_summary_sql(fix),
        "code_pagerank_k3": _pagerank_k3_sql(e_sql=_code_e_sql(fix), v_sql=_code_v_sql(fix)),
        # both physical strategies against ONE convergence-in-SQL oracle:
        # the suite query joins relational and CSR ranks on id, so the
        # oracle's converged rank stands in for both columns
        "code_pagerank_conv_top50": f"""
SELECT id, rank, rank AS rank_csr FROM ({pr_conv})
""",
        "code_cc": f"""
SELECT a.id, a.component AS component_iter5, b.component, b.component_size
FROM ({_cc_iter5_sql(e_sql=_code_e_sql(fix), v_sql=_code_v_sql(fix))}) a
JOIN ({_cc_labels_sizes_sql(_code_e_sql(fix), _code_v_sql(fix), cc_rounds)}) b USING (id)
""",
        "code_lpa_communities": _code_lpa_sql(fix, iterations=4),
        "code_lpa_prepared": _code_lpa_sql(fix, iterations=4),
        "code_triangles": _code_triangles_sql(fix),
        "code_modularity": _code_modularity_sql(fix, iterations=4),
        "code_graph_profile": _code_mixing_profile_sql(fix),
        "code_bfs_depths": _code_bfs_sql(fix, rounds=8),
        "code_random_walks": _code_walks_sql(fix, steps=5),
        "code_spam_mass": _spam_mass_k3_sql(
            _code_e_sql(fix), _code_v_sql(fix),
            f"id LIKE '{BFS_SEED_LIKE}'",
        ),
        "code_bowtie": _code_bowtie_sql(fix, rounds=8),
        "code_neighbor_sample": _code_neighbor_sample_sql(fix),
        "code_ppr_topk": _code_ppr_sql(fix, alpha=ALPHA, iterations=3, k=10),
        "code_scc_condensation": f"""
SELECT 'scc' AS kind, id AS a, scc AS b, 0::BIGINT AS w FROM ({_code_scc_sql(fix)})
UNION ALL
SELECT 'edge' AS kind, src_scc AS a, dst_scc AS b, weight::BIGINT AS w
FROM ({_code_condensation_sql(fix)})
""",
        "code_dep_layers": _code_dep_layers_sql(fix),
        "code_module_rank_graph": f"""
WITH mg AS ({_code_module_graph_sql(fix)}),
pr AS ({_pagerank_k3_sql(
            e_sql=f"SELECT src_group AS src, dst_group AS dst, weight::DOUBLE AS wt "
                  f"FROM ({_code_module_graph_sql(fix)})",
            wt_sql="wt",
        )})
SELECT mg.src_group, mg.dst_group, mg.weight,
       pa.rank AS src_rank, pb.rank AS dst_rank
FROM mg JOIN pr pa ON pa.id = mg.src_group JOIN pr pb ON pb.id = mg.dst_group
""",
    }
