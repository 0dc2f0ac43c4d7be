#!/usr/bin/env python3
"""Headline benchmark — prints ONE JSON line.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) — driver tables;
     SPARK_GRAFT_CPUS   (default 32) — local[N] parallelism.

The graph suite runs on the synthetic source-code link graph (FIXTURES.md
§F2) at the SAME sf as the driver dir (generated+cached under fixtures/).
Headline metric (BASELINE.json): edges-processed/sec per PageRank
superstep + iterations-to-convergence (L1 delta < 1e-6). The TPC-H-ish
and documents/embeddings queries cover the non-graph operator families.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    # host-noise fingerprint: the CPU steal fraction over the whole run (the
    # /proc/stat counter perfbench reports), so a round-over-round BENCH diff
    # can tell a code regression from a stolen host
    from perfbench.run import cpu_steal

    steal0 = cpu_steal()

    from __spark_entry__ import (
        _sf_of,
        q_degree_distribution,
        q_docs_lang_sample,
        q_embedding_topk,
        q_events_sessions,
        q_minhash_lsh,
        q_pagerank_k3,
        q_text_profile,
    )
    from pagerank_project_spark.config import PageRankConfig
    from pagerank_project_spark.datagen import ensure_fixture
    from pagerank_project_spark.operators.components import connected_components
    from pagerank_project_spark.operators.extract import extract_edges, vertices_from_files
    from pagerank_project_spark.operators.labelprop import label_propagation
    from pagerank_project_spark.operators.pagerank import pagerank
    from pagerank_project_spark.operators.triangles import triangle_count
    from pagerank_project_spark.session import get_spark

    sf = _sf_of(sf_dir)
    spark = get_spark(app_name="bench", cores=cpus, shuffle_partitions=cpus)

    fix = ensure_fixture(sf)
    files = spark.read.parquet(f"{fix}/source_table/data").persist()
    files.count()

    queries: dict[str, float] = {}
    extra: dict[str, float] = {}

    def timed(name):
        class _T:
            def __enter__(self):
                self.t0 = time.time()
                return self

            def __exit__(self, *a):
                queries[name] = round(time.time() - self.t0, 3)

        return _T()

    t_all = time.time()

    # --- edge extraction (incl. sha256 invariant scan) ---------------------
    with timed("extract_edges"):
        edges = extract_edges(files, verify_sha=True).persist()
        n_edges = edges.count()
    verts = vertices_from_files(files).persist()
    n_verts = verts.count()

    # --- PageRank, relational superstep ------------------------------------
    # convergence = L1 delta < 1e-6, the BASELINE.json headline criterion.
    # standard (textbook) mode: reference mode's L2-normalized teleport
    # (op-14 quirk) dominates at large n and converges in ~4 supersteps.
    with timed("pagerank_relational"):
        res_rel = pagerank(
            spark,
            edges,
            vertices=verts,
            cfg=PageRankConfig(mode="standard", epsilon=1e-6, convergence="l1_delta", max_iterations=100),
        )
    def steady_eps(res):
        """edges/sec from the median steady-state superstep (excludes the
        one-time graph build and the codegen-warmup first iterations)."""
        tail = sorted(res.iter_secs[2:]) or sorted(res.iter_secs)
        return round(n_edges / tail[len(tail) // 2], 1)

    def dispersion(res, prefix):
        """Noise attribution for the headline walls: a ~40-superstep run
        yields ~38 steady-state samples, so report median + p10/p90 of the
        superstep time plus the wall decomposition (setup + Σ supersteps +
        residual driver overhead) — a run-to-run wall drift that stays
        inside the per-superstep spread × iterations is scheduling noise,
        not a regression (round-3 verdict 'what's wrong #1')."""
        tail = sorted(res.iter_secs[2:]) or sorted(res.iter_secs)
        n = len(tail)
        extra[f"{prefix}_iter_sec_median"] = tail[n // 2]
        extra[f"{prefix}_iter_sec_p10"] = tail[int(0.1 * (n - 1))]
        extra[f"{prefix}_iter_sec_p90"] = tail[int(0.9 * (n - 1))]
        extra[f"{prefix}_iter_secs_sum"] = round(sum(res.iter_secs), 3)
        extra[f"{prefix}_setup_sec"] = res.setup_sec

    extra["pagerank_iterations"] = res_rel.iterations
    extra["pagerank_converged"] = res_rel.converged
    extra["pagerank_setup_sec"] = res_rel.setup_sec
    extra["pagerank_edges_per_sec_per_superstep"] = steady_eps(res_rel)
    dispersion(res_rel, "pagerank")

    # --- PageRank, CSR pandas-UDF superstep (salted) -----------------------
    with timed("pagerank_csr"):
        res_csr = pagerank(
            spark,
            edges,
            vertices=verts,
            cfg=PageRankConfig(
                mode="standard", epsilon=1e-6, convergence="l1_delta", max_iterations=100, strategy="csr"
            ),
        )
    extra["pagerank_csr_edges_per_sec_per_superstep"] = steady_eps(res_csr)
    dispersion(res_csr, "pagerank_csr")

    # --- CC / LPA / triangles ---------------------------------------------
    # CC (star) takes its zero-shuffle hash-vid path; LPA keeps sorted vids
    # — measured at sf16 (BENCH/BASELINE.md round 4): compact 0..n vids
    # delta-compress in the symmetric edge cache the loop streams every
    # superstep, beating the cheaper-to-encode but incompressible
    # xxhash64 vids on both cache-fill and superstep time
    with timed("connected_components"):
        cc = connected_components(spark, edges, vertices=verts)
        cc.labels.groupBy("component").count().count()
    extra["cc_iterations"] = cc.iterations
    with timed("label_propagation_4it"):
        label_propagation(spark, edges, vertices=verts, iterations=4).labels.count()
    with timed("triangle_count"):
        tri = triangle_count(spark, edges)
    extra["n_triangles"] = tri.total
    with timed("hits_3it"):
        from pagerank_project_spark.operators.hits import hits

        hits(spark, edges, vertices=verts, iterations=3).scores.count()
    with timed("ppr_batch_top10"):
        from pagerank_project_spark.operators.ppr import ppr_topk

        seeds = verts.filter(F.col("id").like("%:src/mod0/file0"))
        ppr_topk(spark, edges, seeds, k=10, iterations=3).count()
    with timed("neighbor_sample_2hop"):
        from pagerank_project_spark.operators.neighbors import khop_neighborhood

        khop_neighborhood(edges, seeds, [10, 5]).count()

    # --- round-4 graph extensions (regression tracking: a slowdown in any
    # of these was invisible to BENCH diffs before round 5) ------------------
    with timed("scc_repo0"):
        from pagerank_project_spark.operators.scc import strongly_connected_components

        sub_e = edges.filter(
            F.col("src").like("org0/repo0:%") & F.col("dst").like("org0/repo0:%")
        )
        strongly_connected_components(spark, sub_e).labels.count()
    with timed("spam_mass_k3"):
        from pagerank_project_spark.operators.trust import spam_mass

        spam_mass(
            spark, edges,
            trusted_expr=F.col("id").like("%:src/mod0/file0"),
            vertices=verts,
            cfg=PageRankConfig(mode="standard", epsilon=1e-300, max_iterations=3),
        ).count()
    with timed("bowtie_8r"):
        from pagerank_project_spark.operators.traversal import bowtie_membership

        bowtie_membership(spark, edges, seeds, max_iterations=8).count()
    with timed("random_walks_5step"):
        from pagerank_project_spark.operators.traversal import random_walks

        random_walks(spark, edges, seeds, steps=5).count()
    with timed("module_rank_k3"):
        from pagerank_project_spark.operators.traversal import quotient_graph

        mg = quotient_graph(edges, "regexp_replace({v}, '/[^/]+$', '')").select(
            F.col("src_group").alias("src"),
            F.col("dst_group").alias("dst"),
            F.col("weight").cast("double").alias("weight"),
        )
        pagerank(
            spark, mg,
            cfg=PageRankConfig(mode="standard", epsilon=1e-300, max_iterations=3),
            weight_col="weight",
        ).ranks.count()

    # --- driver-table operator families ------------------------------------
    with timed("tpch_degree_distribution"):
        q_degree_distribution(spark, sf_dir).count()
    with timed("tpch_pagerank_k3"):
        q_pagerank_k3(spark, sf_dir).count()
    with timed("docs_text_profile"):
        q_text_profile(spark, sf_dir).count()
    with timed("docs_minhash_lsh"):
        q_minhash_lsh(spark, sf_dir).count()
    with timed("embedding_topk"):
        q_embedding_topk(spark, sf_dir).count()
    # keep-one dedup at the SCALE path: MinHash-LSH candidate pairs (not the
    # quadratic exact verifier) clustered by the star-CC operator
    with timed("docs_dedup_clusters_lsh"):
        from pagerank_project_spark.operators.dedup import minhash_lsh_pairs, near_dup_clusters

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        near_dup_clusters(spark, minhash_lsh_pairs(docs, threshold=0.5)).count()
    with timed("events_sessions"):
        q_events_sessions(spark, sf_dir).count()
    with timed("docs_lang_sample"):
        q_docs_lang_sample(spark, sf_dir).count()
    with timed("docs_tfidf_topk"):
        from pagerank_project_spark.operators.textstats import tfidf_topk

        tfidf_topk(spark.read.parquet(f"{sf_dir}/documents.parquet"), k=5).count()
    with timed("docs_dup_ngram_spans"):
        from pagerank_project_spark.operators.textstats import dup_ngram_profile

        dup_ngram_profile(spark.read.parquet(f"{sf_dir}/documents.parquet"), n=8).count()

    total = round(time.time() - t_all, 3)
    steal1 = cpu_steal()
    print(
        json.dumps(
            {
                "metric": "suite_wall_sec",
                "value": total,
                "unit": "sec",
                "queries": queries,
                "sf": sf,
                "cpus": cpus,
                "n_vertices": n_verts,
                "n_edges": n_edges,
                "steal_frac": round((steal1[1] - steal0[1]) / max(1, steal1[0] - steal0[0]), 4),
                **extra,
            }
        )
    )


if __name__ == "__main__":
    main()
