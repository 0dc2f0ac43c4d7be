"""PageRank's fused build (``operators/pagerank.build_graph``): the branches
fixture-sized graphs never reach on their own, forced and checked against
the numpy oracle, and the set-up guards the build must keep raising."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pagerank_project_spark.config import PageRankConfig
from pagerank_project_spark.operators import vids as vids_mod
from pagerank_project_spark.operators.extract import extract_edges, vertices_from_files
from pagerank_project_spark.operators.pagerank import pagerank
from pagerank_project_spark.plans.prepared_graph import load_prepared, prepare_graph

import oracle_numpy as oracle

SUPERSTEPS = 6
MODES = ("standard", "reference")


def _edges_df(spark, rows):
    return spark.createDataFrame(pd.DataFrame(rows, columns=["src", "dst"]))


def _ranks(res) -> dict[str, float]:
    return {r["id"]: r["rank"] for r in res.ranks.collect()}


@pytest.fixture(scope="module")
def f1_graph(spark, small_rows):
    """F1 edges, universe derived from the edges, plus its oracle per mode."""
    urls, idx_edges, weights = oracle.ingest_edges(small_rows)
    P = oracle.build_P(len(urls), idx_edges, weights)
    want = {}
    for mode in MODES:
        cfg = PageRankConfig(mode=mode)
        x, _, _ = oracle.power_method(
            P, v=oracle.personalization_vector(urls), epsilon=0.0,
            max_iterations=SUPERSTEPS, norm_x=cfg.norm_x, norm_v=cfg.norm_v,
        )
        want[mode] = dict(zip(urls, x))
    return _edges_df(spark, small_rows), None, want


@pytest.fixture(scope="module")
def sf0001_graph(spark, sf0001_fixture):
    """Extracted sf0.001 edges with the validated file universe (isolated
    files included), plus its oracle per mode."""
    files = spark.read.parquet(f"{sf0001_fixture}/source_table/data")
    edges = extract_edges(files).select("src", "dst").persist()
    verts = vertices_from_files(files).persist()
    keys = sorted(r["id"] for r in verts.distinct().collect())
    idx = {k: i for i, k in enumerate(keys)}
    epd = edges.toPandas()
    src = np.array([idx[s] for s in epd["src"]])
    dst = np.array([idx[t] for t in epd["dst"]])
    w = oracle.sparse_weights(src)
    want = {}
    for mode in MODES:
        cfg = PageRankConfig(mode=mode)
        x, _ = oracle.power_method_sparse(
            len(keys), src, dst, w, epsilon=0.0, max_iterations=SUPERSTEPS,
            norm_x=cfg.norm_x, norm_v=cfg.norm_v,
        )
        want[mode] = dict(zip(keys, x))
    yield edges, verts, want
    edges.unpersist()
    verts.unpersist()


def _force_collision(monkeypatch) -> list[int]:
    """Every vertex hashes to the same vid, so the build must take the
    string-sorted fallback; returns a list that records each fallback."""
    calls: list[int] = []
    real = vids_mod.string_sorted_vids

    def spy(verts, id_col="id", num_partitions=None):
        calls.append(1)
        return real(verts, id_col, num_partitions)

    monkeypatch.setattr(vids_mod, "hashed_vids", lambda verts, id_col="id": verts.withColumn("vid", F.lit(7).cast("long")))
    monkeypatch.setattr(vids_mod, "string_sorted_vids", spy)
    return calls


@pytest.mark.parametrize("graph", ["f1_graph", "sf0001_graph"])
@pytest.mark.parametrize("branch", ["collision", "default"])
def test_forced_build_branch_matches_oracle(spark, request, monkeypatch, tmp_path, graph, branch):
    """The xxhash-collision fallback and the default build, in-run and
    through prepare_graph + load_prepared, each within 1e-6 of the numpy
    oracle."""
    edges, verts, want = request.getfixturevalue(graph)
    if branch == "collision":
        fallbacks = _force_collision(monkeypatch)
    path = str(tmp_path / "pg")
    prepare_graph(spark, edges, path, vertices=verts, buckets=4)
    pg = load_prepared(spark, path)
    assert pg.n == len(want["standard"])
    if branch == "collision":
        assert len(fallbacks) == 1  # prepare_graph took the fallback
        vids = [r["vid"] for r in pg.base.collect()]
        assert sorted(vids) == list(range(1, pg.n + 1))  # dense string-sorted ranks
    for mode in MODES:
        cfg = PageRankConfig(mode=mode, epsilon=0.0, max_iterations=SUPERSTEPS)
        for res in (
            pagerank(spark, edges, vertices=verts, cfg=cfg),
            pagerank(spark, cfg=cfg, prepared=pg),
        ):
            got = _ranks(res)
            assert res.iterations == SUPERSTEPS
            assert res.n_vertices == pg.n and res.n_edges == pg.m
            assert set(got) == set(want[mode])
            assert max(abs(got[k] - want[mode][k]) for k in got) <= 1e-6, mode
    if branch == "collision":
        assert len(fallbacks) == 1 + len(MODES)  # every in-run build fell back too


@pytest.mark.parametrize("strategy", ["relational", "csr"])
def test_one_job_per_superstep(spark, small_rows, strategy):
    """A superstep is ONE Spark job in both strategies: the rank side
    meets the edge cache in a shuffled hash join, never through a
    broadcast exchange (which is a job of its own) — for CSR on F1, which
    has no hub at the auto threshold, not even the hub list's. Everything
    outside the loop is the same for both runs, so 3 and 5 unconverged
    supersteps differ by 2 jobs."""
    edges = _edges_df(spark, small_rows)
    # the first PageRank call of a session runs one more build job than
    # every later one; a warm-up keeps it out of the counts below
    pagerank(spark, edges, cfg=PageRankConfig(max_iterations=1, strategy=strategy))
    sc = spark.sparkContext
    counts = {}
    for steps in (3, 5):
        group = f"pagerank-jobcount-{strategy}-{steps}"
        sc.setJobGroup(group, "jobs per superstep")
        try:
            cfg = PageRankConfig(epsilon=0.0, max_iterations=steps, strategy=strategy)
            res = pagerank(spark, edges, cfg=cfg)
            res.ranks.collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert res.iterations == steps
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # every job start is recorded
        counts[steps] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert counts[5] - counts[3] == 2, counts


# --------------------------------------------------------------------------
# guards
# --------------------------------------------------------------------------

def test_missing_endpoint_raises_same_message(spark):
    edges = _edges_df(spark, [("a", "b"), ("b", "c"), ("c", "d")])
    verts = spark.createDataFrame([("a",), ("b",)], "id string")
    with pytest.raises(ValueError, match=r"^2 edge endpoint\(s\) are not in the supplied vertices table; "
                                         r"pass vertices=None"):
        pagerank(spark, edges, vertices=verts, cfg=PageRankConfig(max_iterations=1))


def test_nonpositive_weight_raises_in_build(spark, tmp_path):
    ew = spark.createDataFrame([("a", "b", 2.0), ("b", "a", -1.0)], "src string, dst string, wt double")
    with pytest.raises(Exception, match="strictly positive"):
        pagerank(spark, ew, cfg=PageRankConfig(max_iterations=1), weight_col="wt")
    with pytest.raises(Exception, match="strictly positive"):
        prepare_graph(spark, ew, str(tmp_path / "pg"), weight_col="wt")


def test_all_zero_personalization_raises(spark, tmp_path):
    edges = _edges_df(spark, [("a", "b"), ("b", "a")])
    nowhere = F.col("id") == "zzz"
    with pytest.raises(AssertionError, match="all-zero"):
        pagerank(spark, edges, cfg=PageRankConfig(max_iterations=1), v_expr=nowhere)
    pg = prepare_graph(spark, edges, str(tmp_path / "pg"))
    with pytest.raises(AssertionError, match="all-zero"):
        pagerank(spark, cfg=PageRankConfig(max_iterations=1), v_expr=nowhere, prepared=pg)


def test_empty_edge_table_raises(spark, tmp_path):
    empty = spark.createDataFrame([], "src string, dst string")
    with pytest.raises(ValueError, match="empty graph"):
        pagerank(spark, empty, cfg=PageRankConfig(max_iterations=1))
    with pytest.raises(ValueError, match="empty graph"):
        prepare_graph(spark, empty, str(tmp_path / "pg"))


def test_unvalidated_vertex_table_keeps_subgraph_semantics(spark):
    """validate_vertices=False: out-degrees count every edge, the edges to
    or from vertices outside the table are dropped afterwards, and
    n_edges counts the survivors — the documented-unsafe opt-out."""
    edges = _edges_df(spark, [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a")])
    verts = spark.createDataFrame([("a",), ("b",)], "id string")
    cfg = PageRankConfig(mode="standard", epsilon=0.0, max_iterations=4, validate_vertices=False)
    res = pagerank(spark, edges, vertices=verts, cfg=cfg)
    assert (res.n_vertices, res.n_edges) == (2, 1)
    # only a→b survives, weighted 1/outdeg(a) = 1/2; neither a nor b is
    # dangling (both have out-edges before the drop), so no mass returns
    x, v = np.full(2, 1 / np.sqrt(2)), np.full(2, 0.5)
    for _ in range(4):
        nx = 0.85 * np.array([0.0, 0.5 * x[0]]) + 0.15 * v
        x = nx / nx.sum()
    got = _ranks(res)
    assert got["a"] == pytest.approx(x[0], abs=1e-12)
    assert got["b"] == pytest.approx(x[1], abs=1e-12)
