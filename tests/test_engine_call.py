"""``session.engine_call``: every iterative operator runs its whole call,
build included, with AQE off and hands the caller's settings back, also
when the call raises and when calls nest."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from pagerank_project_spark.operators import ppr as ppr_mod
from pagerank_project_spark.operators import scc as scc_mod
from pagerank_project_spark.operators.components import connected_components
from pagerank_project_spark.operators.hits import hits
from pagerank_project_spark.operators.kcore import kcore, kcore_fixed
from pagerank_project_spark.operators.labelprop import label_propagation
from pagerank_project_spark.operators.pagerank import pagerank
from pagerank_project_spark.operators.traversal import bfs_distances, random_walks
from pagerank_project_spark.session import engine_call

AQE = "spark.sql.adaptive.enabled"
UNION = "spark.sql.unionOutputPartitioning"


def _seeds(spark):
    return spark.createDataFrame([("1",), ("4",)], "id string")


# each entry returns the call's output DataFrame; the test materializes it
CALLS = {
    "pagerank": lambda s, e: pagerank(s, e).ranks,
    "connected_components": lambda s, e: connected_components(s, e).labels,
    "connected_components_propagation": lambda s, e: connected_components(
        s, e, algorithm="propagation"
    ).labels,
    "label_propagation": lambda s, e: label_propagation(s, e, iterations=3).labels,
    "strongly_connected_components": lambda s, e: scc_mod.strongly_connected_components(s, e).labels,
    # F1 oriented low → high id: a DAG
    "dag_levels": lambda s, e: scc_mod.dag_levels(s, e.filter(F.col("src") < F.col("dst"))),
    "ppr_batch": lambda s, e: ppr_mod.ppr_batch(s, e, _seeds(s)),
    "ppr_topk": lambda s, e: ppr_mod.ppr_topk(s, e, _seeds(s), k=2),
    "hits": lambda s, e: hits(s, e).scores,
    "kcore": lambda s, e: kcore(s, e).cores,
    "kcore_fixed": lambda s, e: kcore_fixed(s, e, 2),
    "bfs_distances": lambda s, e: bfs_distances(s, e, _seeds(s)),
    "random_walks": lambda s, e: random_walks(s, e, _seeds(s), steps=3),
}


@pytest.fixture
def edges(spark, small_rows):
    return spark.createDataFrame(small_rows, "src string, dst string")


@pytest.fixture
def aqe_on(spark):
    before = spark.conf.get(AQE)
    spark.conf.set(AQE, "true")
    yield
    spark.conf.set(AQE, before)


@pytest.mark.parametrize("name", sorted(CALLS))
def test_call_restores_aqe(spark, edges, aqe_on, name):
    out = CALLS[name](spark, edges)
    assert out.count() > 0
    assert spark.conf.get(AQE) == "true"


@pytest.mark.parametrize("name", ["pagerank", "strongly_connected_components"])
def test_missing_endpoint_raise_restores_aqe(spark, edges, aqe_on, name):
    verts = spark.createDataFrame([(str(i),) for i in range(1, 6)], "id string")  # no "6"
    call = pagerank if name == "pagerank" else scc_mod.strongly_connected_components
    with pytest.raises(ValueError, match="endpoint"):
        call(spark, edges, vertices=verts)
    assert spark.conf.get(AQE) == "true"


def test_dag_levels_cycle_raise_restores_aqe(spark, edges, aqe_on):
    with pytest.raises(RuntimeError, match="cycle"):
        scc_mod.dag_levels(spark, edges, max_iterations=3)
    assert spark.conf.get(AQE) == "true"


@pytest.mark.parametrize("outer", ["true", "false"])
def test_nested_engine_call_restores_outer_value(spark, outer):
    before = {k: spark.conf.get(k) for k in (AQE, UNION)}
    for k in before:
        spark.conf.set(k, outer)
    try:
        with engine_call(spark):
            with engine_call(spark):
                assert spark.conf.get(AQE) == spark.conf.get(UNION) == "false"
            assert spark.conf.get(AQE) == spark.conf.get(UNION) == "false"
        assert spark.conf.get(AQE) == spark.conf.get(UNION) == outer
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)


def test_ppr_topk_over_extracted_code_graph_matches_oracle(spark, sf0001_fixture, monkeypatch):
    """The extracted edge table is a union of edge kinds; with AQE off and
    Spark 4.1's union output partitioning on, ppr_batch's cone-filtered
    weight build over it failed to plan. The top-k must equal the DuckDB
    oracle of ``__spark_entry__.oracle_sql``."""
    import duckdb

    import __spark_entry__ as entry

    monkeypatch.setenv("SPARK_GRAFT_ORACLE_SF", "0.001")
    got = entry.q_code_ppr_topk(spark, "sf0.001").toPandas()
    con = duckdb.connect()
    try:
        want = con.execute(entry.oracle_sql()["code_ppr_topk"]).df()
    finally:
        con.close()
    key = ["seed", "rnk"]
    got = got.sort_values(key).reset_index(drop=True)
    want = want[got.columns].sort_values(key).reset_index(drop=True)
    assert len(got) > 0
    assert got[["seed", "id", "rnk"]].astype(str).equals(want[["seed", "id", "rnk"]].astype(str))
    assert (got["rank"] - want["rank"]).abs().max() <= 2e-6


def test_scc_build_runs_with_aqe_off(spark, edges, aqe_on, monkeypatch):
    seen = []
    encode = scc_mod.hash_encode

    def spy(*args, **kwargs):
        seen.append(spark.conf.get(AQE))
        return encode(*args, **kwargs)

    monkeypatch.setattr(scc_mod, "hash_encode", spy)
    scc_mod.strongly_connected_components(spark, edges).labels.collect()
    assert seen == ["false"]


def test_ppr_build_runs_with_aqe_off(spark, edges, aqe_on, monkeypatch):
    seen = []
    weigh = ppr_mod.weighted_edges

    def spy(*args, **kwargs):
        seen.append(spark.conf.get(AQE))
        return weigh(*args, **kwargs)

    monkeypatch.setattr(ppr_mod, "weighted_edges", spy)
    ppr_mod.ppr_batch(spark, edges, _seeds(spark)).collect()
    assert seen == ["false"]
