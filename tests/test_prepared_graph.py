"""Prepared persistent graph: the one-time build (encode, weights, dangling,
bucketed sorted edges) written once and reused by later queries/sessions."""

from __future__ import annotations

import random

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pagerank_project_spark.config import PageRankConfig
from pagerank_project_spark.operators.pagerank import pagerank
from pagerank_project_spark.plans.prepared_graph import load_prepared, prepare_graph


@pytest.fixture(scope="module")
def graph(spark):
    random.seed(11)
    rows = [(f"u{random.randrange(300)}", f"u{random.randrange(300)}") for _ in range(1200)]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["src", "dst"]))


@pytest.fixture(scope="module")
def prepared(spark, graph, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("prepared"))
    return prepare_graph(spark, graph, d), d


def test_prepared_matches_unprepared_exactly(spark, graph, prepared):
    pg, _ = prepared
    cfg = PageRankConfig(mode="standard", epsilon=1e-8, max_iterations=80, convergence="l1_delta")
    r_plain = pagerank(spark, graph, cfg=cfg)
    r_prep = pagerank(spark, cfg=cfg, prepared=pg)
    a = {r.id: r.rank for r in r_plain.ranks.collect()}
    b = {r.id: r.rank for r in r_prep.ranks.collect()}
    assert r_plain.iterations == r_prep.iterations
    assert set(a) == set(b)
    # same vids, same partitioning spec, same float schedule → bitwise equal
    assert all(a[k] == b[k] for k in a)


def test_prepared_personalization_is_query_time(spark, graph, prepared):
    pg, _ = prepared
    cfg = PageRankConfig(mode="standard", epsilon=0.0, max_iterations=6, convergence="l1_delta")
    pred = F.col("id").contains("1")
    a = {r.id: r.rank for r in pagerank(spark, graph, cfg=cfg, v_expr=pred).ranks.collect()}
    b = {r.id: r.rank for r in pagerank(spark, cfg=cfg, v_expr=pred, prepared=pg).ranks.collect()}
    assert a == b


def test_prepared_csr_strategy(spark, graph, prepared):
    pg, _ = prepared
    cfg = PageRankConfig(mode="standard", epsilon=0.0, max_iterations=4,
                         convergence="l1_delta", strategy="csr")
    a = {r.id: r.rank for r in pagerank(spark, graph, cfg=cfg).ranks.collect()}
    b = {r.id: r.rank for r in pagerank(spark, cfg=cfg, prepared=pg).ranks.collect()}
    assert set(a) == set(b)
    assert max(abs(a[k] - b[k]) for k in a) < 1e-12


def test_reload_survives_catalog_loss(spark, graph, prepared):
    """The in-memory catalog forgets bucket metadata across sessions;
    load_prepared must re-register the external table via DDL."""
    pg, d = prepared
    tbl = pg.edges.select(F.input_file_name()).limit(0)  # force plan resolution works
    for t in spark.catalog.listTables():
        if t.name.startswith("prepared_edges_"):
            spark.sql(f"DROP TABLE {t.name}")
    pg2 = load_prepared(spark, d)
    assert pg2.n == pg.n and pg2.m == pg.m
    cfg = PageRankConfig(mode="standard", epsilon=0.0, max_iterations=3, convergence="l1_delta")
    assert pagerank(spark, cfg=cfg, prepared=pg2).ranks.count() == pg.n


def test_bucketed_scan_needs_no_exchange(spark, prepared):
    """The point of the bucketed layout: src-keyed operators consume the
    scan's HashPartitioning directly — zero Exchange in the plan."""
    pg, _ = prepared
    plan = (
        pg.edges.groupBy("src").agg(F.sum("w").alias("s"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_mutual_exclusion_and_baked_filter(spark, graph, prepared):
    pg, _ = prepared
    with pytest.raises(ValueError):
        pagerank(spark, graph, prepared=pg)
    with pytest.raises(ValueError):
        pagerank(spark, cfg=PageRankConfig(filter_ratio=0.3), prepared=pg)
    with pytest.raises(ValueError):
        pagerank(spark)


def _lpa_labels(res):
    return {(r.id, r.label) for r in res.labels.collect()}


def test_undirected_vid_type_change_reregisters(spark, tmp_path, monkeypatch):
    """The catalog entry of an undirected artifact carries its vid type.
    Re-preparing a path with wide vids (INT_VID_LIMIT = 0) after an int
    artifact re-registers the table as bigint, and an entry left with the
    old type over the new files is dropped and re-created on load instead
    of served."""
    import json

    from pagerank_project_spark.operators import vids as vids_mod
    from pagerank_project_spark.operators.labelprop import label_propagation
    from pagerank_project_spark.plans.prepared_graph import (
        _catalog_entry_matches,
        load_prepared_undirected,
        prepare_undirected,
    )

    rng = random.Random(5)
    edges = spark.createDataFrame(
        list({(f"v{rng.randrange(40)}", f"v{rng.randrange(40)}") for _ in range(120)}),
        "src string, dst string",
    )
    want = _lpa_labels(label_propagation(spark, edges, iterations=3))
    d = str(tmp_path / "und")
    pg = prepare_undirected(spark, edges, d, buckets=4)
    assert pg.und.schema["src"].dataType.simpleString() == "int"
    tbl = json.load(open(f"{d}/manifest.json"))["table"]

    monkeypatch.setattr(vids_mod, "INT_VID_LIMIT", 0)
    pg = prepare_undirected(spark, edges, d, buckets=4)
    assert pg.und.schema["src"].dataType.simpleString() == "bigint"
    assert _catalog_entry_matches(spark, tbl, d, 4, "bigint")
    assert not _catalog_entry_matches(spark, tbl, d, 4, "int")
    assert _lpa_labels(label_propagation(spark, iterations=3, prepared_und=pg)) == want

    # a stale entry: the int registration survives over the bigint files
    spark.sql(f"DROP TABLE {tbl}")
    spark.sql(
        f"CREATE TABLE {tbl} (src INT, dst INT) USING PARQUET CLUSTERED BY (src) "
        f"SORTED BY (src, dst) INTO 4 BUCKETS LOCATION '{d}/edges'"
    )
    pg = load_prepared_undirected(spark, d)
    assert pg.und.schema["src"].dataType.simpleString() == "bigint"
    assert _lpa_labels(label_propagation(spark, iterations=3, prepared_und=pg)) == want
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_cli_lpa_prepare_rejects_filter_ratio(tmp_path, capsys, small_csv):
    """The undirected artifact has no spam filter, so --prepare --algorithm
    lpa must reject --filter_ratio instead of silently dropping it."""
    import os

    from pagerank_project_spark.cli import main

    pdir = str(tmp_path / "pu")
    rc = main(["--data", small_csv, "--algorithm", "lpa", "--prepare", "--prepared_dir", pdir,
               "--filter_ratio", "0.5", "--cores", "4"])
    assert rc == 2
    assert "--filter_ratio" in capsys.readouterr().err
    assert not os.path.exists(pdir)
