"""Frontier-mode LPA: exact equality with the full gather + early stop."""

from __future__ import annotations

import random

import pandas as pd
import pytest

from pagerank_project_spark.operators.labelprop import label_propagation


def _labels(res):
    return {(r.id, r.label) for r in res.labels.collect()}


def _random_edges(seed, n, m):
    rng = random.Random(seed)
    return list({(f"v{rng.randrange(n)}", f"v{rng.randrange(n)}") for _ in range(m)})


def _duckdb_lpa(rows, iterations):
    """Synchronous LPA as unrolled DuckDB SQL (the driver contract's
    oracle shape): most frequent neighbor label, ties → min string label,
    isolated vertices keep their own."""
    import duckdb

    sql = """
WITH ed AS (SELECT DISTINCT src, dst FROM e_in WHERE src <> dst),
und AS (SELECT src, dst FROM ed UNION SELECT dst, src FROM ed),
l0 AS (SELECT id, id AS lbl FROM (SELECT src AS id FROM e_in UNION SELECT dst FROM e_in))"""
    for k in range(iterations):
        sql += f""",
f{k} AS (
  SELECT id, lbl, SUM(cnt) AS cnt FROM (
    SELECT u.dst AS id, x.lbl AS lbl, 1 AS cnt FROM und u JOIN l{k} x ON u.src = x.id
    UNION ALL SELECT id, lbl, 0 AS cnt FROM l{k}
  ) GROUP BY id, lbl
),
l{k + 1} AS (
  SELECT id, lbl FROM (
    SELECT id, lbl, row_number() OVER (PARTITION BY id ORDER BY cnt DESC, lbl ASC) AS rn FROM f{k}
  ) WHERE rn = 1
)"""
    con = duckdb.connect()
    try:
        con.register("e_in", pd.DataFrame(rows, columns=["src", "dst"]))
        return set(con.execute(sql + f" SELECT id, lbl FROM l{iterations}").fetchall())
    finally:
        con.close()


def test_frontier_bitwise_equal_random_graphs(spark):
    for seed in (1, 2):
        edges = spark.createDataFrame(_random_edges(seed, 40, 120), "src string, dst string")
        for k in (3, 6):
            full = label_propagation(spark, edges, iterations=k)
            fr = label_propagation(spark, edges, iterations=k, frontier=True)
            assert _labels(fr) == _labels(full)


def test_frontier_bitwise_equal_hub_and_isolated(spark):
    # hub + two cliques + an isolated vertex (isolated must keep its label
    # and never enter the touched set)
    edges = [("h", f"s{i}") for i in range(20)]
    edges += [(f"a{i}", f"a{j}") for i in range(4) for j in range(4) if i < j]
    edges += [(f"b{i}", f"b{j}") for i in range(3) for j in range(3) if i < j]
    e = spark.createDataFrame(edges, "src string, dst string")
    verts = spark.createDataFrame(
        [(v,) for v in {x for p in edges for x in p} | {"lonely"}], "id string"
    )
    full = label_propagation(spark, e, vertices=verts, iterations=5)
    fr = label_propagation(spark, e, vertices=verts, iterations=5, frontier=True)
    assert _labels(fr) == _labels(full)
    assert ("lonely", "lonely") in _labels(fr)


def test_frontier_early_stop_matches_full_run(spark):
    # two disjoint triangles converge in a couple of supersteps; frontier
    # mode must stop at the fixpoint and still equal the 10-iteration run
    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("x", "y"), ("y", "z"), ("z", "x")]
    e = spark.createDataFrame(edges, "src string, dst string")
    full = label_propagation(spark, e, iterations=10)
    fr = label_propagation(spark, e, iterations=10, frontier=True)
    assert _labels(fr) == _labels(full)
    assert fr.iterations < 10
    assert fr.frontier_sizes is not None and fr.frontier_sizes[-1] == 0


def test_frontier_sizes_shrink_to_zero(spark):
    edges = spark.createDataFrame(_random_edges(7, 30, 80), "src string, dst string")
    fr = label_propagation(spark, edges, iterations=12, frontier=True)
    sizes = fr.frontier_sizes
    assert sizes is not None and len(sizes) >= 1
    # either it hit the fixpoint (last size 0) or ran all 12 (oscillation)
    assert sizes[-1] == 0 or len(sizes) == 12


@pytest.mark.parametrize("k", [4, 8])
def test_frontier_early_stop_matches_oracle(spark, k):
    """On this graph the changed sets shrink to 3 and 2 in supersteps 6-7:
    frontier mode's changed-count and early stop must give the
    non-frontier labels and the DuckDB oracle's, before (k=4) and after
    (k=8) the sets shrink."""
    rows = _random_edges(7, 30, 80)
    edges = spark.createDataFrame(rows, "src string, dst string")
    full = label_propagation(spark, edges, iterations=k)
    fr = label_propagation(spark, edges, iterations=k, frontier=True)
    assert _labels(fr) == _labels(full) == _duckdb_lpa(rows, k)


def test_cli_ppr_sample_and_frontier(capsys, small_csv):
    """--algorithm ppr/sample and --lpa_frontier over the reference edge
    list: ppr prints per-seed ranked lines with the seed holding >= 1-alpha
    restart mass, sample prints per-hop counts, frontier LPA reports its
    shrinking changed sets."""
    from pagerank_project_spark.cli import main

    rc = main(["--data", small_csv,
               "--algorithm", "ppr", "--seeds_like", "4",
               "--power", "3", "--max_results", "3", "--cores", "4"])
    out = capsys.readouterr().out
    assert rc == 0
    lines = [ln for ln in out.splitlines() if ln.startswith("seed=4")]
    assert lines and "rnk=1" in lines[0]

    rc = main(["--data", small_csv,
               "--algorithm", "sample", "--seeds_like", "4",
               "--fanouts", "2,2", "--cores", "4"])
    out = capsys.readouterr().out
    assert rc == 0
    assert any(ln.startswith("hop=1 n_edges=") for ln in out.splitlines())

    rc = main(["--data", small_csv,
               "--algorithm", "lpa", "--lpa_iterations", "8",
               "--lpa_frontier", "--cores", "4"])
    out = capsys.readouterr().out
    assert rc == 0
    assert '"frontier_sizes"' in out


def test_lpa_prepared_und_bitwise_equal_and_guards(spark, tmp_path):
    """prepare_undirected bakes the sorted-vid encode + symmetrize; an LPA
    run from the prepared table must be BITWISE the direct sorted path,
    including across a fresh load of the artifact."""
    from pagerank_project_spark.plans.prepared_graph import (
        load_prepared_undirected,
        prepare_undirected,
    )

    edges = spark.createDataFrame(_random_edges(13, 35, 100), "src string, dst string")
    direct = label_propagation(spark, edges, iterations=4)
    pdir = str(tmp_path / "und")
    pg = prepare_undirected(spark, edges, pdir, buckets=4)
    prepped = label_propagation(spark, iterations=4, prepared_und=pg)
    assert _labels(prepped) == _labels(direct)
    # reload path (fresh manifest read + catalog re-use)
    pg2 = load_prepared_undirected(spark, pdir)
    prepped2 = label_propagation(spark, iterations=4, prepared_und=pg2)
    assert _labels(prepped2) == _labels(direct)
    assert prepped.phase_secs is not None and "encode" not in prepped.phase_secs

    import pytest as _pytest

    with _pytest.raises(ValueError, match="exactly one"):
        label_propagation(spark, edges, iterations=2, prepared_und=pg)
    with _pytest.raises(ValueError, match="exactly one"):
        label_propagation(spark, iterations=2)
