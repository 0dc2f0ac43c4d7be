"""Warm calls: a second pass of PageRank, CC and LPA over the same graph
compiles no generated class (the session's codegen cache holds
the engine's plans), and LPA's store-backed labels equal a run without a
store, with the final (vid, lbl) snapshot a complete resume point."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pandas as pd
import pytest

from pagerank_project_spark.operators.extract import extract_edges, vertices_from_files
from pagerank_project_spark.operators.labelprop import label_propagation
from pagerank_project_spark.plans.checkpoint import CheckpointStore

LPA_ITERATIONS = 4


@pytest.fixture(scope="module", params=["f1", "sf0.001"])
def graph(request, spark, small_rows):
    """(edges, vertices) persisted; F1 derives its universe from the edges."""
    if request.param == "f1":
        edges = spark.createDataFrame(pd.DataFrame(small_rows, columns=["src", "dst"])).persist()
        yield edges, None
        edges.unpersist()
        return
    fix = request.getfixturevalue("sf0001_fixture")
    files = spark.read.parquet(f"{fix}/source_table/data")
    edges = extract_edges(files).select("src", "dst").persist()
    verts = vertices_from_files(files).persist()
    yield edges, verts
    edges.unpersist()
    verts.unpersist()


# Runs in a fresh JVM: the compilation counter is JVM-wide, so in the
# shared test session any other query would count too.
_WARM_CALLS = r"""
import csv, json, sys
import pandas as pd
from pagerank_project_spark.config import PageRankConfig
from pagerank_project_spark.operators.components import connected_components
from pagerank_project_spark.operators.extract import extract_edges, vertices_from_files
from pagerank_project_spark.operators.labelprop import label_propagation
from pagerank_project_spark.operators.pagerank import pagerank
from pagerank_project_spark.plans.checkpoint import CheckpointStore
from pagerank_project_spark.session import get_spark

small_csv, fix, store_root = sys.argv[1:4]
spark = get_spark(app_name="warm_calls", cores=2, shuffle_partitions=4)
metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
compiled = lambda: metrics.METRIC_COMPILATION_TIME().getCount()
with open(small_csv, newline="") as f:
    rows = [(r["source"], r["target"]) for r in csv.DictReader(f)]
files = spark.read.parquet(f"{fix}/source_table/data")
graphs = {
    "f1": (spark.createDataFrame(pd.DataFrame(rows, columns=["src", "dst"])), None),
    "sf0.001": (extract_edges(files).select("src", "dst"), vertices_from_files(files)),
}
out = {}
for g, (edges, verts) in graphs.items():
    edges = edges.persist()
    edges.count()
    if verts is not None:
        verts = verts.persist()
        verts.count()
    calls = {
        "pagerank": lambda i: pagerank(
            spark, edges, vertices=verts, cfg=PageRankConfig(max_iterations=3)
        ).ranks.collect(),
        "connected_components": lambda i: connected_components(
            spark, edges, vertices=verts
        ).labels.collect(),
        "label_propagation": lambda i: label_propagation(
            spark, edges, vertices=verts, iterations=4,
            checkpoint_store=CheckpointStore(store_root, f"{g}-{i}"),
        ).labels.collect(),
    }
    first = {name: sorted(map(tuple, call(0))) for name, call in calls.items()}
    for name, call in calls.items():
        before = compiled()
        second = sorted(map(tuple, call(1)))
        out[f"{g}/{name}"] = [compiled() - before, second == first[name]]
print(json.dumps(out))
"""


def test_second_call_compiles_nothing(small_csv, sf0001_fixture, tmp_path):
    """After one pass of PageRank, CC and LPA over a graph, each call of a
    second pass makes 0 codegen compilations (CodegenMetrics) and returns
    the same rows."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")]))
    env = dict(os.environ, PYTHONPATH=path, SPARK_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, "-c", _WARM_CALLS, small_csv, sf0001_fixture, str(tmp_path)],
        capture_output=True, text=True, env=env, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got == {k: [0, True] for k in got} and len(got) == 6, got


def _lpa(spark, edges, verts, store):
    return label_propagation(spark, edges, vertices=verts, iterations=LPA_ITERATIONS,
                             checkpoint_store=store).labels.collect()


def test_lpa_store_labels_are_the_final_snapshot(spark, graph, tmp_path):
    """The labels of a store-backed run equal a run without a store; the
    final snapshot holds one (vid, lbl) row per vertex; resuming the
    finished store runs no superstep and returns the same labels."""
    edges, verts = graph
    store = CheckpointStore(str(tmp_path), "lpa")
    with_store = set(map(tuple, _lpa(spark, edges, verts, store)))
    without = set(map(tuple, _lpa(spark, edges, verts, None)))
    assert with_store == without
    assert store.latest_iteration() == LPA_ITERATIONS
    snapshot = store.read_state(spark, LPA_ITERATIONS)
    assert snapshot.columns == ["vid", "lbl"]
    assert snapshot.count() == len(without)
    res = label_propagation(spark, edges, vertices=verts, iterations=LPA_ITERATIONS,
                            checkpoint_store=store)
    assert res.iterations == LPA_ITERATIONS and res.iter_secs == []
    assert set(map(tuple, res.labels.collect())) == without
