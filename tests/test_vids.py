"""The vid layer (``operators/vids.py``) under the operators that hash:
the collision fallback of ``hash_encode`` under CC star and SCC, forced
through the ``vids.hashed_vids`` seam and checked against networkx on F1
and sf0.001, the endpoint guard of every operator that takes a vertex
table, and CC's salted hub join. Then the label loops' vid-space
checkpoints: the vertex-set key guard, and resume after a manifest commit
that fails."""

from __future__ import annotations

import re

import networkx as nx
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pagerank_project_spark.operators import components as cc_mod
from pagerank_project_spark.operators import scc as scc_mod
from pagerank_project_spark.operators import vids as vids_mod
from pagerank_project_spark.operators.components import connected_components
from pagerank_project_spark.operators.extract import extract_edges, vertices_from_files
from pagerank_project_spark.operators.hits import hits
from pagerank_project_spark.operators.kcore import kcore
from pagerank_project_spark.operators.labelprop import label_propagation
from pagerank_project_spark.operators.pagerank import pagerank
from pagerank_project_spark.operators.scc import strongly_connected_components
from pagerank_project_spark.plans.checkpoint import CheckpointStore


def _min_labels(comps) -> dict[str, str]:
    return {v: min(c) for c in comps for v in c}


def _oracle(op: str, rows, ids) -> dict[str, str]:
    g = nx.DiGraph() if op == "scc" else nx.Graph()
    g.add_nodes_from(ids)
    g.add_edges_from(rows)
    if op == "scc":
        return _min_labels(nx.strongly_connected_components(g))
    return _min_labels(nx.connected_components(g))


def _run(spark, op: str, edges, verts) -> dict[str, str]:
    if op == "scc":
        res = strongly_connected_components(spark, edges, vertices=verts)
        return {r["id"]: r["scc"] for r in res.labels.collect()}
    res = connected_components(spark, edges, vertices=verts)
    return {r["id"]: r["component"] for r in res.labels.collect()}


def _collide(monkeypatch) -> list[int]:
    """Every id hashes to the same vid, so each hash encode must fall back;
    returns a list that records each call of the fallback,
    ``vids.string_sorted_vids``."""
    monkeypatch.setattr(
        vids_mod, "hashed_vids", lambda verts, id_col="id": verts.withColumn("vid", F.lit(7).cast("long"))
    )
    calls: list[int] = []
    real = vids_mod.string_sorted_vids

    def spy(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(vids_mod, "string_sorted_vids", spy)
    return calls


@pytest.fixture(scope="module")
def f1_graph(spark, small_rows):
    """F1 edges; the universe is derived from the edges."""
    ids = sorted({x for r in small_rows for x in r})
    return spark.createDataFrame(pd.DataFrame(small_rows, columns=["src", "dst"])), None, small_rows, ids


@pytest.fixture(scope="module")
def sf0001_graph(spark, sf0001_fixture):
    """Extracted sf0.001 edges with the file universe (isolated files included)."""
    files = spark.read.parquet(f"{sf0001_fixture}/source_table/data")
    edges = extract_edges(files).select("src", "dst").persist()
    verts = vertices_from_files(files).persist()
    rows = [(r["src"], r["dst"]) for r in edges.collect()]
    ids = sorted({r["id"] for r in verts.collect()})
    yield edges, verts, rows, ids
    edges.unpersist()
    verts.unpersist()


@pytest.mark.parametrize("graph", ["f1_graph", "sf0001_graph"])
@pytest.mark.parametrize("op", ["cc", "scc"])
def test_forced_collision_matches_networkx(spark, request, monkeypatch, op, graph):
    """A vid collision makes ``hash_encode`` return string-sorted vids for
    CC star and SCC; labels stay networkx's."""
    edges, verts, rows, ids = request.getfixturevalue(graph)
    fallbacks = _collide(monkeypatch)
    assert _run(spark, op, edges, verts) == _oracle(op, rows, ids)
    assert len(fallbacks) == 1


@pytest.mark.parametrize("op", ["cc", "scc"])
def test_forced_collision_missing_endpoint_raises(spark, monkeypatch, op):
    """Under a collision, a vertex table that lacks an endpoint still
    raises the shared endpoint-guard message."""
    _collide(monkeypatch)
    edges = spark.createDataFrame([("a", "b"), ("b", "a"), ("b", "c")], "src string, dst string")
    verts = spark.createDataFrame([("a",), ("b",)], "id string")  # missing c
    msg = re.escape(str(vids_mod.endpoints_missing_error(1)))
    with pytest.raises(ValueError, match=msg):
        _run(spark, op, edges, verts)


# each entry runs one operator over a vertex table; the guard must raise
# inside the call, before the caller touches its output
GUARDED = {
    "pagerank": lambda s, e, v: pagerank(s, e, vertices=v),
    "cc_star": lambda s, e, v: connected_components(s, e, vertices=v),
    "cc_propagation": lambda s, e, v: connected_components(s, e, vertices=v, algorithm="propagation"),
    "label_propagation": lambda s, e, v: label_propagation(s, e, vertices=v, iterations=2),
    "scc": lambda s, e, v: strongly_connected_components(s, e, vertices=v),
    "hits": lambda s, e, v: hits(s, e, vertices=v),
    "kcore": lambda s, e, v: kcore(s, e, vertices=v),
}


@pytest.mark.parametrize("name", sorted(GUARDED))
def test_missing_endpoint_raises_in_call(spark, name):
    """Every operator that takes a vertex table raises the one endpoint
    guard error, with the missing count, inside the call."""
    edges = spark.createDataFrame([("a", "b"), ("b", "a"), ("b", "c")], "src string, dst string")
    verts = spark.createDataFrame([("a",), ("b",)], "id string")  # missing c
    msg = re.escape(str(vids_mod.endpoints_missing_error(1)))
    with pytest.raises(ValueError, match=f"^{msg}$"):
        GUARDED[name](spark, edges, verts)


def test_salted_hub_join_matches_networkx(spark, monkeypatch, small_rows):
    """With no hub broadcast budget every skew-safe star op joins its hub
    minimums through the salted (center, salt) join; labels stay
    networkx's."""
    monkeypatch.setattr(cc_mod, "HUB_BROADCAST_LIMIT", 0)
    salted = []
    real = cc_mod._join_mins

    def spy(rows, mins, hub_threshold, spark_, salted_flag):
        salted.append(salted_flag)
        return real(rows, mins, hub_threshold, spark_, salted_flag)

    monkeypatch.setattr(cc_mod, "_join_mins", spy)
    edges = spark.createDataFrame(pd.DataFrame(small_rows, columns=["src", "dst"]))
    res = connected_components(spark, edges, driver_finish_edges=0, skew_threshold=1)
    got = {r["id"]: r["component"] for r in res.labels.collect()}
    assert res.converged
    assert salted and all(salted)
    assert got == _oracle("cc", small_rows, {x for r in small_rows for x in r})


# --------------------------------------------------------------------------
# vid-space checkpoints
# --------------------------------------------------------------------------

# each label loop, run to superstep k (None: to its end) with a store
LOOPS = {
    "lpa": lambda s, e, v, store, k: label_propagation(
        s, e, vertices=v, iterations=k or 4, checkpoint_store=store
    ),
    "cc_propagation": lambda s, e, v, store, k: connected_components(
        s, e, vertices=v, algorithm="propagation", max_iterations=k or 200, checkpoint_store=store
    ),
    # driver_finish_edges=0: every round is distributed and writes its state
    "cc_star": lambda s, e, v, store, k: connected_components(
        s, e, vertices=v, driver_finish_edges=0, max_iterations=k or 200, checkpoint_store=store
    ),
}


def _labels(res) -> dict[str, str]:
    return {r[0]: r[1] for r in res.labels.collect()}


def _renamed(spark, rows):
    """F1 with one id renamed: the same n, another vertex set."""
    old = sorted({x for r in rows for x in r})[0]
    new = [tuple("renamed" if x == old else x for x in r) for r in rows]
    return spark.createDataFrame(pd.DataFrame(new, columns=["src", "dst"]))


@pytest.mark.parametrize("loop", sorted(LOOPS))
def test_resume_over_another_vertex_set_raises(spark, f1_graph, tmp_path, loop):
    """A store written for F1 refuses a resume over F1 with one id renamed:
    the vids would name other vertices."""
    edges, _, rows, _ = f1_graph
    store = CheckpointStore(str(tmp_path), loop)
    LOOPS[loop](spark, edges, None, store, 2)
    assert store.latest_iteration() == 2
    with pytest.raises(ValueError, match=r"holds state for vertex-set key .* = \[6, \d+\]"):
        LOOPS[loop](spark, _renamed(spark, rows), None, store, None)


@pytest.mark.parametrize("loop", sorted(LOOPS))
def test_resume_from_keyless_store_raises(spark, f1_graph, tmp_path, loop):
    """A store whose manifest has no vertex-set key (the older string-id
    format) refuses to resume."""
    edges, _, _, _ = f1_graph
    store = CheckpointStore(str(tmp_path), loop)
    LOOPS[loop](spark, edges, None, store, 2)
    manifest = store._read_manifest()
    for entry in manifest["iterations"].values():
        del entry["metrics"]["vid_key"]
    store._commit_manifest(manifest)
    with pytest.raises(ValueError, match=r"= None \(None: the older string-id format\)"):
        LOOPS[loop](spark, edges, None, store, None)


@pytest.mark.parametrize("graph", ["f1_graph", "sf0001_graph"])
@pytest.mark.parametrize("loop", sorted(LOOPS))
def test_resume_after_failed_manifest_commit(spark, request, monkeypatch, tmp_path, loop, graph):
    """The third write's parquet lands but its manifest commit fails (its
    superstep is 3, or 4 when CC star's driver finish follows a peel): the
    rerun resumes from superstep 2 and equals the uninterrupted run, and
    so does a third call over the finished store."""
    edges, verts, _, _ = request.getfixturevalue(graph)
    want = _labels(LOOPS[loop](spark, edges, verts, None, None))
    commits: list[int] = []
    real = CheckpointStore._commit_manifest

    def flaky(self, manifest):
        commits.append(max(int(k) for k in manifest["iterations"]))
        if len(commits) == 3:
            raise OSError("injected: manifest commit failed")
        real(self, manifest)

    monkeypatch.setattr(CheckpointStore, "_commit_manifest", flaky)
    store = CheckpointStore(str(tmp_path), loop)
    with pytest.raises(OSError, match="injected"):
        LOOPS[loop](spark, edges, verts, store, None)
    assert commits[:2] == [1, 2] and commits[2] >= 3
    assert store.latest_iteration() == 2
    res = LOOPS[loop](spark, edges, verts, store, None)
    assert min(commits[3:]) > 2  # no superstep before 3 runs again
    assert _labels(res) == want
    assert _labels(LOOPS[loop](spark, edges, verts, store, None)) == want
