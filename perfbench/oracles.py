"""Reference answers the engine's outputs are checked against.

Everything here runs without Spark, once per seed, before the session
starts, so neither the timed operations nor ``setup_s`` include it.

- PageRank: numpy power iteration over the fixture's intended edges, with
  the semantics of the engine's test oracle (x0 = 1/sqrt(n), 1/outdeg
  weights with parallel edges adding up, dangling mass re-spread through v)
  and the engine's stop rule for the chosen mode.
- Connected components: networkx.
- LPA-4 labels: the DuckDB oracle in ``__spark_entry__`` over the fixture.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pandas as pd


def load_fixture(fix: str) -> tuple[list[str], pd.DataFrame]:
    """→ (vertex ids in table order, intended edges (src, dst, kind))."""
    files = pd.read_parquet(os.path.join(fix, "source_table", "data"), columns=["repo", "path"])
    ids = (files["repo"] + ":" + files["path"].str.replace(r"\.[a-z]+$", "", regex=True)).tolist()
    edges = pd.read_parquet(os.path.join(fix, "intended_edges"))
    return ids, edges


class Graph:
    """Integer-indexed view of the fixture's link graph."""

    def __init__(self, ids: list[str], edges: pd.DataFrame):
        self.ids = ids
        self.index = {v: i for i, v in enumerate(ids)}
        self.src = edges["src"].map(self.index).to_numpy(np.int64)
        self.dst = edges["dst"].map(self.index).to_numpy(np.int64)
        self.n = len(ids)
        self.edges = edges

    def pagerank(self, v_raw: np.ndarray, norm_x: str, norm_v: str, stop: str,
                 alpha: float = 0.85, epsilon: float = 1e-6, max_iterations: int = 1000) -> np.ndarray:
        n = self.n
        outdeg = np.bincount(self.src, minlength=n).astype(np.float64)
        w = 1.0 / outdeg[self.src]
        dang = (outdeg == 0).astype(np.float64)
        v = v_raw / v_raw.sum()
        if norm_v == "l2":
            v = v / np.linalg.norm(v)
        x = np.full(n, 1.0 / math.sqrt(n))
        for _ in range(max_iterations):
            d = float(x @ dang)
            nx_ = alpha * np.bincount(self.dst, weights=w * x[self.src], minlength=n)
            nx_ += (alpha * d + 1.0 - alpha) * v
            nx_ /= np.abs(nx_).sum() if norm_x == "l1" else np.linalg.norm(nx_)
            diff = nx_ - x
            crit = np.abs(diff).sum() if stop == "l1_delta" else np.linalg.norm(diff)
            x = nx_
            if crit < epsilon:
                break
        return x

    def undirected(self):
        import networkx as nx

        g = nx.Graph()
        g.add_nodes_from(range(self.n))
        g.add_edges_from((int(a), int(b)) for a, b in zip(self.src, self.dst) if a != b)
        return g


# -- undirected oracles ---------------------------------------------------------

def component_roots(g: Graph, nx_graph) -> dict[str, str]:
    """id → smallest id of its connected component (canonical partition)."""
    import networkx as nx

    roots: dict[str, str] = {}
    for comp in nx.connected_components(nx_graph):
        members = [g.ids[i] for i in comp]
        r = min(members)
        for m in members:
            roots[m] = r
    return roots


def lpa_labels(fix: str, iterations: int) -> dict[str, str]:
    """Synchronous LPA labels from the DuckDB oracle in ``__spark_entry__``."""
    import duckdb

    from __spark_entry__ import _code_lpa_body

    con = duckdb.connect()
    try:
        rows = con.execute(
            _code_lpa_body(os.path.abspath(fix), iterations)
            + f"SELECT id, lbl FROM l{iterations}"
        ).fetchall()
    finally:
        con.close()
    return dict(rows)


def partition_roots(labels: pd.DataFrame, id_col: str, label_col: str) -> dict[str, str]:
    """Engine labels → id → smallest id sharing its label."""
    root = labels.groupby(label_col)[id_col].transform("min")
    return dict(zip(labels[id_col], root))
