"""The benchmark's workloads.

Each workload computes its oracle answers before Spark starts
(``prepare``), makes one short warm-up pass over its engine calls
(``warm``), loads its tables in each set-up (``load``), then runs timed
rounds (``op``) whose outputs are checked after the timer stops. A round is
one pass over the workload's engine calls. Every engine call is wrapped in a
tracer span named ``layer.call``.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np

from pagerank_project_spark import datagen
from pagerank_project_spark.config import PageRankConfig
from pagerank_project_spark.operators.components import connected_components
from pagerank_project_spark.operators.extract import (
    assert_sha_invariant,
    extract_edges,
    vertices_from_files,
)
from pagerank_project_spark.operators.labelprop import label_propagation
from pagerank_project_spark.operators.pagerank import pagerank
from pagerank_project_spark.plans.checkpoint import CheckpointStore
from pagerank_project_spark.sources.repo_table import read_source_table

import oracles

# 1,000 files, ~4,100 edges. Spark's fixed cost per job dominates at this
# size: on 4 cores a PageRank superstep took 0.42 s here and 0.56 s on the
# sf0.01 graph, ten times larger.
SOLVE_SF = 0.001
COMMUNITIES_SF = 0.001
RANK_TOL = 1e-6
# A solve runs a fixed number of supersteps: converging to L1 delta < 1e-6
# takes ~42 of them (20-50 s on a 4-core box), more than one run of the
# benchmark can spend. The ranks are checked against the oracle after the
# same count.
SOLVE_SUPERSTEPS = 6
LPA_ITERATIONS = 4


def ensure_fixture(work: str, sf: float, seed: int) -> str:
    """Generated fixture cached under the benchmark's work dir by (sf, seed)."""
    out = os.path.join(work, "fixtures", f"sf{sf:g}-seed{seed}")
    if not os.path.exists(os.path.join(out, "source_table", "_manifest.json")):
        shutil.rmtree(out, ignore_errors=True)
        tmp = out + ".partial"
        shutil.rmtree(tmp, ignore_errors=True)
        datagen.write_fixture(datagen.generate(sf, seed), tmp)
        os.replace(tmp, out)
    return out


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def p90(xs):
    if not xs:
        return float("nan")
    s = sorted(xs)
    return s[min(len(s) - 1, int(round(0.9 * (len(s) - 1))))]


class TracedStore(CheckpointStore):
    """CheckpointStore whose writes are timed (and traced)."""

    def __init__(self, root: str, run_id: str, tracer):
        super().__init__(root, run_id)
        self.tracer = tracer
        self.write_secs: list[float] = []

    def write_iteration(self, state, iteration, metrics):
        t0 = time.perf_counter()
        with self.tracer.span("checkpoint.write_iteration", iteration=iteration):
            super().write_iteration(state, iteration, metrics)
        self.write_secs.append(time.perf_counter() - t0)

    def bytes_per_superstep(self) -> float:
        its = self._read_manifest()["iterations"].values()
        return median([sum(p["bytes"] for p in it["partitions"]) for it in its])


class Workload:
    name = ""
    sf = 0.0
    checks: tuple[str, ...] = ()  # output checks one round makes
    edge_check: tuple[bool, int] | None = None  # (correct, edges) of the last extraction

    def __init__(self, ctx):
        self.ctx = ctx
        self.tr = ctx.tracer
        self.fix = ensure_fixture(ctx.work, self.sf, ctx.seed)
        self.graph = oracles.Graph(*oracles.load_fixture(self.fix))


# ---------------------------------------------------------------------------


class Solve(Workload):
    """The directed workload. A round is one solve: repo table → extract →
    SOLVE_SUPERSTEPS supersteps of standard-mode PageRank → ranks
    materialized."""

    name = "solve"
    sf = SOLVE_SF
    checks = ("solve",)
    cfg = PageRankConfig(mode="standard", convergence="l1_delta", epsilon=1e-6,
                         max_iterations=SOLVE_SUPERSTEPS)

    def prepare(self):
        g = self.graph
        self.want = g.pagerank(np.ones(g.n), norm_x="l1", norm_v="l1", stop="l1_delta",
                               max_iterations=SOLVE_SUPERSTEPS)

    def load_edges(self, spark):
        """Table → persisted, materialized (edges, vertices); records the
        extraction time and the sha-check time."""
        with self.tr.span("sources.read_source_table"):
            files = read_source_table(spark, self.fix, verify_rows=True)
        t0 = time.perf_counter()
        with self.tr.span("extract.assert_sha_invariant"):
            assert_sha_invariant(files)
        t_sha = time.perf_counter()
        with self.tr.span("extract.extract_edges"):
            edges = extract_edges(files, verify_sha=False).persist()
            verts = vertices_from_files(files).persist()
        with self.tr.span("extract.materialize"):
            edges.count()
            verts.count()
        self.extract_s = time.perf_counter() - t0
        self.sha_check_s = t_sha - t0
        return edges, verts

    def check_edges(self, edges) -> None:
        """Extracted edge multiset == the fixture's intended edges."""
        got = edges.select("src", "dst", "kind").toPandas()
        want = self.graph.edges[["src", "dst", "kind"]]
        ok = sorted(map(tuple, got.to_numpy().tolist())) == sorted(map(tuple, want.to_numpy().tolist()))
        self.edge_check = (ok, len(got))

    def warm(self, spark):
        edges, verts = self.load_edges(spark)
        cfg = PageRankConfig(mode="standard", convergence="l1_delta", max_iterations=2)
        pagerank(spark, edges, vertices=verts, cfg=cfg).ranks.toPandas()
        edges.unpersist()
        verts.unpersist()

    def load(self, spark):
        with self.tr.span("sources.read_source_table"):
            read_source_table(spark, self.fix, verify_rows=True)

    def op(self, spark, i):
        tr, cpu = self.tr, self.ctx.cpu
        t0, c0 = time.perf_counter(), cpu()
        with tr.span("bench.round", round=i):
            edges, verts = self.load_edges(spark)
            with tr.span("pagerank.pagerank"):
                res = pagerank(spark, edges, vertices=verts, cfg=self.cfg)
            t_dec = time.perf_counter()
            with tr.span("pagerank.decode"):
                ranks = res.ranks.toPandas()
            t1, c1 = time.perf_counter(), cpu()
        self.check_edges(edges)
        edges.unpersist()
        verts.unpersist()
        got = np.full(self.graph.n, np.nan)
        idx = ranks["id"].map(self.graph.index)
        ok = len(ranks) == self.graph.n and not idx.isna().any()
        if ok:
            got[idx.to_numpy(np.int64)] = ranks["rank"].to_numpy()
            ok = bool(np.nanmax(np.abs(got - self.want)) <= RANK_TOL)
        return {
            "secs": t1 - t0,
            "cpu_s": c1 - c0,
            "parts": {"solve_s": [t1 - t0]},
            "checks": [("solve", ok)],
            "edges": res.n_edges,
            "steady": res.iter_secs[2:],
            "supersteps": res.iterations,
            "build_s": res.setup_sec,
            "extract_s": self.extract_s,
            "sha_check_s": self.sha_check_s,
            "decode_s": t1 - t_dec,
        }


class Communities(Workload):
    """The undirected workload: CC (star) and LPA-4 writing a checkpoint
    every superstep, over the fixture's persisted edge table (extraction is
    measured by ``solve``). No PageRank code runs here."""

    name = "communities"
    sf = COMMUNITIES_SF
    checks = ("cc", "lpa")

    def prepare(self):
        g = self.graph
        und = g.undirected()
        self.want_cc = oracles.component_roots(g, und)
        self.want_lpa = oracles.lpa_labels(self.fix, LPA_ITERATIONS)
        self.sym_edges = 2 * und.number_of_edges()

    def load(self, spark):
        with self.tr.span("sources.read_source_table"):
            files = read_source_table(spark, self.fix, verify_rows=True)
        with self.tr.span("sources.read_edge_table"):
            self.edges = spark.read.parquet(os.path.join(self.fix, "intended_edges")).persist()
            self.verts = vertices_from_files(files).persist()
            self.edges.count()
            self.verts.count()

    def warm(self, spark):
        self.load(spark)
        connected_components(spark, self.edges, vertices=self.verts).labels.toPandas()
        store = CheckpointStore(os.path.join(self.ctx.run_dir, "ckpt"), "warm")
        label_propagation(spark, self.edges, vertices=self.verts, iterations=1,
                          checkpoint_store=store).labels.toPandas()
        self.edges.unpersist()
        self.verts.unpersist()

    def op(self, spark, i):
        tr, cpu = self.tr, self.ctx.cpu
        e, v = self.edges, self.verts
        store = TracedStore(os.path.join(self.ctx.run_dir, "ckpt"), f"lpa-{i}", tr)
        t0, c0 = time.perf_counter(), cpu()
        with tr.span("bench.round", round=i):
            with tr.span("components.connected_components"):
                cc = connected_components(spark, e, vertices=v)
            with tr.span("components.labels"):
                cc_df = cc.labels.toPandas()
            t_lpa = time.perf_counter()
            with tr.span("labelprop.label_propagation"):
                res = label_propagation(spark, e, vertices=v, iterations=LPA_ITERATIONS,
                                        checkpoint_store=store)
            with tr.span("labelprop.labels"):
                lpa_df = res.labels.toPandas()
            t1, c1 = time.perf_counter(), cpu()
        ok_cc = oracles.partition_roots(cc_df, "id", "component") == self.want_cc
        ok_lpa = dict(zip(lpa_df["id"], lpa_df["label"])) == self.want_lpa
        phases = res.phase_secs or {}
        return {
            "secs": t1 - t0,
            "cpu_s": c1 - c0,
            "parts": {"cc_s": [t_lpa - t0], "lpa_s": [t1 - t_lpa]},
            "checks": [("cc", ok_cc), ("lpa", ok_lpa)],
            "edges": self.sym_edges,
            "steady": res.iter_secs,
            "lpa_supersteps": len(res.iter_secs),
            "lpa_build_s": sum(phases.get(k, 0.0) for k in ("validate", "encode", "cache_fill")),
            "cc_rounds": cc.iterations,
            "cc_setup_s": sum((cc.phase_secs or {}).values()),
            "cc_rounds_s": sum(cc.iter_secs or []),
            "lpa_encode_s": phases.get("encode", 0.0),
            "lpa_cache_fill_s": phases.get("cache_fill", 0.0),
            "ckpt_written": len(store.write_secs),
            "ckpt_bytes": store.bytes_per_superstep(),
            "ckpt_write_secs": store.write_secs,
        }


WORKLOADS = {w.name: w for w in (Solve, Communities)}
