"""HITS (Kleinberg hubs & authorities) — fixed-k power iteration.

Companion link-analysis measure over the same directed edge substrate the
reference's PageRank runs on (reference pagerank.py:100-139 computes only
PageRank; a search stack derives both from one link graph — auth/hub are
the leading right/left singular directions of the adjacency matrix, i.e.
power iteration on AᵀA / AAᵀ with an L2 normalization per half-step).

Semantics (classic, deterministic):

    hub₀(u)  = 1                            ∀ u in the vertex universe
    auth'ₜ(v) = Σ_{(u,v)∈E} hubₜ₋₁(u)        then  authₜ = auth'ₜ / ‖auth'ₜ‖₂
    hub'ₜ(u)  = Σ_{(u,v)∈E} authₜ(v)         then  hubₜ  = hub'ₜ  / ‖hub'ₜ‖₂

over the DEDUPLICATED edge set (parallel extracted links count once —
matching the reference loader's dedup of the CSR build). Vertices with no
in-edges hold auth 0, no out-edges hub 0; both stay in the output.

Scale shape: each half-step is ONE map-side-combined shuffle (the gather
groupBy) over the persisted edge table, exactly the relational-superstep
shape of operators/pagerank.py:320-345 — the edge side is hash-partitioned
once and reused, only the |V|-sized score vector moves, and the score side
of the join is hint-forced to shuffle_hash so no superstep sorts hundreds
of millions of rows (round-2 lesson: the silently auto-broadcast rank
vector was the non-scaling term). The L2 norm is a 1-row agg over the
gathered (pre-join-back) rows — zero rows contribute nothing to an L2
norm, so the full-universe join-back happens lazily in the NEXT gather.
AQE is disabled inside the fixed-shape loop (and restored in finally) and
lineage is truncated per half-step, as in the other iterative operators.
Fixed-k keeps the op SQL-oracle-expressible (__spark_entry__._hits_k3_sql
unrolls the identical dataflow for DuckDB).
"""

from __future__ import annotations

import math

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from pagerank_project_spark.operators.vids import covered_ids
from pagerank_project_spark.session import engine_call


@dataclass
class HITSResult:
    scores: DataFrame  # (id: string, auth: double, hub: double)
    iterations: int


def _gather(e: DataFrame, scores: DataFrame, key: str, out: str) -> DataFrame:
    """Σ of neighbor scores grouped by ``out`` (the gather key): auth pulls
    hub over src→dst, hub pulls auth over dst→src. ONE shuffle — the
    map-side partial agg folds each task's contribution before the
    exchange; shuffle_hash on the score side keeps the join sort-free."""
    other = "dst" if key == "src" else "src"
    return (
        e.join(scores.hint("shuffle_hash").withColumnRenamed("id", key), key)
        .groupBy(F.col(other).alias("id"))
        .agg(F.sum("s").alias("x"))
    )


def _normalized(gathered: DataFrame) -> tuple[DataFrame, float]:
    """L2-normalize the gathered (sparse) score vector. The norm is exact
    over the sparse rows (absent vertices are 0 and add nothing); one
    1-row action per half-step, reading the localCheckpoint-materialized
    gather output."""
    row = gathered.agg(F.sum(F.col("x") * F.col("x")).alias("ss")).first()
    norm = math.sqrt(row["ss"] or 0.0) or 1.0
    return gathered.select("id", (F.col("x") / F.lit(norm)).alias("s")), norm


def hits(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    iterations: int = 3,
    validate_vertices: bool = True,
) -> HITSResult:
    if iterations < 1:
        raise ValueError("hits requires iterations >= 1")
    with engine_call(spark):
        # endpoints outside a vertex table would still feed the L2 norms
        # before the final left join drops them — the reported vectors
        # would not be unit over the output set (same guard as pagerank)
        verts = covered_ids(edges, vertices, validate_vertices).persist()
        e = edges.select("src", "dst").distinct().persist()
        e.count()  # materialize the loop-invariant edge cache once

        hub = verts.select("id", F.lit(1.0).alias("s"))
        auth = None
        for _ in range(iterations):
            araw = _gather(e, hub, "src", "dst").localCheckpoint(eager=True)
            auth, _ = _normalized(araw)
            hraw = _gather(e, auth, "dst", "src").localCheckpoint(eager=True)
            hub, _ = _normalized(hraw)

    scores = (
        verts.join(auth.withColumnRenamed("s", "auth"), "id", "left")
        .join(hub.withColumnRenamed("s", "hub"), "id", "left")
        .select(
            "id",
            F.coalesce(F.col("auth"), F.lit(0.0)).alias("auth"),
            F.coalesce(F.col("hub"), F.lit(0.0)).alias("hub"),
        )
    )
    e.unpersist()
    return HITSResult(scores=scores, iterations=iterations)
