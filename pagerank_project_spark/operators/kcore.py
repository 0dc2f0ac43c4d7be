"""k-core decomposition — h-index fixpoint (Lü et al., "The H-index of a
network node and its relation to degree and coreness", Nat. Comm. 2016).

Coreness of v = the largest k such that v belongs to a subgraph where
every vertex has degree ≥ k. The distributed formulation avoids the
inherently sequential minimum-degree peeling: initialize c₀(v) = deg(v)
and iterate

    cₜ₊₁(v) = H({cₜ(u) : u ∈ N(v)})

where H is the h-index (the largest k with ≥ k neighbors of value ≥ k).
The sequence is non-increasing and its fixpoint is exactly the coreness
(pinned vs networkx.core_number in tests); fixed-t intermediate values
are also well-defined, which keeps the op SQL-oracle-expressible
(__spark_entry__ `kcore_iter4` unrolls the identical integer dataflow —
all-integer arithmetic, so the oracle match is exact, not rounded).

SKEW-SAFE H computation — the part a naive window would get wrong: a
per-vertex h-index needs the neighbor value MULTISET, and buffering it
per task reintroduces the curse of the last reducer on hubs (the same
trap the star-CC window path hit in round 2). Instead H is computed from
the per-(vertex, value) HISTOGRAM:

    H = max over distinct neighbor values x of min(x, #{u ∈ N(v): c(u) ≥ x})

(identity: #{c ≥ x} is non-increasing in x, and the optimum is attained
at a distinct value). The histogram groupBy (v, value) is map-side
combined — a 10⁷-degree hub emits at most one partial row per task per
distinct value — and the per-v cumulative window then runs over ≤
#distinct-core-values rows (bounded by the graph's degeneracy, orders of
magnitude below a hub's degree). Three exchanges per iteration (gather
join on dst, histogram on (v, value), cumsum re-key on v); the gather
join is shuffle_hash-hinted so nothing sorts. AQE off inside the loop,
lineage truncated per iteration, convergence = zero changed values.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from pagerank_project_spark.operators.components import undirected_edges
from pagerank_project_spark.operators.vids import covered_ids
from pagerank_project_spark.session import engine_call


@dataclass
class KCoreResult:
    cores: DataFrame  # (id: string, core: long) — isolated vertices hold 0
    iterations: int
    converged: bool


def _h_step(und: DataFrame, c: DataFrame) -> DataFrame:
    """One h-index superstep: cₜ₊₁(v) = H of v's neighbor values."""
    j = und.join(
        c.withColumnRenamed("id", "dst").hint("shuffle_hash"), "dst"
    ).select(F.col("src").alias("v"), F.col("core").alias("cu"))
    g = j.groupBy("v", "cu").agg(F.count("*").alias("n"))
    w = Window.partitionBy("v").orderBy(F.desc("cu"))
    return (
        g.withColumn("ge", F.sum("n").over(w))
        .groupBy("v")
        .agg(F.max(F.least(F.col("cu"), F.col("ge"))).alias("core"))
        .withColumnRenamed("v", "id")
    )


def kcore(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_iterations: int = 100,
    validate_vertices: bool = True,
) -> KCoreResult:
    with engine_call(spark):
        # an endpoint outside a vertex table still inflates its neighbors'
        # h-indices before the final left join drops it — silently wrong
        # coreness (same guard as pagerank/hits)
        verts = covered_ids(edges, vertices, validate_vertices)
        nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
        # pre-partition the loop-invariant symmetric edge cache on the gather
        # key: every iteration's join then reads the cache partitioning
        # directly — zero edge-side Exchange inside the loop (docs/PLANS.md §5)
        und = undirected_edges(edges).repartition(nparts, "dst").persist()
        und.count()

        converged = False
        it = 0
        c = (
            und.groupBy(F.col("src").alias("id"))
            .agg(F.count("*").alias("core"))
            .localCheckpoint(eager=True)
        )
        for it in range(1, max_iterations + 1):
            # ONE job per superstep (pagerank._iterate discipline): carry the
            # previous value through a shuffle_hash join (key sets are equal —
            # both are exactly the non-isolated vertices), lazily checkpoint,
            # and let the changed-count agg be the single materializing action.
            new_c = (
                _h_step(und, c)
                .join(c.withColumnRenamed("core", "old").hint("shuffle_hash"), "id")
                .localCheckpoint(eager=False)
            )
            changed = new_c.agg(
                F.sum((F.col("core") != F.col("old")).cast("long")).alias("ch")
            ).first()["ch"] or 0
            c = new_c.select("id", "core")
            if changed == 0:
                converged = True
                break

    cores = verts.join(c, "id", "left").select(
        "id", F.coalesce(F.col("core"), F.lit(0)).alias("core")
    )
    und.unpersist()
    return KCoreResult(cores=cores, iterations=it, converged=converged)


def kcore_fixed(spark: SparkSession, edges: DataFrame, iterations: int) -> DataFrame:
    """Exactly ``iterations`` h-index supersteps (no convergence test) —
    the oracle-comparable fixed-k twin, mirroring `kcore`'s dataflow."""
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    with engine_call(spark):
        und = undirected_edges(edges).repartition(nparts, "dst").persist()
        und.count()
        c = (
            und.groupBy(F.col("src").alias("id"))
            .agg(F.count("*").alias("core"))
            .localCheckpoint(eager=True)
        )
        for _ in range(iterations):
            c = _h_step(und, c).localCheckpoint(eager=True)
    und.unpersist()
    return c
