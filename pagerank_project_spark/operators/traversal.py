"""Graph traversal: multi-source BFS distances and deterministic
random-walk corpus generation.

The reference engine ranks pages; a crawl/training pipeline additionally
needs (a) hop distances from a seed set (crawl depth, link-distance
features, "within k clicks of a trusted seed" filters) and (b) random
walks over the link graph (DeepWalk/node2vec-style sequence corpora for
embedding training).

Scale design (superstep discipline shared with pagerank/labelprop):
- the distinct edge set is hash-partitioned on ``src`` once and persisted;
  every superstep joins the |frontier|-row state against that cache with
  an explicit ``shuffle_hash`` hint — the cache streams, only the state
  shuffles, no per-superstep sort of the edge side;
- one action per superstep (the frontier/walk count doubles as the
  termination test), lazy localCheckpoint truncates lineage, and the
  whole call runs in ``session.engine_call`` (AQE off);
- BFS shuffles the SETTLED set only through the left_anti dedup join
  (build side hinted), so per-round cost is O(|frontier expansion| +
  |settled|) — the textbook frontier algorithm, not |V| full relaxation;
- walks are DETERMINISTIC: the next hop minimizes
  md5(walk_id | step | dst) with dst as tie-break — a pure function of
  the data, invariant to partitioning and retries, and expressible in
  ANSI SQL, so the whole corpus is DuckDB-oracle-checkable (a seeded RNG
  would be neither retry-safe nor cross-engine testable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from pagerank_project_spark.session import engine_call


def bfs_distances(
    spark: SparkSession,
    edges: DataFrame,
    seeds: DataFrame,
    max_iterations: int = 10,
    num_partitions: int | None = None,
) -> DataFrame:
    """Directed hop distance from ``seeds`` (a DataFrame with an ``id``
    column) to every vertex reachable within ``max_iterations`` hops.

    → (id, dist) — vertices not reached within the cap are absent; seed
    ids not present in the graph are reported at dist 0 (the caller owns
    seed validity; distances to them are still correct).
    """
    nparts = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    with engine_call(spark):
        ed = (
            edges.select("src", "dst")
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            .repartition(nparts, "src")
            .persist()
        )
        ed.count()
        settled = seeds.select("id").distinct().withColumn("dist", F.lit(0))
        settled = settled.repartition(nparts, "id").localCheckpoint(eager=False)
        frontier = settled
        for k in range(1, max_iterations + 1):
            nxt = (
                ed.join(
                    frontier.select(F.col("id").alias("src")).hint("shuffle_hash"), "src"
                )
                .select(F.col("dst").alias("id"))
                .distinct()
            )
            frontier = (
                nxt.join(settled.select("id").hint("shuffle_hash"), "id", "left_anti")
                .withColumn("dist", F.lit(k))
                .localCheckpoint(eager=False)
            )
            if frontier.count() == 0:
                break
            settled = settled.unionByName(frontier).localCheckpoint(eager=False)
    ed.unpersist()
    return settled


def random_walks(
    spark: SparkSession,
    edges: DataFrame,
    starts: DataFrame,
    steps: int = 5,
    num_walks: int = 1,
    num_partitions: int | None = None,
) -> DataFrame:
    """``num_walks`` deterministic walks per start vertex, ``steps`` hops
    long each (or shorter where a walk reaches a sink). ``starts``: a
    DataFrame with an ``id`` column; the walk_id is the start id, or
    ``id#i`` for i in 0..num_walks-1 when num_walks > 1 (DeepWalk-style
    corpora run tens of walks per vertex — the walk index rides the
    walk_id, so each replica takes an independent md5 stream at zero
    extra state).

    Next hop from u at step t for walk w: the out-neighbor v of u
    minimizing (md5(w || '|' || t || '|' || v), v). md5 is uniform enough
    that this samples neighbors near-uniformly and independently across
    (walk, step), while staying a pure function of the data — retries,
    partitioning and engine cannot change the corpus.

    The per-walk argmin is min(struct(rk, dst)) — a map-side-combinable
    aggregate whose input is Σ outdeg(current vertex) rows per step; a
    walk landing on a 10⁷-degree hub costs that hub's adjacency once,
    the same bound as one PageRank gather of the hub.

    → (walk_id, step, id): step 0 is the start vertex.
    """
    nparts = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    with engine_call(spark):
        ed = (
            edges.select("src", "dst")
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            .repartition(nparts, "src")
            .persist()
        )
        ed.count()
        base = starts.select("id").distinct()
        if num_walks > 1:
            base = base.select(
                "id", F.explode(F.sequence(F.lit(0), F.lit(num_walks - 1))).alias("_i")
            ).select(
                F.concat_ws("#", F.col("id"), F.col("_i")).alias("walk_id"),
                F.col("id").alias("cur"),
            )
        else:
            base = base.select(F.col("id").alias("walk_id"), F.col("id").alias("cur"))
        cur = base.repartition(nparts, "walk_id").localCheckpoint(eager=False)
        snapshots = [cur.select("walk_id", F.lit(0).alias("step"), F.col("cur").alias("id"))]
        for t in range(1, steps + 1):
            cand = ed.join(
                cur.select("walk_id", F.col("cur").alias("src")).hint("shuffle_hash"), "src"
            ).select(
                "walk_id",
                "dst",
                F.md5(
                    F.concat_ws("|", F.col("walk_id"), F.lit(str(t)), F.col("dst"))
                ).alias("rk"),
            )
            cur = (
                cand.groupBy("walk_id")
                .agg(F.min(F.struct("rk", "dst")).alias("_w"))
                .select("walk_id", F.col("_w.dst").alias("cur"))
                .localCheckpoint(eager=False)
            )
            if cur.count() == 0:  # every surviving walk hit a sink
                break
            snapshots.append(
                cur.select("walk_id", F.lit(t).alias("step"), F.col("cur").alias("id"))
            )
    out = snapshots[0]
    for s in snapshots[1:]:
        out = out.unionByName(s)
    ed.unpersist()
    return out


def bowtie_membership(
    spark: SparkSession,
    edges: DataFrame,
    seeds: DataFrame,
    vertices: DataFrame | None = None,
    max_iterations: int = 10,
    num_partitions: int | None = None,
) -> DataFrame:
    """Broder-et-al. bowtie decomposition relative to a seed set: classify
    every vertex by directed reachability to/from ``seeds`` within
    ``max_iterations`` hops.

    → (id, region) with region in {'core', 'in', 'out', 'disc'}:
    core = reachable FROM a seed AND reaches a seed (the seeds' strongly
    connected neighborhood), in = reaches a seed only (upstream tendril),
    out = reached from a seed only (downstream), disc = neither within
    the hop cap. The classic web-graph bowtie ("Graph structure in the
    web") takes seeds inside the giant SCC; any audited seed set works —
    the same classification drives "within k clicks of a trusted page"
    crawl filters.

    Two frontier BFS passes (forward, and over the transposed edge list)
    plus two vertex-sized left joins — edge-bound like two short
    PageRank runs, never all-pairs. ``vertices`` defaults to the edge
    endpoints; pass the full vertex table to classify isolated vertices
    (they report 'disc', or 'core' if seeded — a seed trivially reaches
    itself both ways at distance 0).
    """
    fwd = bfs_distances(spark, edges, seeds, max_iterations, num_partitions)
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    bwd = bfs_distances(spark, rev, seeds, max_iterations, num_partitions)
    if vertices is None:
        vertices = (
            edges.select(F.col("src").alias("id"))
            .unionByName(edges.select(F.col("dst").alias("id")))
            .unionByName(seeds.select("id"))
            .distinct()
        )
    return (
        vertices.select("id")
        .join(fwd.select("id", F.lit(True).alias("_f")).hint("shuffle_hash"), "id", "left")
        .join(bwd.select("id", F.lit(True).alias("_b")).hint("shuffle_hash"), "id", "left")
        .select(
            "id",
            F.when(F.col("_f") & F.col("_b"), "core")
            .when(F.col("_b"), "in")
            .when(F.col("_f"), "out")
            .otherwise("disc")
            .alias("region"),
        )
    )


def quotient_graph(edges: DataFrame, key_expr: str) -> DataFrame:
    """Collapse a vertex-level edge list to its quotient (group-level)
    graph: vertices map through ``key_expr`` — a SQL expression with the
    vertex column spelled ``{v}`` (e.g. a host or module extractor like
    ``"regexp_replace({v}, '/[^/]+$', '')"``) — and parallel edges
    aggregate to a weight. Intra-group edges are dropped.

    Web/host graphs, module dependency graphs and domain-level PageRank
    all start here; the collapse is a single map-side expression plus one
    map-side-combined aggregation — no joins, no dictionary.

    → (src_group, dst_group, weight) with weight = # vertex-level edges.
    """
    sg = F.expr(key_expr.format(v="src"))
    dg = F.expr(key_expr.format(v="dst"))
    return (
        edges.select(sg.alias("src_group"), dg.alias("dst_group"))
        .filter(F.col("src_group") != F.col("dst_group"))
        .groupBy("src_group", "dst_group")
        .agg(F.count("*").alias("weight"))
    )
