"""Batched multi-seed personalized PageRank (random walk with restart).

The reference supports ONE personalization vector per run
(make_personalization_vector, pagerank.py:81-97): scoring pages "from the
point of view of" a single topic/seed. A production link-graph pipeline
wants thousands of such vectors at once — per-user RWR for
recommendations, per-topic authority for corpus weighting, per-repo
influence features for training data — and running pagerank() per seed
re-scans the edge table per seed. ``ppr_batch`` runs ALL seeds in one
superstep loop by keying the rank state on (seed, id).

Formulation (standard RWR): r⁰_s = e_s and

    rᵗ⁺¹_s = α·(Pᵀ rᵗ_s + dang(rᵗ_s)·e_s) + (1−α)·e_s

i.e. teleport AND dangling mass return to the seed, so each seed's vector
stays an exact probability distribution (asserted in tests). This is the
sparse-support formulation: state rows exist only where rank > 0, and
|support| ≤ |vertices reachable from s| — mass concentrates near the
seed, so a batch of S seeds costs far less than S dense vectors.

Scale shape (the pagerank.py superstep discipline, composite-keyed):
- the uniform-transition edge table (src, dst, w=1/outdeg) is built once,
  hash-partitioned on src, persisted; every superstep joins the state to
  it with an explicit ``shuffle_hash`` hint — the cache streams, only the
  (seed, id, rank) state shuffles;
- the gather is ONE union + ONE map-side-combined groupBy((seed, dst)):
  the α·Pᵀr contributions and the per-seed (α·dang + 1−α) seed-row terms
  enter the same aggregate, exactly like pagerank.py's scatter — no
  second shuffle, no per-seed driver loop;
- dangling mass per seed is a left-anti join of the state against the
  out-degree spine plus a groupBy(seed) — |seeds| output rows by
  construction (user-bounded, not graph-sized), rejoined on the seed
  spine before entering the scatter union;
- one lazy localCheckpoint per superstep truncates lineage; the whole
  call, seed spine and cone included, runs in ``session.engine_call``
  (AQE off).

Fixed-iteration mode only: PPR is consumed as a feature/candidate
generator where a fixed k (walk length) is the contract; fixed k also
makes the whole operator unrollable in ANSI SQL, so the DuckDB oracle
checks the exact batch. Reference parity: with a single seed and the
analogous dangling rule, this is pagerank.py's personalized mode on a
sparse support.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from pagerank_project_spark.session import engine_call


def weighted_edges(edges: DataFrame) -> DataFrame:
    """w = 1/outdeg(src) per edge (pagerank.py:50-61): one map-side-combined
    groupBy on src joined back on src. PageRank folds the same normalizer
    into its vertex map (``pagerank.build_graph``)."""
    outdeg = edges.groupBy("src").agg(F.count("*").alias("_outdeg"))
    return (
        edges.join(outdeg, "src", "inner")
        .select("src", "dst", (F.lit(1.0) / F.col("_outdeg")).alias("w"))
    )


def ppr_batch(
    spark: SparkSession,
    edges: DataFrame,
    seeds: DataFrame,
    alpha: float = 0.85,
    iterations: int = 3,
    num_partitions: int | None = None,
    prune_below: float | None = None,
    cone: bool = True,
) -> DataFrame:
    """Personalized PageRank for every seed in one loop.

    ``seeds``: DataFrame with an ``id`` column (duplicates ignored).
    → (seed, id, rank): the support of each seed's PPR vector after
    ``iterations`` supersteps; Σ rank = 1 per seed exactly (up to fp).

    State rows ∝ Σ_s |support(s)|: on a well-connected graph the exact
    support reaches everything within ``iterations`` hops of a seed, so a
    huge seed batch on a small-diameter graph tends toward |seeds|·|V|
    rows. ``prune_below`` is the standard forward-push-style cap for that
    regime: entries whose rank drops under the threshold are dropped
    after each superstep (their downstream contribution is bounded by
    the dropped mass, so per-seed rank error ≤ iterations·prune_below·
    |support| in the worst case and far less in practice). None (the
    default, and the oracle contract) keeps the iteration exact —
    Σ rank = 1 holds only then.

    ``cone`` (default True) is the OPPOSITE regime's lever — few seeds
    on a huge graph: before building weights, the edge set is pruned to
    out-edges of the seeds' (iterations−1)-hop out-cone, which is
    exactly the set any superstep can read (support_t ⊆ cone_t), so the
    ranks are BITWISE identical (pinned by test and by the unchanged
    DuckDB oracle). Every out-edge of a cone member is kept, so outdeg
    normalization and the dangling test stay exact. Measured sf16
    (BENCH/BASELINE.md): without the cone a 2k-seed batch streams the
    full 65M-row cache per superstep — pure memory-bandwidth work with
    no scalable compute term (N→4N whole-run 0.52); the cone keeps ~3%
    of the edges at that seed density, replacing those streams with
    (iterations−1) cheap semi-join passes over the raw edge table plus
    supersteps over the pruned cache. Turn it off when the seed set
    covers most of the graph (the cone passes then buy nothing).
    """
    if prune_below is not None and prune_below < 0:
        raise ValueError(f"prune_below must be >= 0, got {prune_below}")
    if not 0 < alpha < 1:
        raise ValueError(f"alpha must be in (0,1), got {alpha}")
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    nparts = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    with engine_call(spark):
        ed = edges.select("src", "dst")
        # the seed spine is materialized FIRST and is the ONLY evaluation of
        # ``seeds``: the cone below derives from the persisted spine, so a
        # nondeterministic seeds plan (e.g. df.sample) cannot diverge between
        # the cone filter and the restart/dangling terms
        spine = seeds.select(F.col("id").alias("seed")).distinct().persist()
        spine.count()
        if cone:
            # (iterations-1)-hop out-cone of the seeds; keeping ALL out-edges
            # of cone members preserves outdeg and danglingness exactly.
            # Expansion joins only the NEW frontier each hop (already-visited
            # vertices re-derive nothing); the cumulative cone only feeds the
            # final semi filter.
            frontier = (
                spine.select(F.col("seed").alias("src"))
                .repartition(nparts, "src")
                .localCheckpoint(eager=False)
            )
            cone_v = frontier
            for _ in range(iterations - 1):
                nxt = (
                    ed.join(frontier.hint("shuffle_hash"), "src")
                    .select(F.col("dst").alias("src"))
                    .distinct()
                )
                frontier = nxt.join(
                    cone_v.hint("shuffle_hash"), "src", "left_anti"
                ).localCheckpoint(eager=False)
                if frontier.count() == 0:
                    break
                cone_v = (
                    cone_v.unionByName(frontier)
                    .repartition(nparts, "src")
                    .localCheckpoint(eager=False)
                )
            ed = ed.join(cone_v.hint("shuffle_hash"), "src", "semi")

        w = weighted_edges(ed).repartition(nparts, "src").persist()
        w.count()
        # danglingness spine off the cached w (one distinct, reused every
        # superstep — not a per-superstep groupBy over the raw edge table)
        out_src = w.select("src").distinct().persist()
        out_src.count()

        state = spine.select("seed", F.col("seed").alias("id"), F.lit(1.0).alias("rank"))
        state = state.repartition(nparts, "seed", "id").localCheckpoint(eager=False)

        for _ in range(iterations):
            contrib = (
                w.join(
                    state.select(F.col("id").alias("src"), "seed", "rank").hint("shuffle_hash"),
                    "src",
                )
                .select("seed", F.col("dst").alias("id"), (F.lit(alpha) * F.col("w") * F.col("rank")).alias("x"))
            )
            dang = (
                state.join(out_src.hint("shuffle_hash"), state["id"] == out_src["src"], "left_anti")
                .groupBy("seed")
                .agg(F.sum("rank").alias("dm"))
            )
            seed_term = spine.join(dang, "seed", "left").select(
                "seed",
                F.col("seed").alias("id"),
                (F.lit(alpha) * F.coalesce("dm", F.lit(0.0)) + F.lit(1.0 - alpha)).alias("x"),
            )
            state = contrib.unionByName(seed_term).groupBy("seed", "id").agg(
                F.sum("x").alias("rank")
            )
            if prune_below is not None:
                state = state.filter(F.col("rank") >= prune_below)
            state = state.localCheckpoint(eager=False)
        # materialize the final (lazily checkpointed) state BEFORE evicting the
        # caches it streams — unpersisting first would make every later action
        # recompute the transition table per superstep
        state.count()
        w.unpersist()
        spine.unpersist()
        out_src.unpersist()
        return state


def ppr_topk(
    spark: SparkSession,
    edges: DataFrame,
    seeds: DataFrame,
    k: int = 10,
    alpha: float = 0.85,
    iterations: int = 3,
    prune_below: float | None = None,
    cone: bool = True,
) -> DataFrame:
    """Top-k PPR neighbors per seed (the candidate-generation shape).
    Ranks round to 6dp BEFORE the cut (ties → id) so the selected set is
    ulp-robust cross-engine; the per-seed top-k compiles to a
    Partial-stage WindowGroupLimit (≤k rows per seed per map partition
    cross the exchange)."""
    from pyspark.sql.window import Window

    r = ppr_batch(
        spark, edges, seeds, alpha=alpha, iterations=iterations,
        prune_below=prune_below, cone=cone,
    )
    r = r.select("seed", "id", F.round("rank", 6).alias("rank"))
    win = Window.partitionBy("seed").orderBy(F.desc("rank"), F.asc("id"))
    return (
        r.withColumn("_rn", F.row_number().over(win))
        .filter(F.col("_rn") <= k)
        .select("seed", "id", "rank", F.col("_rn").cast("long").alias("rnk"))
    )
