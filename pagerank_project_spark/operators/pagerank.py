"""Damped, personalized PageRank by power iteration — Spark-first.

Semantics replicate the reference's ``power_method`` + ``WebGraph``
(reference: pagerank.py:100-139, :18-68 — see SURVEY.md §2.1/§2.2), with
the normalization mode parameterized (SURVEY.md §5.2): per-iteration
``x``-norm ∈ {l1, l2} and one-shot ``v``-norm ∈ {l1, l2}. ``reference``
mode = (l1, l2), the committed-code semantics.

Architecture (SURVEY.md §3.3): the driver composes one DataFrame DAG per
superstep; Catalyst picks the physical plan (the whole call runs in
``session.engine_call``, AQE off). Per iteration:

  d  = Σ rank_i over dangling i                  (folded into prev stats)
  q_i = (α·d + (1−α)) · v_i                      (expression)
  x' = α · Pᵀx + q                               (join, then union with
                                                  one teleport row per vertex
                                                  + ONE groupBy-sum)
  x' /= ‖x'‖                                     (scalar from stats action)
  stop when ‖x'−x‖₂ < ε                          (decomposed: one agg row)

The build (``build_graph``) makes ONE driver action before the loop: a
single aggregate over the persisted vertex map returns every scalar the
loop needs (n, the endpoint and collision checks, the v sums, the dangling
count, the edge count). The encoded edge cache is persisted lazily and
filled by the first superstep.

Exactly ONE action per iteration in the hot loop: the residual
``‖x'/s − x‖₂`` is decomposed as ``√(Σx'²/s² − 2Σx'x/s + Σx²)`` so norms,
residual components, and the NEXT iteration's dangling mass all come back
in a single aggregated row. L1 delta + active-vertex count (checkpoint
metrics per BASELINE.json) come from a second agg over the same cached
DataFrame only when checkpointing is enabled.

Scale notes (100 TB / 1000-executor design):
- the edge table is the sparse matrix (COO ≡ relational triple); it is
  hash-repartitioned by ``src`` ONCE and persisted — iterations reuse the
  partitioning, only the (|V|-sized) rank vector moves.
- rank-vector join side: always a hint-forced shuffled hash join
  co-partitioned with the persisted edges (one Spark job per superstep).
- the groupBy(dst) scatter is shuffle-reduced (map-side partial agg), so a
  high in-degree hub contributes one partial row per partition — skew-safe
  without salting (see operators/superstep_csr.py for the explicitly
  salted CSR path).
- lineage is truncated via a lazy localCheckpoint every superstep
  (iterative-plan-growth failure mode, SURVEY.md §4).
"""

from __future__ import annotations

import math
import time
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from pagerank_project_spark.config import PageRankConfig
from pagerank_project_spark.operators import vids
from pagerank_project_spark.session import engine_call


@dataclass
class PageRankResult:
    ranks: DataFrame  # (id: string, rank: double)
    iterations: int
    residuals: list[float]
    converged: bool
    n_vertices: int
    n_edges: int
    setup_sec: float = 0.0  # one-time graph build (encode/weight/partition)
    iter_secs: list[float] = None  # wall per superstep (first 1-2 incl. codegen warmup)


def apply_filter_ratio(edges: DataFrame, n_vertices: int, ratio: float) -> DataFrame:
    """In-link-ratio spam filter (reference: pagerank.py:42-47).

    Keep edge iff indeg(dst) < ratio·n, n = TOTAL vertex count (not the
    post-filter count — reference computes it from the final dict size,
    pagerank.py:45). Vertex set is unchanged (filtered nodes stay as
    isolated vertices and still receive teleport mass).
    """
    indeg = edges.groupBy("dst").agg(F.count("*").alias("_indeg"))
    return (
        edges.join(indeg, "dst", "inner")
        .filter(F.col("_indeg") < F.lit(float(ratio) * n_vertices))
        .drop("_indeg")
    )


@dataclass
class GraphBuild:
    """PageRank's build side and every scalar the loop needs from it."""

    vmap: DataFrame  # (id, vid, dang, v_raw, …) persisted, hash-partitioned by id
    edges: DataFrame  # (src: vid, dst: vid, w: double), encoded + weighted, lazy
    n: int
    m: int | None  # None → count the edge cache (unvalidated vertex table)
    v_l1: float  # Σ v_raw
    v_l2: float  # ‖v_raw‖₂
    dang: float  # Σ dang (number of dangling vertices)


def _v_raw(v_expr: Column | None) -> Column:
    # personalization indicator (pagerank.py:81-97); None → uniform
    return F.lit(1.0) if v_expr is None else F.when(v_expr, 1.0).otherwise(0.0).cast("double")


def _v_sums() -> list[Column]:
    return [
        F.sum("v_raw").alias("l1"),
        F.sqrt(F.sum(F.pow("v_raw", 2))).alias("l2"),
        F.sum("dang").alias("dang"),
    ]


def _guard(vmap: DataFrame, n: int, l1: float | None, missing: int = 0) -> None:
    """The set-up guards in their historical order; the persisted map is
    released before raising."""
    err = None
    if n == 0:
        err = ValueError("empty graph")
    elif missing:
        err = vids.endpoints_missing_error(missing)
    elif not l1 or l1 <= 0:
        err = AssertionError("personalization vector is all-zero (pagerank.py:94)")
    if err is not None:
        vmap.unpersist()
        raise err


def build_graph(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    num_partitions: int | None = None,
    validate_vertices: bool = True,
    filter_ratio: float | None = None,
    weight_col: str | None = None,
    v_expr: Column | None = None,
) -> GraphBuild:
    """The encoded, weighted edge table plus its vertex map, in ONE driver
    action (plus one vertex count when ``filter_ratio`` is set).

    One ``groupBy(src)`` over the (filtered) edges gives each source its
    out-weight and out-degree; left-joined onto the vertex universe it also
    marks the danglers (no surviving out-edge, pagerank.py:104-107). ONE
    aggregate over the persisted map returns n, the endpoints missing from
    a supplied vertex table, the vid collision check, the v sums, Σdang
    and Σdeg.

    Weights: w = 1/outdeg(src) (reference semantics, pagerank.py:50-61);
    with ``weight_col`` (engine extension) w_ij = weight_ij / Σ_j weight_ij.
    Weights must be strictly positive — a zero/negative one would silently
    corrupt the stochasticity of P, so it raises at the first action
    (raise_error riding the projection).

    Endpoint check: endpoints missing from a user-supplied vertex table
    would be dropped by the encode joins AFTER the out-weights count them
    (sub-stochastic rows, unmarked danglers: silently wrong ranks). The
    map is built over ``vids.universe``, so with ``validate_vertices``
    ``count(*) − Σknown`` counts them.

    Encoding: long vids halve shuffle bytes and double measured superstep
    speed (4.0 → 2.0 s/iter at 1M vertices / 4M edges, local[8]). vid =
    xxhash64(id) is DETERMINISTIC under partition recompute (unlike
    monotonically_increasing_id, which corrupted encoded edges after an
    executor OOM). Collisions (birthday bound ~2e-7 at 4M vertices) fall
    back to the string-sorted rank, the only branch that adds jobs.
    """
    nparts = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    e = edges
    if filter_ratio is not None:
        # the filter's threshold needs n before the build can start
        e = apply_filter_ratio(e, vids.build_vertices(edges, vertices).count(), filter_ratio)
    wt = F.lit(1.0) if weight_col is None else F.when(
        F.col(weight_col) > 0, F.col(weight_col).cast("double")
    ).otherwise(F.raise_error(F.format_string(
        "weighted pagerank requires strictly positive weights; got %s", F.col(weight_col)
    )))
    e = e.select("src", "dst", wt.alias("_wt"))
    out = e.groupBy(F.col("src").alias("id")).agg(
        F.sum("_wt").alias("_outw"), F.count("*").alias("_deg")
    )

    vmap = (
        vids.hashed_vids(vids.universe(edges, vertices, validate_vertices).join(out, "id", "left"))
        .select(
            "id", "vid", F.when(F.col("_outw").isNull(), 1.0).otherwise(0.0).alias("dang"),
            _v_raw(v_expr).alias("v_raw"), "_outw", "_deg", "_known",
        )
        .repartition(nparts, "id")
        .persist()
    )
    s = vmap.agg(
        F.count("*").alias("rows"),
        F.sum("_known").alias("n"),
        F.count_distinct("vid").alias("nv"),
        F.sum("_deg").alias("deg"),
        *_v_sums(),
    ).first()
    n = s["n"] or 0
    _guard(vmap, n, s["l1"], missing=s["rows"] - n)
    if s["nv"] != n:  # hash collision → deterministic fallback
        # distributed string-sorted rank (range exchange + per-partition
        # sort + offsets — no single-task global sort even at 10^12 ids)
        sorted_map = vids.string_sorted_vids(vmap.select("id"), "id", nparts)
        fallback = vmap.drop("vid").join(sorted_map, "id").repartition(nparts, "id").persist()
        fallback.count()
        vmap.unpersist()
        sorted_map.unpersist()
        vmap = fallback

    ew = (
        e.join(vmap.select(F.col("id").alias("src"), F.col("vid").alias("_s"), "_outw"), "src")
        .join(vmap.select(F.col("id").alias("dst"), F.col("vid").alias("_t")), "dst")
        .select(F.col("_s").alias("src"), F.col("_t").alias("dst"), (F.col("_wt") / F.col("_outw")).alias("w"))
    )
    # every edge survives the encode joins when the universe holds all its
    # endpoints; an unvalidated vertex table may drop some, so count those
    m = int(s["deg"] or 0) if vertices is None or validate_vertices else None
    return GraphBuild(vmap, ew, n, m, s["l1"], s["l2"], s["dang"])


def pagerank(
    spark: SparkSession,
    edges: DataFrame | None = None,
    vertices: DataFrame | None = None,
    cfg: PageRankConfig | None = None,
    v_expr: Column | None = None,
    checkpoint_store=None,
    prepared=None,
    weight_col: str | None = None,
) -> PageRankResult:
    """Run PageRank over an edge table (src: string, dst: string).

    v_expr: optional personalization indicator over the vertex ``id``
    column (1.0/0.0), reference make_personalization_vector semantics
    (pagerank.py:81-97). None → uniform.
    weight_col: optional strictly-positive edge-weight column —
    P becomes the row-normalized WEIGHTED transition matrix
    (see ``build_graph``); None keeps reference 1/outdeg semantics.
    checkpoint_store: optional plans.checkpoint.CheckpointStore — iteration
    state + metrics written per superstep; pass a store with a populated
    latest iteration to RESUME mid-run.
    prepared: optional plans.prepared_graph.PreparedGraph — the
    query-independent build (vid encode, weights, dangling flags, bucketed
    sorted edges) loaded from disk instead of recomputed; mutually
    exclusive with ``edges``. Personalization stays query-time. The spam
    filter is baked at prepare time, so cfg.filter_ratio must be unset.
    """
    cfg = cfg or PageRankConfig()
    t_start = time.time()

    if (edges is None) == (prepared is None):
        raise ValueError("pass exactly one of edges / prepared")
    if prepared is not None and cfg.filter_ratio is not None:
        raise ValueError("filter_ratio is baked into the prepared graph at prepare time; "
                         "pass it to prepare_graph, not the query")
    if prepared is not None and weight_col is not None:
        raise ValueError("edge weights are baked into the prepared graph at prepare time; "
                         "pass weight_col to prepare_graph, not the query")

    nparts = cfg.num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    with engine_call(spark):
        if prepared is None:
            g = build_graph(
                spark, edges, vertices, nparts, cfg.validate_vertices, cfg.filter_ratio, weight_col, v_expr
            )
        else:
            # encode, weights and dangling flags already on disk: one
            # aggregate for the query-time v sums, zero joins
            vmap = (
                prepared.base.select(
                    "id", "vid", F.col("dang").cast("double").alias("dang"), _v_raw(v_expr).alias("v_raw")
                )
                .repartition(nparts, "id")
                .persist()
            )
            s = vmap.agg(*_v_sums()).first()
            _guard(vmap, prepared.n, s["l1"])
            g = GraphBuild(vmap, prepared.edges, prepared.n, prepared.m, s["l1"], s["l2"], s["dang"])
        bucketed = prepared is not None and prepared.buckets == nparts
        return _run_loop(spark, cfg, g, nparts, t_start, checkpoint_store, bucketed)


def _run_loop(spark, cfg, g, nparts, t_start, checkpoint_store, bucketed) -> PageRankResult:
    """The shared tail of the build-in-run and prepared-graph paths: persist
    the edge cache, init/resume the iteration state and run the hot loop."""
    vmap, n = g.vmap, g.n
    # reference: v /= sum(v) (L1, :95) then v /= torch.norm(v) (L2, :113).
    # norm_v selects the final normalization; composition: v_raw/l1 then /‖·‖.
    v_after_l1_l2 = g.v_l2 / g.v_l1  # L2 norm of (v_raw / l1)
    v_scale = 1.0 / (g.v_l1 * (v_after_l1_l2 if cfg.norm_v == "l2" else 1.0))

    # the edge cache is persisted lazily: the first superstep fills it
    hubs = None
    if cfg.strategy == "csr":
        from pagerank_project_spark.operators.superstep_csr import prepare_salted_edges

        ew, hubs = prepare_salted_edges(g.edges, nparts, cfg.salt_buckets, cfg.hub_degree_threshold)
        ew = ew.persist()
        hubs = hubs.persist()
        if hubs.count() == 0:
            # no hub: the rank side takes salt 0 with no broadcast join
            hubs.unpersist()
            hubs = None
    elif bucketed:
        # the bucketed scan already reports HashPartitioning(src, nparts)
        # and per-bucket sorted output — the in-run repartition+sort
        # setup shuffle vanishes entirely
        ew = g.edges.persist()
    else:
        # sortWithinPartitions: the cached InMemoryRelation then reports an
        # outputOrdering on the join key, so the per-iteration sort-merge
        # join sorts ONLY the (|V|-row) rank side — the edges are sorted
        # once here, never again (measured: edge-side per-iteration sort is
        # the single largest superstep cost at sf≥1 without this).
        ew = g.edges.repartition(nparts, "src").sortWithinPartitions("src").persist()
    m = g.m if g.m is not None else ew.count()

    start_iter = 0
    resumed = False
    if checkpoint_store is not None:
        latest = checkpoint_store.latest_iteration()
        if latest is not None:
            # checkpointed state carries STRING ids → re-encode via vmap
            st = checkpoint_store.read_state(spark, latest).select("id", "rank", "v", "dang")
            cur = st.join(vmap.select("id", "vid"), "id").select(
                F.col("vid").alias("id"), "rank", "v", "dang"
            )
            start_iter = latest + 1
            resumed = True
    if not resumed:
        # x0 = 1/√n, already L2-unit (pagerank.py:116-118)
        cur = vmap.select(
            F.col("vid").alias("id"),
            F.lit(1.0 / math.sqrt(n)).alias("rank"),
            (F.col("v_raw") * F.lit(v_scale)).alias("v"),
            "dang",
        )
    cur = cur.repartition(nparts, "id").localCheckpoint(eager=False)

    # initial dangling mass d = x·a (pagerank.py:125): x0 is uniform 1/√n on
    # a fresh start; a resume aggregates the checkpointed state (the agg
    # also materializes it)
    d = g.dang / math.sqrt(n)
    if resumed:
        d = cur.agg(F.sum(F.col("rank") * F.col("dang"))).first()[0] or 0.0

    alpha = cfg.alpha
    residuals: list[float] = []
    setup_sec = time.time() - t_start
    iter_secs: list[float] = []

    converged, it, cur = _iterate(
        cfg, cur, ew, hubs, d, alpha, start_iter, residuals, iter_secs, checkpoint_store, vmap
    )

    # decode back to string vertex ids (op-9, pagerank.py:68,77-78)
    result = (
        cur.withColumnRenamed("id", "_vid")
        .join(vmap.select(F.col("vid").alias("_vid"), "id"), "_vid")
        .select("id", "rank")
    )
    ew.unpersist()
    if hubs is not None:
        hubs.unpersist()
    return PageRankResult(
        ranks=result,
        setup_sec=round(setup_sec, 3),
        iter_secs=[round(x, 3) for x in iter_secs],
        iterations=it - start_iter,
        residuals=residuals,
        converged=converged,
        n_vertices=n,
        n_edges=m,
    )


def _iterate(cfg, cur, ew, hubs, d, alpha, start_iter, residuals, iter_secs, checkpoint_store, vmap):
    """The hot loop: ONE action per superstep without a checkpoint store;
    returns (converged, next_iteration, final_state).

    Spark jobs and stages per superstep (marginal over supersteps 4-6 on
    the sf0.001 graph, local[4], stages as perfbench's tracer counts them,
    skipped ones included): 1 job / 4 stages without a checkpoint store,
    4 / 9 with one (the ``active`` aggregate and the snapshot write are
    their own actions)."""
    converged = False
    it = start_iter
    for it in range(start_iter, start_iter + cfg.max_iterations):
        t_it = time.time()
        # SpMV gather-scatter: α·Pᵀx (pagerank.py:126-132)
        # The broadcast must be explicitly FORBIDDEN, not merely un-hinted:
        # Catalyst's size estimate of the checkpointed state can fall under
        # autoBroadcastJoinThreshold, and a broadcast rebuilds a driver-side
        # HashedRelation of the rank vector EVERY superstep. That build is
        # serial (~1M rows/s): measured at 4M vertices (sf4) it cost 4-6 s
        # per superstep with negative core-scaling, against ~1 s for the
        # co-partitioned shuffle join; on small graphs its exchange is a
        # second Spark job per superstep. The SHUFFLE_HASH hint forces a
        # shuffled hash join whose build side is the per-partition rank
        # slice; the sorted, persisted edge cache streams through unsorted
        # and unshuffled.
        rank_side = cur.select(F.col("id").alias("_src"), "rank").hint("shuffle_hash")
        if cfg.strategy == "csr":
            from pagerank_project_spark.operators.superstep_csr import csr_partials

            part = csr_partials(ew, rank_side, hubs, cfg.salt_buckets).select(
                F.col("dst").alias("id"), (F.lit(alpha) * F.col("c")).alias("c")
            )
        else:
            part = ew.join(rank_side, ew.src == F.col("_src"), "inner").select(
                F.col("dst").alias("id"),
                (F.lit(alpha) * F.col("w") * F.col("rank")).alias("c"),
            )
        tele = F.lit(alpha * d + (1.0 - alpha)) * F.col("v")  # q (pagerank.py:125)
        # x' = α·Pᵀx + q as a UNION + single groupBy: per-edge partials and
        # one teleport-base row per vertex reduce in ONE map-side-combined
        # shuffle (vs groupBy + |V|-row left join = two shuffles). The base
        # row smuggles old rank / v / dang through max() (partial rows carry
        # 0 and ranks are non-negative), so zero-in-degree vertices fall out
        # with x' = q (zero-row preservation, pagerank.py:126-133).
        base = cur.select(
            "id", tele.alias("c"), F.col("rank").alias("old"), F.col("v"), F.col("dang")
        )
        part_full = part.select(
            "id", "c", F.lit(0.0).alias("old"), F.lit(0.0).alias("v"), F.lit(0.0).alias("dang")
        )
        # LAZY localCheckpoint EVERY iteration: the stats agg below is the
        # single action that (a) materializes the superstep, (b) truncates
        # lineage (plan references the previous state several times →
        # exponential plan growth without truncation; measured 2 GB plan
        # strings by iteration ~30), and (c) returns all driver scalars.
        # ONE action, ONE shuffle per iteration in the hot loop.
        joined = (
            part_full.unionByName(base)
            .groupBy("id")
            .agg(
                F.sum("c").alias("nx"),
                F.max("old").alias("old"),
                F.max("v").alias("v"),
                F.max("dang").alias("dang"),
            )
            .localCheckpoint(eager=False)
        )
        # ONE action: norms + residual components + next dangling mass +
        # the un-normalized L1 difference (fused L1-delta path, see below)
        s_row = joined.agg(
            F.sum(F.abs(F.col("nx"))).alias("l1"),
            F.sum(F.pow(F.col("nx"), 2)).alias("nx2"),
            F.sum(F.col("nx") * F.col("old")).alias("nxold"),
            F.sum(F.pow(F.col("old"), 2)).alias("old2"),
            F.sum(F.col("nx") * F.col("dang")).alias("dmass"),
            F.sum(F.abs(F.col("nx") - F.col("old"))).alias("l1diff"),
        ).first()
        s = s_row["l1"] if cfg.norm_x == "l1" else math.sqrt(s_row["nx2"])
        raw = s_row["nx2"] / (s * s) - 2.0 * s_row["nxold"] / s + s_row["old2"]
        if math.isnan(raw):  # never mistake a NaN for convergence
            raise ArithmeticError(f"non-finite superstep stats at iteration {it}: {s_row}")
        # the decomposition can go slightly negative at the fp noise floor
        # once ‖x'−x‖ ≲ 1e-10·‖x‖ — clamp to 0 (genuine convergence)
        resid = math.sqrt(max(0.0, raw))
        d = s_row["dmass"] / s
        residuals.append(resid)

        l1_delta = None
        if cfg.convergence == "l1_delta" or checkpoint_store is not None:
            # Σ|x'/s − x| needs s; it is NOT decomposable into s-free sums.
            # FUSED path: in L1 mode (standard/bench semantics) the mass is
            # conserved analytically — s = α(Σx−d) + αd + (1−α)·‖v‖₁ = 1 up
            # to fp summation error — so when |s−1| ≤ 1e-9 the un-normalized
            # Σ|x'−x| from the SAME single action differs from the exact
            # value by ≤ Σ|x'|·|1/s−1| ≤ |1−s| ≤ 1e-9 ≪ ε: use it directly
            # (no second action per superstep, the north_rule scaling path).
            # Outside that regime (reference mode's L2-normalized v, or the
            # x0=1/√n first iteration) fall back to the exact cache-scan agg.
            if abs(s - 1.0) <= 1e-9:
                l1_delta = s_row["l1diff"]
            else:
                l1_delta = joined.agg(
                    F.sum(F.abs(F.col("nx") / F.lit(s) - F.col("old")))
                ).first()[0]

        # cheap projection over the checkpointed superstep — no extra job
        new_state = joined.select("id", (F.col("nx") / F.lit(s)).alias("rank"), "v", "dang")

        if checkpoint_store is not None:
            active = joined.agg(
                F.sum(
                    (F.abs(F.col("nx") / F.lit(s) - F.col("old")) > F.lit(cfg.epsilon)).cast("long")
                ).alias("active")
            ).first()["active"]
            # decode to string ids so the checkpoint is portable across runs
            ckpt_state = new_state.withColumnRenamed("id", "_vid").join(
                vmap.select(F.col("vid").alias("_vid"), "id"), "_vid"
            ).select("id", "rank", "v", "dang")
            checkpoint_store.write_iteration(
                ckpt_state,
                iteration=it,
                metrics={
                    "residual_l2": resid,
                    "l1_delta": float(l1_delta),
                    "active_vertices": int(active),
                    "dangling_mass": d,
                    "norm": s,
                },
            )

        cur = new_state
        iter_secs.append(time.time() - t_it)

        # old checkpoint RDDs are freed by ContextCleaner once the Python
        # references die — nudge the collector periodically so long runs
        # don't accumulate stale cached state
        if (it + 1) % 8 == 0:
            import gc

            gc.collect()

        # stop rule: reference = L2 residual (pagerank.py:136-137);
        # 'l1_delta' = BASELINE.json bench criterion (L1 delta < ε)
        crit = resid if cfg.convergence == "l2_residual" else l1_delta
        if crit is not None and crit < cfg.epsilon:
            converged = True
            it += 1
            break
    else:
        it += 1

    return converged, it, cur
