"""Label-propagation community detection (synchronous, deterministic).

BASELINE.json north_star: "label propagation community detection" with
labels matching the oracle EXACTLY. Classic async LPA is order-dependent;
this is the SYNCHRONOUS variant with a total tie-break order, so the
result is invariant to partition count and edge order (SURVEY.md §7 hard
part 3):

    per iteration, every vertex adopts the most frequent label among its
    undirected neighbor set; ties → smallest label; isolated vertices
    keep their label; fixed iteration count K (sync LPA need not converge
    — it can 2-cycle on bipartite structures).

Physical design (same substrate as PageRank/CC):
- ids AND labels are dictionary-encoded in the loop, with vids assigned
  in STRING-sorted order by ``vids.undirected_build`` — the one
  undirected build, shared with CC propagation and
  ``prepare_undirected`` — so vid comparisons ARE string-order
  comparisons: the min-label tie-break stays oracle-exact while the loop
  shuffles only fixed-width keys. (xxhash64 vids were measured too: their
  cache does not delta-compress, so each superstep ran ~20% slower, and
  hash-order tie-breaks differ from the oracle's.)
- the build is ONE driver action: one collect of per-range-partition
  (count, Σknown) gives the sorted offsets, n and the endpoints missing
  from a supplied vertex table. The encode joins, the symmetrize and the
  edge cache are lazy; superstep 1 fills the cache.
- the whole call runs in ``session.engine_call`` (AQE off): re-planning
  per stage made every build shuffle its own Spark job.
- a warm call (same graph, same session) compiles no generated class:
  ``session.get_spark`` sizes Spark's codegen cache to the engine
  (``CODEGEN_CACHE_ENTRIES``). Sessions built elsewhere keep Spark's
  100-entry default, which a cold PageRank + CC + LPA pass overflows.
- when the dense sorted vids fit int32 (n < vids.INT_VID_LIMIT) the
  symmetric cache and the whole loop state narrow to 4-byte vids — an
  order-preserving cast (labels bitwise unchanged, pinned by test) that
  halves the cache's DRAM stream and every loop shuffle's key bytes; the
  cache stream is the measured late-superstep bandwidth cap at sf16
  (BENCH/BASELINE.md). Above the limit everything stays long.
- per superstep: neighbor-label rows ∪ own-label keeper rows (count 0,
  so isolated vertices keep their label and occupied vertices never beat
  a real neighbor count) → groupBy(vid, lbl).sum → argmax via one Window
  partitionBy(vid) ordered by (count desc, lbl asc). Two shuffles.
- per-superstep lazy localCheckpoint truncates lineage; one action each.
  With a checkpoint_store that action is the snapshot write itself, of
  the ``(vid, lbl)`` labels as they stand (``plans.checkpoint.VidCheckpoint``).
- every path decodes the final labels ONCE (``vids.decode_pair``), inside
  the call, and returns them materialized: the caller's action is a scan.
- resumable: with a checkpoint_store whose vertex-set key matches the
  build's, the latest written iteration is read back as written and the
  loop continues from latest+1 (symmetric with connected_components) — a
  restarted run never replays or duplicates iterations.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window, functions as F


from pagerank_project_spark.operators.vids import (
    decode_pair,
    symmetric_pairs,
    undirected_build,
)
from pagerank_project_spark.plans.checkpoint import VidCheckpoint
from pagerank_project_spark.session import engine_call


@dataclass
class LPAResult:
    labels: DataFrame  # (id: string, label: string)
    iterations: int  # actual final superstep index (resume: includes checkpointed supersteps)
    iter_secs: list[float] | None = None  # wall per superstep, its checkpoint write included
    phase_secs: dict | None = None  # one-time tails: encode (the build), warm_start
    frontier_sizes: list[int] | None = None  # frontier mode: |changed| per superstep


def label_propagation(
    spark: SparkSession,
    edges: DataFrame | None = None,
    vertices: DataFrame | None = None,
    iterations: int = 10,
    num_partitions: int | None = None,
    checkpoint_store=None,
    validate_vertices: bool = True,
    frontier: bool = False,
    prepared_und=None,
    warm_start: bool = False,
) -> LPAResult:
    """``checkpoint_store``: a plans.checkpoint.CheckpointStore — every
    superstep writes its (vid, lbl) snapshot; a store holding state for
    another vertex set raises ValueError before superstep 1.

    ``prepared_und``: a plans.prepared_graph.PreparedUndirected — the
    prepare-once artifact holding the STRING-SORTED vid map and the baked
    canonical symmetric edge table (bucketed by src, so the per-superstep
    cache persists with ZERO shuffle). Mutually exclusive with ``edges``;
    labels are bitwise the direct path's (pinned by test and by the shared SQL oracle). This removes
    exactly the one-time tails — validate, encode, symmetrize+distinct,
    cache repartition — that the sf16 scaling analysis measured as the
    whole-run cap (BENCH/BASELINE.md).

    ``frontier``: stop early at the fixpoint. Each superstep also counts
    the vertices whose label changed (``frontier_sizes``); when a
    superstep changes nothing the run stops, because every further
    superstep is provably identity, so the labels still equal the full-K
    run and ``iterations`` reports the superstep that hit the fixpoint.
    Costs one extra count per superstep. Default off: fixed-k oracle runs
    are short and the changed set only collapses near convergence.

    ``warm_start``: before superstep 1, execute ONE pilot superstep of
    the exact loop plan shape (cache scan → shuffle_hash join → union →
    map-side-combined groupBy → WindowGroupLimit → localCheckpoint) over
    a 1%-sampled edge slice and discard the result, and eagerly
    materialize the initial label checkpoint. Superstep 1 otherwise
    carries a parallelism-INVARIANT session tail — whole-stage-codegen
    compilation, C2 JIT of the shuffle/cache-decode/window machinery,
    shuffle-service and connection setup — measured at sf16 as ~27-35 s
    on BOTH a 1x4 and a 4x4 local-cluster leg (BENCH/BASELINE.md round 5:
    iter-1 scaled 2.1x while the equally churn-heavy iters 2-3 scaled
    3.3-4.0x). The pilot buys that tail at ~1% of the volume (the cache
    scan itself runs full-length but at memory speed), so production
    superstep 1 starts JIT-warm. Labels are BITWISE unaffected — the
    pilot's output is discarded and its sampled state is disjoint from
    the loop's (pytest-pinned). Default off: short fixed-k runs at small
    scale (the oracle/driver-contract shape) don't amortize the pilot;
    recommended for production-length runs on large caches."""
    if (edges is None) == (prepared_und is None):
        raise ValueError("pass exactly one of edges / prepared_und")
    phases: dict = {}
    with engine_call(spark):
        if prepared_und is not None:
            # prepare-once path: encode/symmetrize/repartition are baked; the
            # bucketed scan's HashPartitioning(src, buckets) means the persist
            # below is a straight read — no shuffle anywhere before superstep 1
            nparts = num_partitions or prepared_und.buckets
            und = prepared_und.und
            if nparts != prepared_und.buckets:
                # the deployment rule from the prepared-PageRank A/B
                # (BENCH/BASELINE.md): a cluster smaller than the bucket count
                # repartitions at load — ONE shuffle buys a slots-matched loop
                # (the fixed-bucket task count measured 0.55 N→4N for the LPA
                # loop; slots-matched recovers direct superstep speed)
                und = und.repartition(nparts, "src")
            return _run_loop(
                spark, und.persist(), prepared_und.vmap, prepared_und.key, None, nparts,
                iterations, checkpoint_store, frontier, phases, warm_start,
            )

        nparts = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
        t_ph = time.time()
        # vids in STRING-sorted order so vid tie-breaks ≡ min-string
        # tie-breaks; narrowed to int32 when the dense vids fit
        ub = undirected_build(edges, vertices, nparts, validate_vertices)
        phases["encode"] = round(time.time() - t_ph, 3)
        # Symmetrize AFTER the encode, canonically, on vid pairs: the
        # string-side symmetrize shuffled 2× the rows at ~5× the bytes
        # through its distinct (measured as the dominant cache_fill term at
        # sf16). Persisted lazily: superstep 1 fills the cache.
        und = symmetric_pairs(ub.canon).repartition(nparts, "src").persist()
        return _run_loop(
            spark, und, ub.vmap, ub.key, ub.cache, nparts, iterations, checkpoint_store,
            frontier, phases, warm_start,
        )


def _superstep(und: DataFrame, labels: DataFrame) -> DataFrame:
    """One superstep, lazily: (vid, lbl) labels → each vertex's winning
    label (the loop's plan, and the warm_start pilot's)."""
    # shuffle_hash on the LABEL side (pagerank.py's superstep rule):
    # un-hinted, Catalyst either auto-broadcasts the checkpointed
    # |V|-row label vector (driver-serial HashedRelation build per
    # superstep — the round-1 pagerank non-scaling bug) or falls to
    # an SMJ that re-SORTS the cached symmetric edge multiset every
    # superstep. The hash join streams the pre-partitioned cache
    # and shuffles only the label rows.
    nbr = (
        und.join(
            labels.select(F.col("vid").alias("_sv"), "lbl").hint("shuffle_hash"),
            und.src == F.col("_sv"),
        )
        .select(F.col("dst").alias("vid"), "lbl", F.lit(1).alias("c"))
    )
    keeper = labels.select("vid", "lbl", F.lit(0).alias("c"))  # isolated keep own
    freq = nbr.unionByName(keeper).groupBy("vid", "lbl").agg(F.sum("c").alias("cnt"))
    # winner pick stays the row_number Window ON PURPOSE: Spark 4
    # compiles row_number + (rn = 1) into WindowGroupLimit with a
    # PARTIAL stage before the exchange — ≤1 candidate row per vid
    # per map partition crosses the wire already. A packed-bigint
    # max(cnt<<32 | ~lbl) HashAggregate rewrite was built and
    # A/B-measured at sf16 1x4/4x4 and was SLOWER at both legs
    # (sec/iter 71.7->76.5 @1x4, 22.7->40.1 @4x4): it re-buys the
    # reduction WindowGroupLimit provides and pays an extra hash
    # table over the full freq table for it (BENCH/BASELINE.md).
    w = Window.partitionBy("vid").orderBy(F.desc("cnt"), F.asc("lbl"))
    return (
        freq.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("vid", "lbl")
    )


def _pilot_superstep(und: DataFrame, vmap: DataFrame, nparts: int) -> None:
    """warm_start pilot: one throwaway superstep of the exact loop plan
    shape over a 1%-sampled slice (see label_propagation docstring). The
    result is discarded; nothing here feeds the loop."""
    vid_t = und.schema["src"].dataType.simpleString()  # match the loop's codegen shapes
    labels = (
        vmap.select(F.col("vid").cast(vid_t).alias("vid"), F.col("vid").cast(vid_t).alias("lbl"))
        .sample(fraction=0.01, seed=7)
        .repartition(nparts, "vid")
        .localCheckpoint(eager=False)
    )
    _superstep(und.sample(fraction=0.01, seed=7), labels).localCheckpoint(eager=False).count()


def _run_loop(
    spark: SparkSession,
    und: DataFrame,
    vmap: DataFrame,
    key: list[int],
    cache: DataFrame | None,
    nparts: int,
    iterations: int,
    checkpoint_store,
    frontier: bool,
    phases: dict,
    warm_start: bool = False,
) -> LPAResult:
    """``cache``: the persisted table under ``vmap`` when this call built
    it; released once the decoded labels are materialized. ``key``: the
    build's vertex-set key, which tags and guards the checkpoints."""
    # the label state carries the CACHE's vid dtype (int when the dense
    # sorted vids were narrowed, long otherwise) so every loop join/shuffle
    # stays narrow and exchange-compatible with the cache's partitioning
    vid_t = und.schema["src"].dataType.simpleString()
    ck = VidCheckpoint(checkpoint_store, key, "lpa") if checkpoint_store is not None else None
    start_iter = ck.start if ck is not None else 0
    # resume: the checkpoint is the (vid, lbl) state itself
    labels = ck.read(spark) if start_iter else vmap.select("vid", F.col("vid").alias("lbl"))
    labels = labels.select(
        F.col("vid").cast(vid_t).alias("vid"), F.col("lbl").cast(vid_t).alias("lbl")
    ).repartition(nparts, "vid").localCheckpoint(eager=False)

    it = start_iter
    iter_secs: list[float] = []
    frontier_sizes: list[int] = []
    if warm_start:
        t_ws = time.time()
        _pilot_superstep(und, vmap, nparts)
        labels.count()  # materialize the initial checkpoint pre-superstep-1
        phases["warm_start"] = round(time.time() - t_ws, 3)
    for it in range(start_iter + 1, iterations + 1):
        t_it = time.time()
        winner = _superstep(und, labels)
        if frontier:
            # both sides leave vid-partitioned operators → zero-exchange
            # hash join; the chg count is the early-stop test
            labels = winner.join(
                labels.select("vid", F.col("lbl").alias("_old")).hint("shuffle_hash"),
                "vid",
            ).select(
                "vid", "lbl", (F.col("lbl") != F.col("_old")).alias("chg")
            ).localCheckpoint(eager=False)
            frontier_sizes.append(labels.filter("chg").count())  # materializes
            labels = labels.select("vid", "lbl")
        else:
            labels = winner.localCheckpoint(eager=False)
            if ck is None:
                labels.count()  # materialize + truncate each superstep
        if ck is not None:
            # without frontier, this write is the superstep's one
            # materializing action: it fills the label checkpoint
            ck.write(labels, it)
        iter_secs.append(round(time.time() - t_it, 3))
        if frontier and frontier_sizes[-1] == 0:
            break  # fixpoint: every further superstep is identity

    und.unpersist()
    # the one decode, materialized here so the rank cache under vmap can go
    out = decode_pair(labels, vmap, "label").localCheckpoint(eager=True)
    if cache is not None:
        cache.unpersist()
    return LPAResult(
        labels=out,
        iterations=it,
        iter_secs=iter_secs,
        phase_secs=phases,
        frontier_sizes=frontier_sizes or None,
    )

