r"""Connected components — large-star/small-star contraction + min-label
propagation.

BASELINE.json north_star: "connected components via iterative min-label
hash propagation", labels must match the oracle EXACTLY. Component label
= lexicographic min vertex id of the component (deterministic, partition-
count and edge-order invariant).

Two algorithms over the same substrate:

- ``star`` (default, the convergence/scale path): alternating
  large-star / small-star edge contraction (Kiveris et al., "Connected
  Components in MapReduce and Beyond", SoCC'14). Each round:

      large-star: for every vertex u with symmetric neighborhood Γ(u),
                  m = min(Γ(u) ∪ {u}); emit (v, m) for v ∈ Γ(u), v > u.
      small-star: orient edges (max → min); for every u with smaller
                  neighbor set S(u), m = min(S(u) ∪ {u}); emit (u, m)
                  and (v, m) for v ∈ S(u) \ {m}.

  Both preserve connectivity; the fixed point is a forest of stars whose
  root is the component minimum. Converges in O(log² n) rounds (O(log n)
  observed) vs O(diameter) for plain propagation. Convergence test per
  round: (edge-count, Σ decimal xxhash64(src,dst)) in ONE agg; on a
  stats match, one exact ``exceptAll`` count confirms set equality.

  Round physicalization is a PER-ROUND HYBRID, chosen by a sampled
  max-degree estimate (``_skew_estimate`` — a wrong estimate only costs
  speed, never correctness, so a cheap sample suffices):

  * low-skew rounds → WINDOW path (``_large_star``/``_small_star``): the
    per-center min is a window aggregate over partitionBy(center) — one
    exchange + one in-partition pass per star op (measured 1.64× faster
    per round than groupBy+join at sf4).
  * skewed rounds (est. max symmetric degree > the round's hub cutoff —
    by default ``SKEW_TASK_RATIO × 2·|E|/nparts``, i.e. relative to the
    round's average rows-per-task, because a hub only hurts when its
    neighbor multiset rivals a task's whole share; an absolute cutoff
    misfires in both directions) →
    SKEW-SAFE path (``_large_star_safe``/``_small_star_safe``): the
    window would buffer a hub's ENTIRE neighbor multiset in one task
    (the "curse of the last reducer" — and star contraction *creates*
    such hubs by design: a converged component of size k is a star with
    a degree-k root). Instead the per-center min is a map-side-combined
    ``groupBy(center).agg(min, count)`` (skew-proof: reducers see at
    most one partial row per map task per key), and the min is joined
    back with hub keys (deg > threshold) routed through a BROADCAST
    join (hub edges never shuffle by center at all) while residual keys
    take a plain shuffle join whose per-key row count is bounded by the
    threshold. If the estimated hub count exceeds the broadcast budget,
    the hub join falls back to a salted (center, salt)-key join that
    spreads each hub's rows over 32 tasks.

  Tail: once the contracted edge set falls under ``driver_finish_edges``
  (default 4M edges = a 64 MB bounded collect — the bound that matters
  is BYTES on the driver, not a fraction of the input; at web scale 4M
  contracted edges is noise) the remaining O(log) rounds would each pay
  a full scheduling barrier to process a sliver of the original edges.
  The loop instead collects the (bounded, counted — never unbounded)
  edge set and finishes with a driver-side vectorized numpy min-label
  pass in one step, emitting exactly the star fixed point
  the distributed rounds would converge to: {(v, min(C)) : v ∈ C,
  v ≠ min(C)}. Support is preserved round-to-round (every endpoint of
  the input edge set reappears in the output — see ``_driver_finish``),
  so labels are identical to a full-Spark run.

- ``propagation`` (the fixed-iteration/oracle mode): per superstep ONE
  map-side-combined shuffle — neighbor-label rows ∪ own-label rows →
  groupBy(vid).min; the own row carries the old label so the
  changed-count needs no join. Exactly k supersteps of min-label
  propagation ≡ the unrolled SQL oracle (cc_iter5), because…

…vertex ids are dictionary-encoded ONCE to longs by the vid layer
(``operators/vids.py``); the loop shuffles only 8-byte keys/labels
(strings measured 2× slower). The ENCODING is per-algorithm, because the
two modes make different promises about intermediate state:

- ``propagation``: dense STRING-SORTED vids from ``vids.undirected_build``
  — the one undirected build, shared with LPA and ``prepare_undirected``
  (range exchange + parallel per-partition sort; no global single-task
  sort; the endpoint guard, ranking and offsets in ONE driver action).
  min over vids is then EXACTLY min over string ids at every
  intermediate superstep, so fixed-iteration results and mid-run
  checkpoints match a string-space oracle on ANY graph — not only those
  that converge within the budget.
- ``star`` runs to the FIXED POINT, where only the component PARTITION
  matters — the root in vid space is renamed to the component's min
  string id by ``vids.relabel_min_id``. Intermediate vid order is
  therefore free, and the encode is ``vids.hash_encode``: ZERO setup
  shuffles (no vmap sort, no encode joins — at sf16 those were ~80% of
  the measured setup wall) and one job over the vertex universe that
  raises the endpoint guard and checks vid collisions; on a collision
  (birthday bound ~1e-5 at 16M vertices, ~0.05 at 1B — the fallback is
  not theoretical at web scale, which is why it stays a tested path)
  ``hash_encode`` itself returns string-sorted vids. The same relabel
  serves both encodings.

Checkpoint state is algorithm-specific (labels for propagation, the
contracted edge set for star) and stays in the loop's vid space: a write
is the state as the round left it, with no decode, and a resume reads it
back with no encode (``plans.checkpoint.VidCheckpoint``). A store written
by the other algorithm, or for another vertex set (the build's key
``(n, Σ xxhash64(id))`` differs), refuses to resume.

The whole call, build included, runs in ``session.engine_call`` (AQE
off): re-planning per stage made every build shuffle its own Spark job,
so a star call is now three (guard and collision check, canonical-edge
fill, driver finish). A warm call (same
graph, same session) compiles no generated class, because
``session.get_spark`` sizes Spark's codegen cache to the engine; sessions
built elsewhere keep Spark's 100-entry default.
"""

from __future__ import annotations

import logging
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from pagerank_project_spark.operators.vids import (
    canonical_pairs,
    decode_pair,
    hash_encode,
    relabel_min_id,
    symmetric_pairs,
    undirected_build,
)
from pagerank_project_spark.plans.checkpoint import VidCheckpoint
from pagerank_project_spark.session import engine_call

logger = logging.getLogger(__name__)

# Rows of hub (center → min) pairs broadcast per star op before the salted
# fallback kicks in. 1M rows ≈ 24 MB serialized — comfortably under the
# executor broadcast budget; power-law graphs have orders of magnitude fewer
# keys above any sane skew_threshold.
HUB_BROADCAST_LIMIT = 1_000_000
# Dynamic skew threshold: a center is a "hub" when its symmetric degree
# exceeds this fraction of the AVERAGE rows-per-task of the round's
# symmetrized edge multiset (2·|E|/nparts). Skew harm is relative — a
# 2.6M-degree hub inside 32M-row tasks is 8% of one task (harmless; the
# window path wins), the same hub inside 100k-row tasks at higher
# parallelism serializes the round (safe path required). An ABSOLUTE
# degree cutoff gets this wrong in both directions, which is why the
# default is ratio-based; pass skew_threshold explicitly to override.
# Calibration (sf32 A/B, 131M edges, 5M-degree hub): window round 1 beat
# safe at hub/task-share 0.08 (164s vs 208s at 1×4) but LOST at share
# 0.3 (70s vs 60s at 4×4) — the window's per-partition sort is
# memory-bandwidth-bound and scales ~2.3× where the safe path's hash
# agg + shuffle-hash join scale 3.2-4.5×. The crossover sits near 0.2.
SKEW_TASK_RATIO = 0.2
# Floor so micro-graphs never flap between paths on estimate noise.
MIN_SKEW_THRESHOLD = 65_536
# Leaf peeling engages when a round shrinks the edge multiset by less
# than this factor ("stalled" contraction: the measured failure mode is a
# giant component whose star forms in ~2 rounds, after which every round
# re-scans millions of settled star children to chase a few thousand
# still-active edges — at sf4, rounds 3-13 moved 0.24% of 3.8M edges).
PEEL_STALL_RATIO = 0.7
# Edges sampled per round for the skew estimate (estimate error only ever
# mis-picks the physical path, never changes results).
DEGREE_SAMPLE_TARGET = 2_000_000
# Salt fan-out for the salted hub-join fallback.
HUB_SALTS = 32


@dataclass
class ComponentsResult:
    labels: DataFrame  # (id: string, component: string)
    iterations: int
    converged: bool
    iter_secs: list[float] | None = None  # wall per round (first carries codegen warmup)
    # star mode: wall per phase outside the rounds — "setup" (encode +
    # canonical distinct + first materialization), "estimate" (summed
    # per-round skew sampling), "peel" (summed leaf peels). Diagnosing
    # scaling needs the split; iter_secs alone under-counts the run.
    phase_secs: dict | None = None


def undirected_edges(edges: DataFrame) -> DataFrame:
    """Symmetrized, deduplicated, self-loop-free edge table."""
    e = edges.select("src", "dst")
    return (
        e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _large_star(e: DataFrame) -> DataFrame:
    """{(v, min(Γ⁺(u))) : v ∈ Γ(u), v > u} over the symmetrized view.

    WINDOW physicalization (the low-skew path): the per-center minimum is
    a window aggregate over partitionBy(src) — one exchange + in-partition
    pass — instead of a groupBy + self-join (two exchanges of the full
    edge multiset; the windowed round measured 1.64× faster end-to-end at
    sf4). NOT dedup'd: duplicates are harmless downstream (small-star's
    mins ignore them and its trailing distinct restores set semantics).
    Hub-skew caveat: one task buffers a center's whole neighbor multiset —
    use ``_large_star_safe`` when the max degree is large."""
    from pyspark.sql import Window

    sym = e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    t = sym.withColumn("mv", F.min("dst").over(Window.partitionBy("src")))
    m = F.least(F.col("src"), F.col("mv"))
    return t.filter(F.col("dst") > F.col("src")).select(F.col("dst").alias("src"), m.alias("dst"))


def _small_star(e: DataFrame) -> DataFrame:
    """Orient (max→min); per center u emit (u, m) and (v, m) for
    v ∈ S(u) \\ {m}, m = min(S(u)).

    Same window physicalization: min and a row_number (to emit the one
    (u, m) row per center) share one partitionBy(u) exchange; both output
    shapes are produced from a single array-explode projection."""
    from pyspark.sql import Window

    ori = e.select(
        F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
    ).filter(F.col("u") != F.col("v"))
    t = ori.withColumn("m", F.min("v").over(Window.partitionBy("u"))).withColumn(
        "rn", F.row_number().over(Window.partitionBy("u").orderBy("v"))
    )
    pairs = F.array(
        F.when(F.col("v") != F.col("m"), F.struct(F.col("v").alias("s"), F.col("m").alias("d"))),
        F.when(F.col("rn") == 1, F.struct(F.col("u").alias("s"), F.col("m").alias("d"))),
    )
    return (
        t.select(F.explode(pairs).alias("p"))
        .filter(F.col("p").isNotNull())
        .select(F.col("p.s").alias("src"), F.col("p.d").alias("dst"))
        .distinct()
    )


def _join_mins(rows: DataFrame, mins: DataFrame, hub_threshold: int, spark, salted: bool) -> DataFrame:
    """Attach each row's per-center minimum (rows.src ⋈ mins.src → mv),
    hub-skew-safely.

    Hub centers (deg > hub_threshold, a handful on power-law graphs) go
    through a BROADCAST left join — their (many) rows are resolved
    map-side and never shuffle on the center key. Residual centers take a
    plain shuffle join whose per-key row count is ≤ hub_threshold by
    construction. ``salted=True`` replaces the broadcast with a
    (center, salt)-replicated shuffle join (each hub's rows spread over
    ``HUB_SALTS`` tasks) for the est-too-many-hubs-to-broadcast case."""
    hub = mins.filter(F.col("deg") > hub_threshold).select(
        F.col("src").alias("_hk"), F.col("mv").alias("_hmv")
    )
    rest = mins.filter(F.col("deg") <= hub_threshold).select(
        F.lit(False).alias("_rd"), F.col("src").alias("_rk"), F.col("mv").alias("mv")
    )
    if salted:
        salts = spark.range(HUB_SALTS).select(F.col("id").cast("int").alias("_hsalt"))
        hub_s = hub.crossJoin(salts)
        rows_s = rows.withColumn(
            "_salt", F.pmod(F.xxhash64("dst"), F.lit(HUB_SALTS)).cast("int")
        )
        j = rows_s.join(
            hub_s,
            (F.col("src") == F.col("_hk")) & (F.col("_salt") == F.col("_hsalt")),
            "left",
        ).drop("_hk", "_hsalt", "_salt")
    else:
        j = rows.join(F.broadcast(hub), F.col("src") == F.col("_hk"), "left").drop("_hk")
    # SINGLE-pass residual resolution: a done/todo filter split would put
    # the scan + broadcast join into the plan twice (no subtree reuse
    # across a DataFrame union), doubling the round's heaviest stage.
    # Instead every row takes ONE shuffle join against `rest`, with
    # already-resolved hub rows given a (_jd=true, salt) join key: the
    # boolean leg can never equal rest's literal false (collision with
    # real ids is impossible, unlike any string-sentinel scheme) and the
    # salt leg spreads the hub's rows evenly across partitions instead of
    # re-skewing the exchange on the hub key.
    jd = F.col("_hmv").isNotNull()
    jk = F.when(
        jd, F.pmod(F.xxhash64("src", "dst"), F.lit(1024)).cast("string")
    ).otherwise(F.col("src"))
    # shuffle_hash: SMJ would SORT both sides (hundreds of millions of
    # rows) — a hash join streams them; the whole safe path then contains
    # no sort at all (hash agg + hash join), which is what lets it scale
    # under the memory-bandwidth contention sorts suffer from
    return (
        j.withColumns({"_jd": jd, "_jk": jk})
        .join(
            rest.hint("shuffle_hash"),
            (F.col("_jd") == F.col("_rd")) & (F.col("_jk") == F.col("_rk")),
            "left",
        )
        .select("src", "dst", F.coalesce(F.col("_hmv"), F.col("mv")).alias("mv"))
    )


def _large_star_safe(e: DataFrame, hub_threshold: int, spark, salted: bool = False):
    """Skew-safe large-star: per-center min via map-side-combined groupBy
    (no window buffering), joined back via ``_join_mins``. Output multiset
    is identical to ``_large_star``'s. Returns (out, mins) — caller
    unpersists ``mins`` after the round's action."""
    sym = e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    mins = (
        sym.groupBy("src")
        .agg(F.min("dst").alias("mv"), F.count("*").alias("deg"))
        .persist()
    )
    cand = sym.filter(F.col("dst") > F.col("src"))
    withm = _join_mins(cand, mins, hub_threshold, spark, salted)
    out = withm.select(
        F.col("dst").alias("src"), F.least(F.col("src"), F.col("mv")).alias("dst")
    )
    return out, mins


def _small_star_safe(e: DataFrame, hub_threshold: int, spark, salted: bool = False):
    """Skew-safe small-star. The (u, m) per-center row comes straight from
    the mins table (exactly one row per center — no row_number needed),
    the (v, m) rows from the skew-safe join-back. Output set is identical
    to ``_small_star``'s. Returns (out, mins)."""
    ori = e.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).filter(F.col("src") != F.col("dst"))
    mins = (
        ori.groupBy("src")
        .agg(F.min("dst").alias("mv"), F.count("*").alias("deg"))
        .persist()
    )
    withm = _join_mins(ori, mins, hub_threshold, spark, salted)
    emit_v = withm.filter(F.col("dst") != F.col("mv")).select(
        F.col("dst").alias("src"), F.col("mv").alias("dst")
    )
    emit_u = mins.select("src", F.col("mv").alias("dst"))
    return emit_v.unionByName(emit_u).distinct(), mins


def _star_round(
    e: DataFrame,
    skew_threshold: int,
    spark,
    safe_large: bool,
    safe_small: bool,
    salted: bool,
):
    """One contraction round with the physical path chosen PER STAR OP
    (window = 1 exchange, fastest; safe = groupBy-min + hub-broadcast
    join-back, no per-task hub buffering). The large-star output is
    persisted only when safe-small consumes it twice (mins groupBy + the
    join-back); the windowed small-star is a single consumer and keeps
    the round fully pipelined. Returns (e2, scratch_to_unpersist)."""
    scratch: list[DataFrame] = []
    if safe_large:
        ls, mins1 = _large_star_safe(e, skew_threshold, spark, salted)
        scratch.append(mins1)
    else:
        ls = _large_star(e)
    if safe_small:
        ls = ls.persist()
        scratch.append(ls)
        e2, mins2 = _small_star_safe(ls, skew_threshold, spark, salted)
        scratch.append(mins2)
    else:
        e2 = _small_star(ls)
    return e2, scratch


def _edge_stats(e: DataFrame) -> tuple[int, object]:
    """(count, exact decimal Σ xxhash64(src,dst)) in one agg — the cheap
    per-round fingerprint. Decimal sum: exact, no ANSI int64 overflow."""
    row = e.agg(
        F.count("*").alias("n"),
        F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")).alias("chk"),
    ).first()
    return row["n"], row["chk"]


def _skew_estimate(e: DataFrame, n_edges: int, skew_threshold: int) -> tuple[int, int, int]:
    """(est_max_symmetric_degree, est_hub_count, est_max_center_degree)
    from a bounded edge sample (exact when the graph is small). One cheap
    job over the cached edge set; drives the window-vs-safe choice PER
    STAR OP and the broadcast-vs-salt hub-join choice.

    The two ops contend with DIFFERENT degrees: large-star windows over
    the symmetrized view (a giant component's root — the min — carries
    its whole membership there), small-star windows over the max→min
    orientation where centers are the *larger* endpoints, so a star's
    root is never a center and its children have tiny degrees. Estimating
    them separately lets the common post-star-formation shape run
    safe-large + windowed-small instead of paying the safe path twice.

    A hub of degree D survives a 1/p_inv edge sample with expected
    D/p_inv incident rows, so at the default sample target (2e6 edges)
    the estimate is within a few percent; a miss only costs round speed,
    never correctness."""
    p_inv = max(1, int(n_edges // DEGREE_SAMPLE_TARGET))
    samp = (
        e
        if p_inv == 1
        else e.filter(F.pmod(F.xxhash64("src", "dst", F.lit(7)), F.lit(p_inv)) == 0)
    )
    kv = samp.select(
        F.explode(
            F.array(
                F.struct(F.lit("s").alias("t"), F.col("src").alias("k")),
                F.struct(F.lit("s").alias("t"), F.col("dst").alias("k")),
                F.struct(F.lit("g").alias("t"), F.greatest("src", "dst").alias("k")),
            )
        ).alias("p")
    ).select("p.t", "p.k")
    row = (
        kv.groupBy("t", "k")
        .agg(F.count("*").alias("c"))
        .agg(
            F.max(F.when(F.col("t") == "s", F.col("c"))).alias("m"),
            F.count(
                F.when((F.col("t") == "s") & (F.col("c") * p_inv > skew_threshold), 1)
            ).alias("nh"),
            F.max(F.when(F.col("t") == "g", F.col("c"))).alias("mg"),
        )
        .first()
    )
    return (
        int(row["m"] or 0) * p_inv,
        int(row["nh"] or 0),
        int(row["mg"] or 0) * p_inv,
    )


def _peel_leaves(e: DataFrame) -> DataFrame:
    """Tag each edge of the canonical (src > dst) multiset with whether its
    src is a LEAF — a vertex whose single occurrence in the whole multiset
    is that src slot. Returns e + boolean ``_settle``.

    Soundness of setting leaf edges aside: both star ops preserve the
    src > dst orientation, so a leaf v of edge (v, r) is never any
    center's neighborhood minimum (r < v is always present), and with no
    other incident edge v's only future role is being re-pointed toward
    r's component minimum — which final resolution performs directly
    (label(v) := final label(r); v and r are connected, hence share it).
    Removing the edge changes no other vertex's min in either star op.
    The settled pile forms a FOREST (each src settles exactly once, its
    parent settles only in a LATER peel or never), so chains resolve by
    pointer jumping in ≤ ⌈log₂(#peels)⌉+1 self-joins."""
    occ = (
        e.select(F.explode(F.array("src", "dst")).alias("k"))
        .groupBy("k")
        .agg(F.count("*").alias("_c"))
    )
    leaves = occ.filter(F.col("_c") == 1).select(F.col("k").alias("_leaf"))
    return (
        e.join(leaves, e.src == F.col("_leaf"), "left")
        .select("src", "dst", F.col("_leaf").isNotNull().alias("_settle"))
    )


def _resolve_settled(settled_parts: list[DataFrame], active_map: DataFrame) -> DataFrame:
    """Resolve the settled forest (src → parent) to (src, _root) labels.
    Pointer-jump until every parent is terminal (not itself a settled
    src), then read the terminal's root off the active fixpoint map
    (terminals absent from it are roots/isolated → their own label)."""
    import math

    settled = settled_parts[0]
    for p in settled_parts[1:]:
        settled = settled.unionByName(p)
    # A settled src's parent can only be a src settled in a STRICTLY later
    # peel (within one peel a settled src's dst never has occurrence count
    # 1 in the src slot), so chains span at most len(parts) links and each
    # jump iteration doubles the resolved distance: ceil(log2(p)) jumps,
    # i.e. ZERO self-joins for the common single-peel run.
    jumps = math.ceil(math.log2(max(1, len(settled_parts))))
    for _ in range(jumps):
        parent = settled.select(F.col("src").alias("_ps"), F.col("dst").alias("_pd"))
        settled = (
            settled.join(parent, settled.dst == F.col("_ps"), "left")
            .select("src", F.coalesce(F.col("_pd"), F.col("dst")).alias("dst"))
            .localCheckpoint(eager=False)
        )
    return (
        settled.join(
            active_map.select(F.col("src").alias("_as"), F.col("_root")),
            settled.dst == F.col("_as"),
            "left",
        )
        .select("src", F.coalesce(F.col("_root"), F.col("dst")).alias("_root"))
    )


def _driver_finish(spark: SparkSession, e: DataFrame) -> DataFrame:
    """Finish a small contracted graph driver-side: one bounded collect
    (the caller has already counted the edge set against
    ``driver_finish_edges`` — this is never an unbounded collect) + a
    vectorized numpy min-label pass, returning the star fixed point {(v, min(C))} the
    distributed rounds would converge to.

    Correctness rests on star contraction preserving the non-isolated
    vertex SUPPORT each round: in large-star every center v reappears as
    the m-value of its own emission (v = min(Γ⁺(v)) when v is a local
    min) or as the src of (v, m(u)) for any neighbor u < v; in small-star
    every center u is re-emitted via (u, m) and every neighbor v via
    (v, m) or as m itself. Hence the collected support equals the final
    support, and per-component min over it equals the component min."""
    import numpy as np
    import pandas as pd

    pdf = e.select("src", "dst").toPandas()
    srcs = pdf["src"].to_numpy()
    dsts = pdf["dst"].to_numpy()
    # Vectorized union-by-min over compact indexes (no Python per-edge
    # loop — a dict union-find is minutes at the 4M-edge default cutoff;
    # this is seconds). np.unique sorts ascending, so compact index order
    # ≡ vid order and min-index ≡ min-vid. Each sweep: per-edge min is
    # scattered into the endpoints' current ROOTS (lbl[root] := min of
    # the two roots — updating the endpoints instead would sever a
    # root's remaining tree, the classic hash-to-min pitfall) →
    # pointer-jump labels to idempotence → drop settled edges (roots
    # equal). Labels only ever carry component-internal indexes, the
    # component min m keeps lbl[m]=m, and at the fixpoint every
    # component is uniformly labeled — hence labeled m. O(log n) sweeps
    # (each jump halves chain depth), edge set shrinks geometrically.
    nodes, idx = np.unique(np.concatenate([srcs, dsts]), return_inverse=True)
    m = len(srcs)
    si, di = idx[:m], idx[m:]
    lbl = np.arange(len(nodes), dtype=np.int64)
    while len(si):
        ru, rv = lbl[si], lbl[di]
        lo = np.minimum(ru, rv)
        np.minimum.at(lbl, ru, lo)
        np.minimum.at(lbl, rv, lo)
        while True:
            nl = lbl[lbl]
            if np.array_equal(nl, lbl):
                break
            lbl = nl
        live = lbl[si] != lbl[di]
        si, di = si[live], di[live]
    roots = nodes[lbl]
    mask = roots != nodes
    if not mask.any():
        return spark.createDataFrame([], "src long, dst long")
    return spark.createDataFrame(pd.DataFrame({"src": nodes[mask], "dst": roots[mask]}))


def connected_components(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_iterations: int = 200,
    num_partitions: int | None = None,
    checkpoint_store=None,
    algorithm: str = "star",  # star (contraction, default) | propagation (fixed-iteration oracle)
    validate_vertices: bool = True,
    skew_threshold: int | None = None,
    driver_finish_edges: int = 4_000_000,
) -> ComponentsResult:
    """``validate_vertices`` (with a supplied ``vertices``): raise ValueError
    here, during the build, on edge endpoints missing from the vertex
    table (``vids.endpoints_missing_error``), in both algorithms.
    ``skew_threshold``/``driver_finish_edges`` tune the star
    path only (see module doc; the hub broadcast budget is
    ``HUB_BROADCAST_LIMIT``); ``skew_threshold=None`` (default) re-derives
    the hub cutoff every round as ``SKEW_TASK_RATIO × 2·|E|/nparts`` —
    relative to the round's rows-per-task, which is the quantity
    window-buffering actually contends with; setting
    ``driver_finish_edges=0`` forces fully-distributed rounds."""
    if algorithm not in ("star", "propagation"):
        raise ValueError(f"unknown algorithm {algorithm!r}; one of ['star', 'propagation']")
    phases: dict = {}
    nparts = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    with engine_call(spark):
        # Encode (see module doc): star mode hashes (zero setup shuffles);
        # propagation needs order-preserving string-sorted vids. Both
        # builds raise the endpoint guard before anything is encoded.
        t_ph = time.time()
        if algorithm == "star":
            vmap, enc, key = hash_encode(edges, vertices, validate_vertices, nparts)
            canon = canonical_pairs(enc)
        else:
            ub = undirected_build(edges, vertices, nparts, validate_vertices, narrow=False)
            vmap, canon, key = ub.vmap, ub.canon, ub.key
        phases["encode"] = round(time.time() - t_ph, 3)
        ck = VidCheckpoint(checkpoint_store, key, algorithm) if checkpoint_store is not None else None
        # ONE setup shuffle: canonical (max→min) orientation dedup'd on LONG
        # pairs (the old string-pair symmetrize+distinct shuffled 2× the rows
        # at ~5× the bytes). The symmetric view propagation needs is derived
        # from this, with no second dedup (vids.symmetric_pairs).
        canon = canon.persist()
        t_ph = time.time()
        stats0 = _edge_stats(canon)  # materializes the cache (and the first fingerprint)
        phases["setup_materialize"] = round(time.time() - t_ph, 3)

        if algorithm == "star":
            labels, it, converged, iter_secs = _run_star(
                spark, canon, stats0, vmap, nparts, max_iterations, ck,
                skew_threshold, driver_finish_edges, phases,
            )
        else:
            labels, it, converged, iter_secs = _run_propagation(
                spark, canon, vmap, nparts, max_iterations, ck, phases
            )

    canon.unpersist()
    return ComponentsResult(
        labels=labels, iterations=it, converged=converged, iter_secs=iter_secs,
        phase_secs=phases,
    )


def _run_star(
    spark, canon, stats0, vmap, nparts, max_iterations,
    ck, skew_threshold, driver_finish_edges, phases,
):
    start_iter = ck.start if ck is not None else 0

    if start_iter:
        # state = the contracted (src, dst) vid edge set, as written.
        # Orientation of the rows is irrelevant — both star ops
        # re-canonicalize internally and peeling only engages post-round.
        e = ck.read(spark).repartition(nparts, "src").localCheckpoint(eager=False)
        stats = _edge_stats(e)  # materializes the resumed state
    else:
        e = canon  # persisted + materialized by the caller
        stats = stats0

    converged = False
    iter_secs: list[float] = []
    settled_parts: list[DataFrame] = []
    it = start_iter

    def write(state, at_iter, metrics):
        if ck is not None:
            # resume state must be self-contained: active ∪ settled (a
            # resumed run simply re-contracts the settled edges)
            for p in settled_parts:
                state = state.unionByName(p)
            ck.write(state, at_iter, metrics)

    def finish_driver(e_small, at_iter):
        t0 = time.time()
        out = _driver_finish(spark, e_small)
        iter_secs.append(round(time.time() - t0, 3))
        write(out, at_iter, {"converged": True, "driver_finish": True})
        return out

    def eff_threshold(n_edges: int) -> int:
        if skew_threshold is not None:
            return skew_threshold
        return max(MIN_SKEW_THRESHOLD, int(SKEW_TASK_RATIO * 2 * n_edges / nparts))

    if stats[0] <= driver_finish_edges:
        it = start_iter + 1
        e = finish_driver(e, it)
        converged = True
    else:
        def timed_est(e_, n_, thr_):
            t = time.time()
            r = _skew_estimate(e_, n_, thr_)
            phases["estimate"] = round(phases.get("estimate", 0.0) + time.time() - t, 3)
            return r

        thr = eff_threshold(stats[0])
        est_sym, est_nhubs, est_big = timed_est(e, stats[0], thr)
        no_peel_above = 2**63  # peel backoff: set after an ineffective peel
        for it in range(start_iter + 1, start_iter + max_iterations + 1):
            t_it = time.time()
            safe_large = est_sym > thr
            safe_small = est_big > thr
            # no explicit repartition: the trailing distinct already hash-
            # partitions on (src, dst), and next round's groupBys/windows
            # re-key by center anyway
            e2, scratch = _star_round(
                e, thr, spark, safe_large, safe_small,
                salted=est_nhubs > HUB_BROADCAST_LIMIT,
            )
            e2 = e2.localCheckpoint(eager=False)
            stats2 = _edge_stats(e2)  # the ONE materializing action per round
            for s in scratch:
                s.unpersist()
            iter_secs.append(round(time.time() - t_it, 3))
            logger.info(
                "star round %d: large=%s small=%s, edges %d -> %d, est %d/%d, thr %d, %.1fs",
                it, "safe" if safe_large else "window", "safe" if safe_small else "window",
                stats[0], stats2[0], est_sym, est_big, thr, iter_secs[-1],
            )
            if stats2 == stats and e2.exceptAll(e).count() == 0:
                # fingerprint matched AND exact set equality confirmed
                e = e2
                converged = True
                write(e, it, {"n_edges": stats2[0], "converged": True})
                break
            stalled = stats2[0] > PEEL_STALL_RATIO * stats[0]
            e, stats = e2, stats2
            if stats[0] <= driver_finish_edges:
                it += 1
                e = finish_driver(e, it)
                converged = True
                break
            thr = eff_threshold(stats[0])
            est_sym, est_nhubs, est_big = timed_est(e, stats[0], thr)
            # Peel when contraction stalls OR the next round would be
            # hub-skewed: stars create a degree-|C| hub whose children are
            # exactly the leaves, so peeling removes the hub's mass
            # entirely (cheaper than any skew-safe physicalization of it).
            # Backoff: an ineffective peel (<5% removed — skew without
            # leaves, i.e. mid-contraction hubs) disables peeling until
            # the active set has halved from where it failed.
            if stats[0] < no_peel_above and (
                stalled or est_sym > thr or est_big > thr
            ):
                t_peel = time.time()
                pre = stats[0]
                tagged = _peel_leaves(e).localCheckpoint(eager=False)
                e = tagged.filter(~F.col("_settle")).select("src", "dst")
                stats = _edge_stats(e)  # materializes tagged
                settled_parts.append(tagged.filter(F.col("_settle")).select("src", "dst"))
                phases["peel"] = round(phases.get("peel", 0.0) + time.time() - t_peel, 3)
                logger.info(
                    "star round %d: peeled %d leaf edges, %d active remain",
                    it, pre - stats[0], stats[0],
                )
                if pre - stats[0] < 0.05 * pre:
                    no_peel_above = pre // 2
                if stats[0] <= driver_finish_edges:
                    it += 1
                    e = finish_driver(e, it)
                    converged = True
                    break
                thr = eff_threshold(stats[0])
                est_sym, est_nhubs, est_big = timed_est(e, stats[0], thr)
            write(e, it, {
                "n_edges": stats2[0], "converged": False,
                "path": "safe" if (safe_large or safe_small) else "window",
            })

    # fixed point = stars (child → component-min root); roots/isolated keep self
    active_map = e.groupBy("src").agg(F.min("dst").alias("_root"))
    if settled_parts:
        active_map = active_map.unionByName(_resolve_settled(settled_parts, active_map))
    # the root is the component's min vid (a HASH unless the collision
    # fallback sorted the vids) — rename each component to its min STRING
    # id with one groupBy + join-back (the partition into components is
    # encoding-invariant; only labels rename). lab feeds BOTH the groupBy
    # and the join — localCheckpoint so the vmap⋈active_map subtree (and
    # the settled resolution under it) computes once, not twice (no
    # subtree reuse across a self-join). shuffle_hash hints: both label
    # joins would otherwise SMJ-sort |V|-sized sides; hashing the smaller
    # side keeps the decode sort-free.
    lab = (
        vmap.join(active_map.hint("shuffle_hash"), vmap.vid == F.col("src"), "left")
        .select("id", F.coalesce(F.col("_root"), F.col("vid")).alias("lbl"))
        .localCheckpoint(eager=False)
    )
    return relabel_min_id(lab, "component"), it, converged, iter_secs


def _run_propagation(spark, canon, vmap, nparts, max_iterations, ck, phases):
    start_iter = ck.start if ck is not None else 0
    t_ph = time.time()
    # symmetric view, pre-partitioned on src so the per-superstep join
    # reuses this exchange (the edge side never re-shuffles in the loop)
    und = symmetric_pairs(canon).repartition(nparts, "src").persist()
    und.count()
    phases["symmetrize"] = round(time.time() - t_ph, 3)
    labels = ck.read(spark) if start_iter else vmap.select("vid", F.col("vid").alias("lbl"))
    labels = labels.repartition(nparts, "vid").localCheckpoint(eager=False)

    converged = False
    iter_secs: list[float] = []
    it = start_iter
    for it in range(start_iter + 1, start_iter + max_iterations + 1):
        t_it = time.time()
        # ONE shuffle: neighbor-label rows ∪ own rows → groupBy(vid).min.
        # own rows carry the previous label in the `old` slot (neighbor rows
        # carry NULL there — min ignores nulls), so `changed` needs no join.
        nbr = (
            und.join(labels.select(F.col("vid").alias("_sv"), "lbl"), und.src == F.col("_sv"))
            .select(F.col("dst").alias("vid"), "lbl", F.lit(None).cast("long").alias("old"))
        )
        own = labels.select("vid", "lbl", F.col("lbl").alias("old"))
        new_labels = (
            nbr.unionByName(own)
            .groupBy("vid")
            .agg(F.min("lbl").alias("lbl"), F.min("old").alias("old"))
            .localCheckpoint(eager=False)
        )
        changed = new_labels.filter(F.col("lbl") != F.col("old")).count()
        iter_secs.append(round(time.time() - t_it, 3))
        labels = new_labels.select("vid", "lbl")
        if ck is not None:
            ck.write(labels, it, {"changed_labels": int(changed)})
        if changed == 0:
            converged = True
            break
    und.unpersist()  # labels are localCheckpoint-materialized; lineage cut
    return decode_pair(labels, vmap, "component"), it, converged, iter_secs
