"""Strongly connected components — FW-Trim coloring, superstep-native.

Directed reachability structure is the piece of the classical link-graph
suite the engine did not yet expose as labels: bowtie_membership
(traversal.py) classifies regions RELATIVE TO A SEED SET, but web/spam
analysis (Broder et al.'s bowtie is defined over the largest SCC),
dependency-cycle detection over import graphs, and condensation-DAG
analytics all want the full per-vertex SCC labeling.

Algorithm (the distributed coloring / FW-BW-Trim family — Orzan's
coloring with the forward-backward pruning of Fleischer-Hendrickson-
Pinar, both long-public):

  repeat until no active edges:
    1. TRIM (bounded passes): a vertex with no in-edges or no out-edges
       in the ACTIVE subgraph is a singleton SCC — assign and remove.
       (Kills the DAG tails that would otherwise cost one outer round
       each; bounded passes because a long path would need O(n) of them
       — the outer loop remains correct without them.)
    2. FORWARD COLORING to fixpoint: color(v) = min vid u that reaches
       v (min-propagation along edge direction, O(reachability depth)
       supersteps — the CC propagation shape on directed edges).
    3. ROOTS: vertices r with color(r) = r. Every SCC containing r lies
       inside r's color class (mutual reachability ⇒ same color).
    4. BACKWARD BFS from ALL roots at once, restricted to edges whose
       endpoints share a color: the vertices that reach their own color
       root form SCC(root) — assign scc = color and remove them.
  leftover isolated vertices are singleton SCCs.

Each outer round settles at least one SCC per color class (the root's),
and on web-shaped graphs (one giant SCC + DAG periphery) the first round
settles the core while trim eats the periphery. A pure path graph
degenerates to O(n/trim_passes) rounds — ``max_rounds`` raises rather
than silently returning partial labels.

Scale shape (house superstep discipline throughout):
- ONE active-edge DataFrame, re-persisted per outer round (rounds shrink
  it geometrically on real graphs, the CC-star lineage pattern);
- every propagation superstep is join(frontier/state, edges) with a
  ``shuffle_hash`` hint + ONE map-side-combined min/distinct aggregate,
  lazy localCheckpoint lineage truncation; the whole call, build
  included, runs in ``session.engine_call`` (AQE off);
- the trim degree check is two map-side-combined groupBys;
- no driver-side iteration over components: roots, colors, and backward
  frontiers are all DataFrames.

Encoding (the vid layer, ``operators/vids.py``): the loop always runs on
LONG vids — min over STRING ids compiles to a per-superstep
SortAggregate, min over longs to a map-side-combined HashAggregate.
``vids.hash_encode`` gives xxhash64 vids after one job that raises the
endpoint guard for a supplied vertex table and checks vid collisions; on
a collision it returns string-sorted vids itself, so the call has no
branch of its own.

Determinism: colors are min-vid, tie-breaks structural — the labeling
is a pure function of the graph. Whatever the vid order, the group labels
are renamed ONCE at decode to the min STRING member id
(``vids.relabel_min_id``, the CC convention).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from pagerank_project_spark.operators.vids import hash_encode, relabel_min_id
from pagerank_project_spark.session import engine_call


@dataclass
class SCCResult:
    labels: DataFrame  # (id: string, scc: string) — scc = min member id
    rounds: int
    # scaling diagnostics (wall seconds per phase, cumulative over rounds,
    # + superstep counts): trim / coloring / backward-BFS dominate in that
    # order on DAG-ish graphs, coloring on deep-reachability graphs
    phase_secs: dict | None = None
    coloring_supersteps: int = 0
    bfs_supersteps: int = 0


def contract_degree1_chains(
    spark: SparkSession,
    edges: DataFrame,
    num_partitions: int | None = None,
):
    """Collapse every maximal chain of in-degree-1/out-degree-1 vertices —
    the documented SCC scale lever (BENCH/BASELINE.md round 5: the two
    coloring fixpoints are reachability-DEPTH-bound, and deep chains make
    the tail crawl one edge-hop per sub-step; contracting a length-L chain
    to ONE edge removes L from the depth for O(log L) pointer-doubling
    supersteps paid once, up front).

    Precondition: ``edges`` is deduplicated and self-loop-free (the degree
    test counts rows). Chain vertices are those with exactly one in-edge
    AND one out-edge; each maximal chain u → c1 → … → ck → w (u, w the
    first non-chain anchors) is replaced by the single edge (u, w). A
    chain whose successor walk never leaves the chain set is a pure
    cycle — one whole SCC, labelled min member id directly.

    Pointer doubling on the unique-successor (and unique-predecessor)
    function: ptr(v) ← ptr(ptr(v)) reaches the anchor in O(log max-chain)
    self-join supersteps (persist-before-checkpoint stats reset, same
    Spark-4 lesson as the coloring loop). A min accumulator rides the
    forward pointer so pure cycles converge to their min id in the same
    doublings.

    Returns ``(contracted, anchored, cycles, n_chain)``:
      contracted: (src, dst) — edges among non-chain vertices plus one
        (entry, exit) edge per anchored chain (entry==exit pairs dropped:
        the SCC-expansion rule already classifies their members);
      anchored:   (id, entry, exit) per anchored-chain vertex. The exact
        re-expansion rule: id joins SCC(entry) iff the contracted run
        gives scc(entry) == scc(exit) (the contracted edge makes
        entry⇝exit free, so label equality ⟺ exit⇝entry ⟺ the chain
        lies on a cycle), else id is a singleton;
      cycles:     (id, scc) pure-cycle members, already final;
      n_chain:    number of chain vertices removed (0 ⇒ the other returns
        are None and ``contracted`` IS ``edges``).
    """
    import math

    nparts = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    indeg = edges.groupBy(F.col("dst").alias("id")).agg(F.count("*").alias("_i"))
    outdeg = edges.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("_o"))
    chain = (
        indeg.filter(F.col("_i") == 1)
        .join(outdeg.filter(F.col("_o") == 1).hint("shuffle_hash"), "id")
        .select("id")
        .repartition(nparts, "id")
        .persist()
    )
    n_chain = chain.count()
    if n_chain == 0:
        chain.unpersist()
        return edges, None, None, 0

    def _double(state: DataFrame, with_min: bool) -> DataFrame:
        """One pointer-doubling step; rows whose ptr is no longer a chain
        vertex (no partner row) are clamped at their anchor."""
        partner = state.select(
            F.col("id").alias("ptr"),
            F.col("ptr").alias("_p2"),
            *([F.col("mn").alias("_m2")] if with_min else []),
        )
        j = state.join(partner.hint("shuffle_hash"), "ptr", "left")
        cols = [
            "id",
            F.coalesce("_p2", "ptr").alias("ptr"),
        ]
        if with_min:
            cols.append(F.least("mn", F.coalesce("_m2", "mn")).alias("mn"))
        return j.select(*cols)

    def _resolve(start: DataFrame, with_min: bool) -> DataFrame:
        # cap = enough doublings that every ANCHORED chain has clamped
        # (2^cap ≥ n_chain ≥ max chain length) and every pure cycle's min
        # window covers the whole cycle; cycles' ptr may churn forever, so
        # the cap — not the change count — is the loop bound there
        cap = max(1, math.ceil(math.log2(max(2, n_chain)))) + 1
        cur = start.repartition(nparts, "id").localCheckpoint(eager=False)
        prev_cache = None
        for _ in range(cap):
            nxt = _double(cur, with_min).persist()
            n_changed = (
                nxt.join(
                    cur.select("id", F.col("ptr").alias("_old")).hint("shuffle_hash"),
                    "id",
                )
                .filter(F.col("ptr") != F.col("_old"))
                .count()
            )
            cur = nxt.localCheckpoint(eager=False)
            if prev_cache is not None:
                prev_cache.unpersist()
            prev_cache = nxt
            if n_changed == 0:
                break
        if prev_cache is not None:
            # the localCheckpoint above materialized via the count's job
            # chain on the NEXT use; keep it cached until the caller's
            # eager materialization, then it is safe to drop lazily
            pass
        return cur, prev_cache

    succ = edges.join(chain.hint("shuffle_hash"), edges.src == chain.id).select(
        chain.id.alias("id"), F.col("dst").alias("ptr"), F.col("id").alias("mn")
    )
    fwd, fwd_cache = _resolve(succ, with_min=True)
    pred = edges.join(chain.hint("shuffle_hash"), edges.dst == chain.id).select(
        chain.id.alias("id"), F.col("src").alias("ptr")
    )
    bwd, bwd_cache = _resolve(pred, with_min=False)

    # final ptr still a chain vertex ⇔ the successor walk never left the
    # chain set ⇔ pure cycle (a walk that enters a succ-cycle must START
    # on it: every cycle vertex has in-degree 1)
    chain_as_ptr = chain.select(F.col("id").alias("ptr"))
    cycles = (
        fwd.join(chain_as_ptr.hint("shuffle_hash"), "ptr", "semi")
        .select("id", F.col("mn").alias("scc"))
        .localCheckpoint(eager=True)
    )
    anchored = (
        fwd.join(chain_as_ptr.hint("shuffle_hash"), "ptr", "anti")
        .select("id", F.col("ptr").alias("exit"))
        .join(
            bwd.join(chain_as_ptr.hint("shuffle_hash"), "ptr", "anti")
            .select("id", F.col("ptr").alias("entry"))
            .hint("shuffle_hash"),
            "id",
        )
        .select("id", "entry", "exit")
        .localCheckpoint(eager=True)
    )
    contracted = (
        edges.join(chain.select(F.col("id").alias("src")).hint("shuffle_hash"), "src", "anti")
        .join(chain.select(F.col("id").alias("dst")).hint("shuffle_hash"), "dst", "anti")
        .unionByName(
            anchored.select(F.col("entry").alias("src"), F.col("exit").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    for c in (fwd_cache, bwd_cache, chain):
        if c is not None:
            c.unpersist()
    return contracted, anchored, cycles, n_chain


def strongly_connected_components(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_rounds: int = 20,
    trim_passes: int = 3,
    max_propagation_iters: int | None = None,
    num_partitions: int | None = None,
    substeps_per_sync: int = 4,
    chain_contract: bool = False,
) -> SCCResult:
    """Per-vertex SCC labels (scc = min member id, the CC convention).

    Raises if the structure needs more than ``max_rounds`` outer rounds —
    partial labels are never returned silently. ``max_propagation_iters``
    is a COST cap only (None, the default, runs the min-label coloring to
    its fixpoint — monotone, so it terminates in at most the reachability
    depth of the active subgraph; a 60-cycle legitimately needs ~60
    supersteps); set it to bound wall-clock on unknown inputs, accepting
    a raise instead of an over-deep loop.

    ``substeps_per_sync``: propagation sub-steps chained lazily into each
    materialized/convergence-checked superstep job. The two fixpoints are
    reachability-DEPTH-bound (the pointer jump composes through the ~ln n
    successive record minima, then the tail crawls one edge-hop per
    sub-step along deep chains), so on web-shaped graphs the loop runs
    hundreds of sub-steps whose per-step cost is dominated by the
    convergence-check join and job/stage scheduling — batching k sub-steps
    per sync pays both once per k. Colors only decrease (monotone), so
    "no change across a whole batch" is exactly the single-step fixpoint;
    the only cost is up to k−1 redundant tail sub-steps.

    ``chain_contract``: collapse in/out-degree-1 chains up front
    (``contract_degree1_chains``) so the coloring/backward fixpoints run
    on a graph whose reachability depth excludes every maximal chain's
    length — the measured cure for deep-chain sub-step crawl. Labels are
    identical either way (pinned by test); the contraction costs
    O(log max-chain) pointer-doubling supersteps once.
    """
    nparts = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    with engine_call(spark):
        # LONG vids for the loop (module doc). A caller-supplied vertex
        # table missing edge endpoints would silently drop those labels at
        # the vmap decode join, so the encode refuses it loudly instead.
        vmap, enc_edges, _ = hash_encode(edges, vertices, num_partitions=nparts)
        enc_verts = vmap.select(F.col("vid").alias("id"))

        base = (
            enc_edges.filter(F.col("src") != F.col("dst"))
            .distinct()
            .repartition(nparts, "src")
            .persist()
        )
        anchored = cycles = None
        n_chain = 0
        if chain_contract:
            base.count()
            contracted, anchored, cycles, n_chain = contract_degree1_chains(
                spark, base, num_partitions=nparts
            )
        if n_chain:
            # the loop runs on the contracted graph; chain vertices leave the
            # vertex universe here and re-enter at the expansion step below
            active0 = contracted.repartition(nparts, "src").persist()
            active0.count()
            base.unpersist()
        else:
            active0 = base
        active = active0
        n_active = active.count()
        unassigned = enc_verts
        if n_chain:
            chain_ids = anchored.select("id").unionByName(cycles.select("id"))
            unassigned = unassigned.join(chain_ids.hint("shuffle_hash"), "id", "left_anti")
        unassigned = unassigned.repartition(nparts, "id").localCheckpoint(eager=False)
        assigned_parts: list[DataFrame] = []
        active_rev = None
        # per-superstep iterate caches (stats-reset pattern, see coloring loop);
        # swept at each round end and in the finally block — unpersist is
        # idempotent so double entries are harmless
        live_caches: list[DataFrame] = []

        def _fold_assigned() -> None:
            # keep the final union plan bounded: a deep input (high max_rounds,
            # many trim passes) appends one part per pass/round, and a linear
            # 80-branch unionByName chain pays quadratic analysis on the final
            # plan — fold into ONE lazily-checkpointed part every few branches
            # (localCheckpoint truncates the logical plan to a LogicalRDD
            # immediately, even when eager=False)
            if len(assigned_parts) >= 8:
                folded = assigned_parts[0]
                for p in assigned_parts[1:]:
                    folded = folded.unionByName(p)
                assigned_parts.clear()
                assigned_parts.append(folded.localCheckpoint(eager=False))

        import time as _time

        rounds = 0
        phase_secs = {"trim": 0.0, "coloring": 0.0, "backward": 0.0, "remove": 0.0}
        coloring_supersteps = 0
        bfs_supersteps = 0
        try:
            while n_active > 0:
                rounds += 1
                _t_ph = _time.time()
                if rounds > max_rounds:
                    raise RuntimeError(
                        f"SCC did not settle within {max_rounds} outer rounds "
                        f"({n_active} active edges left); raise max_rounds"
                    )

                # --- 1. trim: no-in or no-out vertices are singleton SCCs ----
                for _ in range(trim_passes):
                    srcs = active.select(F.col("src").alias("id")).distinct()
                    dsts = active.select(F.col("dst").alias("id")).distinct()
                    both = srcs.join(dsts.hint("shuffle_hash"), "id")  # has in AND out
                    trimmed = (
                        srcs.unionByName(dsts)
                        .distinct()
                        .join(both.hint("shuffle_hash"), "id", "left_anti")
                        .localCheckpoint(eager=False)
                    )
                    n_trim = trimmed.count()
                    if n_trim == 0:
                        break
                    assigned_parts.append(trimmed.select("id", F.col("id").alias("scc")))
                    _fold_assigned()
                    unassigned = unassigned.join(
                        trimmed.hint("shuffle_hash"), "id", "left_anti"
                    ).localCheckpoint(eager=False)
                    active = (
                        active.join(
                            trimmed.select(F.col("id").alias("src")).hint("shuffle_hash"),
                            "src",
                            "left_anti",
                        )
                        .join(
                            trimmed.select(F.col("id").alias("dst")).hint("shuffle_hash"),
                            "dst",
                            "left_anti",
                        )
                        .repartition(nparts, "src")
                        .localCheckpoint(eager=False)
                    )
                    n_active = active.count()
                phase_secs["trim"] += _time.time() - _t_ph
                if n_active == 0:
                    break
                _t_ph = _time.time()

                # --- 2. forward coloring to fixpoint, POINTER-JUMPED ----------
                # color(v) = min id that reaches v; endpoints of active edges
                # only (vertices outside active are trim/isolated leftovers).
                # Each superstep does BOTH the edge-push min AND a pointer
                # jump color(v) ← min(color(v), color(color(v))) — valid
                # because reachability composes through the pointer (color(v)
                # reaches v, color(color(v)) reaches color(v)), monotone, and
                # it collapses the fixpoint from O(reachability depth) to
                # O(log depth) supersteps (the CC pointer-jumping lesson —
                # a depth-10⁶ chain needs ~20 rounds, not 10⁶).
                in_active = (
                    active.select(F.col("src").alias("id"))
                    .unionByName(active.select(F.col("dst").alias("id")))
                    .distinct()
                )
                color = in_active.select("id", F.col("id").alias("color"))
                color = color.repartition(nparts, "id").localCheckpoint(eager=False)
                prop_iters = 0
                # Spark 4's Dataset.localCheckpoint carries the origin plan's
                # ESTIMATED stats onto the LogicalRDD (rewriteStatsAndConstraints),
                # and the size-only visitor multiplies child sizes at every join —
                # so a checkpointed SELF-join chain SQUARES the carried sizeInBytes
                # each superstep (bit-length doubles; measured 11→609 bits in 6
                # steps). Past ~20 supersteps the driver burns minutes multiplying
                # million-digit BigIntegers inside every stats/planning call. Fix:
                # persist each iterate and let the (already-present) n_changed
                # count materialize it BEFORE checkpointing — a materialized
                # InMemoryRelation reports its REAL accumulated size, so the
                # checkpoint carries small true stats and the chain stays flat.
                # Zero extra jobs; the previous iterate's cache is dropped as soon
                # as its checkpoint has materialized (the next count).
                def _color_substep(cur: DataFrame) -> DataFrame:
                    pushed = (
                        active.join(
                            cur.select(F.col("id").alias("src"), "color").hint("shuffle_hash"),
                            "src",
                        )
                        .select(F.col("dst").alias("id"), "color")
                    )
                    stepped = (
                        cur.unionByName(pushed)
                        .groupBy("id")
                        .agg(F.min("color").alias("color"))
                        .localCheckpoint(eager=False)
                    )
                    # pointer jump: every color value IS an in_active id, so the
                    # inner self-join is total on the jumped side
                    jumped = (
                        stepped.select("id", F.col("color").alias("_p"))
                        .join(
                            stepped.select(F.col("id").alias("_p"), F.col("color").alias("_pc")).hint("shuffle_hash"),
                            "_p",
                        )
                        .select("id", F.least("_p", "_pc").alias("color"))
                    )
                    return jumped.groupBy("id").agg(F.min("color").alias("color"))

                prev_cache = None
                while True:
                    batch = max(1, substeps_per_sync)
                    if max_propagation_iters is not None:
                        left = max_propagation_iters - prop_iters
                        if left <= 0:
                            raise RuntimeError(
                                f"forward coloring exceeded the max_propagation_iters={max_propagation_iters} cost cap"
                            )
                        batch = min(batch, left)
                    nxt = color
                    for _ in range(batch):
                        nxt = _color_substep(nxt)
                    prop_iters += batch
                    new_color = nxt.persist()
                    n_changed = (
                        new_color.join(
                            color.withColumnRenamed("color", "_old").hint("shuffle_hash"), "id"
                        )
                        .filter(F.col("color") != F.col("_old"))
                        .count()
                    )
                    color = new_color.localCheckpoint(eager=False)
                    if prev_cache is not None:
                        prev_cache.unpersist()
                    prev_cache = new_color
                    live_caches.append(new_color)
                    if n_changed == 0:
                        break
                coloring_supersteps += prop_iters
                phase_secs["coloring"] += _time.time() - _t_ph
                _t_ph = _time.time()

                # --- 3+4. backward phase, also pointer-jumped -----------------
                # Within color class c (root r = c = min id of the class),
                # v ∈ SCC(c) iff v reaches c over edges whose BOTH endpoints
                # have color c. m(v) = min id reachable FROM v within the
                # class satisfies m(v) ≥ c with equality iff v reaches c, so
                # the old frontier BFS (O(SCC diameter) supersteps) becomes
                # the same doubled min-propagation, pulled along forward edges
                # (values flow dst→src) with the m(v) ← min(m(v), m(m(v)))
                # jump — O(log diameter) supersteps.
                ge = (
                    active.join(
                        color.select(F.col("id").alias("src"), F.col("color").alias("_sc")).hint("shuffle_hash"),
                        "src",
                    )
                    .join(
                        color.select(F.col("id").alias("dst"), F.col("color").alias("_dc")).hint("shuffle_hash"),
                        "dst",
                    )
                    .filter(F.col("_sc") == F.col("_dc"))
                    .select("src", "dst")
                    .repartition(nparts, "dst")
                    .persist()
                )
                active_rev = ge  # tracked for the finally-block unpersist
                ge.count()
                m = color.select("id", F.col("id").alias("m"))
                m = m.repartition(nparts, "id").localCheckpoint(eager=False)
                # same persist-before-checkpoint stats reset and sub-step
                # batching as the coloring loop (the m(m(v)) jump is a
                # self-join too, and the fixpoint is depth-bound the same way)
                def _m_substep(cur: DataFrame) -> DataFrame:
                    pulled = (
                        ge.join(
                            cur.select(F.col("id").alias("dst"), "m").hint("shuffle_hash"), "dst"
                        )
                        .select(F.col("src").alias("id"), "m")
                    )
                    stepped = (
                        cur.unionByName(pulled)
                        .groupBy("id")
                        .agg(F.min("m").alias("m"))
                        .localCheckpoint(eager=False)
                    )
                    jumped = (
                        stepped.select("id", F.col("m").alias("_p"))
                        .join(
                            stepped.select(F.col("id").alias("_p"), F.col("m").alias("_pm")).hint("shuffle_hash"),
                            "_p",
                        )
                        .select("id", F.least("_p", "_pm").alias("m"))
                    )
                    return jumped.groupBy("id").agg(F.min("m").alias("m"))

                prev_cache = None
                while True:
                    batch = max(1, substeps_per_sync)
                    nxt = m
                    for _ in range(batch):
                        nxt = _m_substep(nxt)
                    bfs_supersteps += batch
                    new_m = nxt.persist()
                    n_changed = (
                        new_m.join(m.withColumnRenamed("m", "_old").hint("shuffle_hash"), "id")
                        .filter(F.col("m") != F.col("_old"))
                        .count()
                    )
                    m = new_m.localCheckpoint(eager=False)
                    if prev_cache is not None:
                        prev_cache.unpersist()
                    prev_cache = new_m
                    live_caches.append(new_m)
                    if n_changed == 0:
                        break
                settled = (
                    m.join(color.hint("shuffle_hash"), "id")
                    .filter(F.col("m") == F.col("color"))
                    .select("id", "color")
                    .localCheckpoint(eager=False)
                )
                ge.unpersist()
                active_rev = None
                phase_secs["backward"] += _time.time() - _t_ph
                _t_ph = _time.time()

                assigned_parts.append(settled.select("id", F.col("color").alias("scc")))
                _fold_assigned()
                unassigned = unassigned.join(
                    settled.select("id").hint("shuffle_hash"), "id", "left_anti"
                ).localCheckpoint(eager=False)
                active = (
                    active.join(
                        settled.select(F.col("id").alias("src")).hint("shuffle_hash"),
                        "src",
                        "left_anti",
                    )
                    .join(
                        settled.select(F.col("id").alias("dst")).hint("shuffle_hash"),
                        "dst",
                        "left_anti",
                    )
                    .repartition(nparts, "src")
                    .localCheckpoint(eager=False)
                )
                n_active = active.count()
                # the count above materialized every checkpoint that read this
                # round's iterate caches — drop the leftovers (the last iterate
                # of each fixpoint loop; earlier ones were dropped in-loop)
                for c in live_caches:
                    c.unpersist()
                live_caches.clear()
                phase_secs["remove"] += _time.time() - _t_ph
        finally:
            active0.unpersist()
            if active_rev is not None:
                active_rev.unpersist()
            for c in live_caches:
                c.unpersist()
            live_caches.clear()

        # leftovers (isolated all along, or stranded by removals) are singletons
        labels = unassigned.select("id", F.col("id").alias("scc"))
        for part in assigned_parts:
            labels = labels.unionByName(part)
        if n_chain:
            # re-expand the contracted chains: a chain vertex joins SCC(entry)
            # iff scc(entry) == scc(exit) — the contracted (entry, exit) edge
            # makes entry⇝exit free, so label equality ⟺ exit⇝entry ⟺ the
            # whole chain lies on a cycle through both anchors — else it is a
            # singleton; pure-cycle members arrive pre-labelled min-cycle-id
            exp = (
                anchored.join(
                    labels.select(F.col("id").alias("entry"), F.col("scc").alias("_su")).hint("shuffle_hash"),
                    "entry",
                )
                .join(
                    labels.select(F.col("id").alias("exit"), F.col("scc").alias("_sw")).hint("shuffle_hash"),
                    "exit",
                )
                .select(
                    "id",
                    F.when(F.col("_su") == F.col("_sw"), F.col("_su"))
                    .otherwise(F.col("id"))
                    .alias("scc"),
                )
            )
            labels = labels.unionByName(exp).unionByName(cycles)
        # one-time decode: min-vid group labels → min-STRING member id (a
        # chain member can also undercut its group's root), restoring the
        # documented contract
        dec = labels.toDF("vid", "lbl").join(vmap.hint("shuffle_hash"), "vid").select("id", "lbl")
        return SCCResult(
            labels=relabel_min_id(dec, "scc"),
            rounds=rounds,
            phase_secs={k: round(v, 3) for k, v in phase_secs.items()},
            coloring_supersteps=coloring_supersteps,
            bfs_supersteps=bfs_supersteps,
        )


def condensation(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """The condensation DAG: vertices = SCCs, edges = distinct inter-SCC
    links weighted by vertex-level edge multiplicity. Cycle-free by
    construction — the graph dependency analyses (build order, layer
    assignment, bowtie's core/in/out) run on this instead of the raw
    graph. Unlike traversal.quotient_graph (expression-keyed host/module
    collapse), the SCC label is data, so the collapse is two
    shuffle_hash label joins + one map-side-combined groupBy.

    → (src_scc, dst_scc, weight).
    """
    lab = labels.select("id", "scc")
    return (
        edges.select("src", "dst")
        .join(lab.select(F.col("id").alias("src"), F.col("scc").alias("src_scc")).hint("shuffle_hash"), "src")
        .join(lab.select(F.col("id").alias("dst"), F.col("scc").alias("dst_scc")).hint("shuffle_hash"), "dst")
        .filter(F.col("src_scc") != F.col("dst_scc"))
        .groupBy("src_scc", "dst_scc")
        .agg(F.count("*").alias("weight"))
    )


def dag_levels(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_iterations: int = 100,
    num_partitions: int | None = None,
) -> DataFrame:
    """Longest-path layering of a DAG: level(v) = length of the longest
    directed path ENDING at v (sources = 0) — the build-stage / dependency-
    depth assignment over a condensation graph (run it on
    ``condensation(...)`` output to layer a cyclic import graph).

    Iterative max-relaxation, one superstep per level: propagate
    level(u)+1 across u→v, keep the max per v, stop when nothing grows.
    Terminates in (depth) supersteps on a DAG; a cycle would grow forever,
    so exceeding ``max_iterations`` raises (cycle evidence, not a partial
    answer). → (id, level).

    Scale shape: the edge set is hash-partitioned on src once and
    persisted; each superstep is one shuffle_hash join + one map-side-
    combined max; lazy localCheckpoint truncation; the whole call runs
    in ``session.engine_call`` (AQE off).
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
        # edge endpoints are ALWAYS levelled; ``vertices`` only ADDS isolated
        # nodes (a vertices arg missing endpoints must not silently truncate
        # relaxation — the grown test could then converge early and wrongly)
        nodes = ed.select(F.col("src").alias("id")).unionByName(
            ed.select(F.col("dst").alias("id"))
        )
        if vertices is not None:
            nodes = nodes.unionByName(vertices.select("id"))
        level = nodes.distinct().withColumn("level", F.lit(0))
        level = level.repartition(nparts, "id").localCheckpoint(eager=False)
        try:
            it = 0
            while True:
                it += 1
                pushed = (
                    ed.join(
                        level.select(F.col("id").alias("src"), "level").hint("shuffle_hash"),
                        "src",
                    )
                    .select(F.col("dst").alias("id"), (F.col("level") + 1).alias("level"))
                )
                new_level = (
                    level.unionByName(pushed)
                    .groupBy("id")
                    .agg(F.max("level").alias("level"))
                    .localCheckpoint(eager=False)
                )
                grown = (
                    new_level.join(
                        level.withColumnRenamed("level", "_old").hint("shuffle_hash"), "id"
                    )
                    .filter(F.col("level") > F.col("_old"))
                    .count()
                )
                level = new_level
                if grown == 0:
                    break
                # a depth-D DAG grows on supersteps 1..D and confirms on D+1,
                # so the budget bounds GROWTH supersteps, not the confirm pass
                if it > max_iterations:
                    raise RuntimeError(
                        f"dag_levels still relaxing after {max_iterations} supersteps — "
                        "the input graph has a cycle (or raise max_iterations)"
                    )
        finally:
            ed.unpersist()
    return level
