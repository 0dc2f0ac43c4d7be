"""CSR-block vectorized superstep (strategy 2) + hub salting.

BASELINE.json north_star mandates the SpMV path "expressed as DataFrame
joins plus vectorized pandas/Arrow UDFs performing the sparse
gather-scatter over per-partition CSR blocks (no per-row Python)".

Physical shape:

1. the weighted edge table is hash-partitioned ONCE by the salted source
   key ``(src, salt)`` and persisted; partitioning is reused every
   iteration.
2. per iteration, the rank vector is attached by an equi-join ON THE
   SAME KEY PAIR ``(src, salt)`` (the *gather*): rank rows for hub
   sources are replicated across the S salt buckets (hub list is tiny —
   broadcast), non-hub rows carry salt 0. The persisted edge partitioning
   therefore satisfies the join's required distribution and only the
   (|V|+replicas)-row rank side moves — the edges are NEVER reshuffled
   in the loop. (Joining on ``src`` alone, as round 1 did, silently
   re-exchanged all edges every superstep: HashPartitioning(src, salt)
   does not satisfy a clustering on src.) This is the only rank-side
   path: the rank vector is never broadcast (see operators/pagerank.py).
3. ``mapInPandas`` then performs the *scatter*: inside each Arrow batch
   the edges form a sparse block of Pᵀ in CSR-by-row=dst form (built with
   ``pandas.factorize`` — the block's compressed row index — and summed
   with ``np.bincount``), emitting one partial sum per distinct dst in
   the block. No per-row Python: everything is numpy over Arrow columns.
4. a final ``groupBy(dst).sum`` reduces partials across blocks
   (shuffle-reduced, map-side combined).

Salting (SURVEY.md §2.6): a vertex with pathological out-degree (the hub
repo's entry file holds ~30% of cross-repo references in the fixture)
would otherwise pin all its edges to one partition of the src-hash
layout. Hub srcs (outdeg > threshold) get ``salt = pmod(xxhash64(dst),
S)`` so their edge lists split across S buckets; non-hubs keep salt 0.
The scatter result is salt-oblivious (partials are summed by dst anyway),
so correctness is unchanged — verified by the salting-on/off equivalence
test.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

CONTRIB_SCHEMA = "dst long, c double"  # dst = encoded vertex id (long)


def prepare_salted_edges(
    weighted: DataFrame,
    num_partitions: int,
    salt_buckets: int = 8,
    hub_degree_threshold: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(src, dst, w) → ((src, dst, w, salt) hash-partitioned by (src, salt),
    hubs (src) — the tiny high-out-degree dimension).

    hub_degree_threshold None → auto: max(256, 32 × mean out-degree).
    Caller persists both; the partitioning survives via the cache.
    """
    outdeg = weighted.groupBy("src").agg(F.count("*").alias("_od"))
    if hub_degree_threshold is None:
        row = outdeg.agg(F.avg("_od").alias("m")).first()
        hub_degree_threshold = int(max(256, 32 * (row["m"] or 1.0)))
    hubs = outdeg.filter(F.col("_od") > hub_degree_threshold).select("src")
    e = (
        weighted.join(F.broadcast(hubs.withColumn("_h", F.lit(True))), "src", "left")
        .withColumn(
            "salt",
            F.when(
                F.col("_h").isNotNull(),
                F.pmod(F.xxhash64("dst"), F.lit(salt_buckets)).cast("int"),
            ).otherwise(F.lit(0)),
        )
        .drop("_h")
    )
    return e.repartition(num_partitions, "src", "salt"), hubs


def replicate_rank_for_salt(
    rank_side: DataFrame, hubs: DataFrame | None, salt_buckets: int
) -> DataFrame:
    """(_src, rank) → (_src, rank, salt): hub rows × S salts, others salt 0.
    Keeps the per-iteration shuffle at |V| + (S−1)·|hubs| rows while the
    persisted (src, salt) edge partitioning is reused un-shuffled.
    ``hubs=None`` (no hub): every row takes salt 0 and nothing is joined —
    the hub list's broadcast would be a Spark job of its own."""
    if hubs is None:
        return rank_side.select("_src", "rank", F.lit(0).alias("salt"))
    return (
        rank_side.join(
            F.broadcast(hubs.select(F.col("src").alias("_src"), F.lit(True).alias("_h"))),
            "_src",
            "left",
        )
        .select(
            "_src",
            "rank",
            F.explode(
                F.when(
                    F.col("_h").isNotNull(),
                    F.sequence(F.lit(0), F.lit(salt_buckets - 1)),
                ).otherwise(F.array(F.lit(0)))
            ).alias("salt"),
        )
        .withColumn("salt", F.col("salt").cast("int"))
    )


def _scatter_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Per-Arrow-batch CSR scatter: partial Σ (w·rank) per dst (numpy only).
    The w·rank product arrives precomputed from the JVM side — one fewer
    float64 column over the Arrow boundary per superstep."""
    for pdf in batches:
        if len(pdf) == 0:
            continue
        # factorize = the block's compressed row index; bincount = the
        # scatter-add (measured ~20× faster than np.add.at on the codes)
        codes, uniques = pd.factorize(pdf["dst"], sort=False)
        sums = np.bincount(codes, weights=pdf["wr"].to_numpy(np.float64))
        yield pd.DataFrame({"dst": uniques, "c": sums})


def csr_partials(
    salted_edges: DataFrame, rank_side: DataFrame, hubs: DataFrame | None, salt_buckets: int
) -> DataFrame:
    """One superstep's α-free PARTIAL contributions: (dst, c) with one row
    per distinct dst per Arrow batch (the caller's groupBy finishes the
    reduction — map-side combined, so salting stays correctness-neutral).

    The gather is a salt-replicated shuffled hash join on (src, salt): the
    keys co-partition with the persisted edge layout, so edges never move.
    Without hubs (F1 at the auto threshold) a superstep is 1 Spark job,
    pinned by ``test_one_job_per_superstep``; the hub list's broadcast
    adds a job of its own.
    """
    # the hint forbids an auto-broadcast of the replicated rank side — see
    # operators/pagerank.py
    rep = replicate_rank_for_salt(rank_side, hubs, salt_buckets).hint("shuffle_hash")
    return (
        salted_edges.join(
            rep,
            (salted_edges.src == rep["_src"]) & (salted_edges.salt == rep["salt"]),
            "inner",
        )
        .select("dst", (F.col("w") * F.col("rank")).alias("wr"))
        .mapInPandas(_scatter_batches, schema=CONTRIB_SCHEMA)
    )
