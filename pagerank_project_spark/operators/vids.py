"""Distributed dictionary encoding: string vertex id → dense long vid.

Two encoders, shared by every graph operator:

- ``hashed_vids``: vid = xxhash64(id) — zero extra jobs, deterministic
  under partition recompute, order-AGNOSTIC. Right for PageRank's
  relational path where vid order never surfaces. Collisions (birthday
  bound ~2e-7 at 4M vertices) are detected by the caller and fall back to
  ``string_sorted_vids``.
- ``string_sorted_vids``: vid = 1-based rank of id in ascending string
  order, 1..n DENSE, computed WITHOUT a global single-task sort:

      range-exchange by id  →  per-partition sort (row_number over a
      Window partitioned by the physical partition id — parallel)  →
      + per-partition offset (tiny driver-side cumulative sum, broadcast
      joined back).

  The range boundaries are sampled once when the exchange first
  materializes and live in the shuffle's partitioner, so a recomputed
  partition sees the same boundaries (the persisted DataFrame is counted
  eagerly here for exactly that reason). At 10^12 vertices every stage of
  this is parallel: no task ever sees more than one range partition.

Why string-sorted DENSE vids matter (not just any unique longs):

- min-label propagation over vids is then EXACTLY min-string propagation
  at every intermediate superstep — fixed-iteration results (cc_iter5,
  mid-run checkpoints) match a string-space oracle on any graph, not
  just ones that converge within the budget.
- LPA's (count desc, label asc) tie-break becomes oracle-exact the same
  way.
- dense 1..n codes let CSR kernels ``np.bincount`` directly.

Spark orders strings by unsigned-byte comparison of UTF-8; Python/DuckDB
compare code points — identical ordering for any ASCII ids and for all
valid UTF-8 (byte order ≡ code-point order in UTF-8).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

# string_sorted_vids assigns DENSE ranks 1..n, so whenever n fits int32 a
# propagation loop's long-lived edge cache and label state can store 4-byte
# vids — an order-preserving narrowing (labels stay bitwise identical) that
# halves the per-superstep DRAM stream and shuffle bytes. Above the limit
# everything stays bigint: the 10^12-vertex deployment keeps working, it
# just pays the wide keys. (xxhash64 vids never narrow.)
# SPARK_GRAFT_INT_VID_LIMIT overrides (0 forces wide keys — the measured
# A/B lever and the ops escape hatch).
import os as _os

INT_VID_LIMIT = int(_os.environ.get("SPARK_GRAFT_INT_VID_LIMIT", 2_147_483_000))


def hashed_vids(verts: DataFrame, id_col: str = "id") -> DataFrame:
    """(id, …) → + vid = xxhash64(id). Caller must collision-check."""
    return verts.withColumn("vid", F.xxhash64(id_col))


def string_sorted_vids(
    verts: DataFrame, id_col: str = "id", num_partitions: int | None = None
) -> DataFrame:
    """(id_col) → (id_col, vid) with vid = rank of id in ascending string
    order (1..n, dense). Distributed: range exchange + parallel
    per-partition sort + broadcast offsets; no single-task global sort.

    ``verts`` must have distinct ids (vertex universes do). The returned
    DataFrame is persisted and materialized (the caller unpersists).
    """
    spark = SparkSession.getActiveSession()
    nparts = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    ranged = (
        verts.select(id_col)
        .repartitionByRange(nparts, F.col(id_col).asc())
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    # one pass: per-range-partition row counts (tiny result, ≤ nparts rows).
    # Materializing here also pins the sampled range boundaries into the
    # exchange's partitioner before the second pass reads the cache.
    pid_counts = {r["_pid"]: r["cnt"] for r in ranged.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()}
    offsets, acc = [], 0
    for pid in range(nparts):
        offsets.append((pid, acc))
        acc += pid_counts.get(pid, 0)
    off_df = spark.createDataFrame(offsets, "_pid int, _off long")
    w = Window.partitionBy("_pid").orderBy(F.col(id_col).asc())
    vmap = (
        ranged.withColumn("_rn", F.row_number().over(w))
        .join(F.broadcast(off_df), "_pid")
        .select(id_col, (F.col("_rn") + F.col("_off")).cast("long").alias("vid"))
    )
    out = vmap.persist()
    out.count()
    ranged.unpersist()
    return out


def endpoints_missing_error(missing: int) -> ValueError:
    return ValueError(
        f"{missing} edge endpoint(s) are not in the supplied vertices table; "
        "pass vertices=None to derive the universe from the edges, or fix the table "
        "(validate_vertices=False skips this check)"
    )


def assert_endpoints_covered(edges: DataFrame, verts: DataFrame) -> None:
    """Guard against the silent-subgraph failure: endpoints missing from a
    user-supplied vertex table would be dropped by the encode joins, and
    every downstream result (ranks, labels, communities) would be silently
    wrong. One setup-time co-partitioned left_anti count."""
    missing = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
        .join(verts.select("id"), "id", "left_anti")
        .count()
    )
    if missing:
        raise endpoints_missing_error(missing)
