"""SparkSession factory.

Local-mode settings tuned for the sandbox (single JVM, local[N]); on a real
cluster the same builder works — only master/memory change. Shuffle
partitions are pinned to the parallelism level so iterative supersteps keep
a stable partitioning across iterations (SURVEY.md §4: AQE coalescing must
not drift the co-partitioning of edges and ranks between iterations — we
pin `spark.sql.shuffle.partitions` and rely on persisted repartitioned
DataFrames whose InMemoryRelation preserves outputPartitioning).

``engine_call`` is the one execution policy of every iterative operator:
each public operator runs its whole call, build included, inside it.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession


# Generated classes kept by Spark's codegen cache (one per JVM; Spark's
# default is 100). One cold pass of PageRank, CC and LPA over the sf0.001
# graph compiles 210 classes (91 + 56 + 63), so at the default every warm
# call evicted and re-compiled its own — the C2 JIT then was the largest
# CPU cost of a warm CC + LPA round. 2000 holds several graphs' and plan
# shapes' worth (int or long vids, frontier, prepared, CSR).
CODEGEN_CACHE_ENTRIES = 2000


def _quarter_of_memory() -> str:
    """A quarter of the machine's physical memory, as a Spark size string."""
    return f"{os.sysconf('SC_PAGE_SIZE') * os.sysconf('SC_PHYS_PAGES') // (4 << 20)}m"


def get_spark(
    app_name: str = "pagerank_project_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    cores: None → use ``local[*]``; otherwise ``local[cores]``.
    shuffle_partitions: defaults to cores (or 32 for ``local[*]``).
    """
    if cores is None:
        env_cores = os.environ.get("SPARK_GRAFT_CPUS")
        cores = int(env_cores) if env_cores else 0
    master = f"local[{cores}]" if cores else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = cores if cores else 32

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM") or _quarter_of_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # a static conf: it takes effect only in a JVM this builder starts
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# The conf of one operator call; ``engine_call`` restores the caller's values.
# Spark 4.1's union output partitioning goes off with AQE: without AQE's
# re-planning, Spark 4.1.2 failed to plan ppr_batch's cone-filtered weight
# build over the extracted code graph, a union of edge kinds
# ("PartitioningCollection requires all of its partitionings have the same
# numPartitions"). Off, a union reports no output partitioning, as in 4.0.
_CALL_CONF = {
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.unionOutputPartitioning": "false",
}


@contextmanager
def engine_call(spark: SparkSession):
    """Run one operator call with AQE off. The caller's settings are
    restored on exit, also when the call raises; a nested call restores
    the values its enclosing call set.

    AQE's per-stage re-planning costs ~30% per PageRank superstep (measured
    at sf1) and makes every shuffle of a build its own Spark job, and it
    buys nothing in a call whose plan shapes and partitioning are fixed.
    Cost at scale: AQE's skew-join no longer splits a hub partition of the
    build's encode joins."""
    before = {k: spark.conf.get(k) for k in _CALL_CONF}
    for k, v in _CALL_CONF.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)
