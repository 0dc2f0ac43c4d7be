"""Prepared persistent graph — pay the one-time graph build ONCE per corpus.

The measured setup cost of a PageRank run at sf16+ (vid-encode joins,
out-degree weights, repartition + per-partition sort) is hundreds of
seconds at 1×4 executors — and it is identical for every query over the
same corpus. A production deployment runs MANY queries (personalized
vectors, different modes, CC, LPA) over one slowly-changing graph, so the
build belongs in a prepare step whose output is a persistent table:

- ``{path}/vertices``: parquet ``(id string, vid long, dang double)`` —
  the dictionary encoding (xxhash64 with the string-sorted collision
  fallback of ``pagerank.build_graph``) plus the dangling indicator.
- ``{path}/edges``: a BUCKETED, per-bucket-SORTED parquet table
  ``(src long, dst long, w double)``, ``CLUSTERED BY (src) … INTO n
  BUCKETS``. A bucketed scan reports ``HashPartitioning(src, n)`` (Spark's
  table-bucket hash is the same Murmur3 the shuffle uses), so the
  per-superstep join and every ``groupBy(src)`` consume it with ZERO
  exchange on the edge side — the property the in-run
  ``repartition + sortWithinPartitions`` setup step otherwise buys with a
  full shuffle per run. Written with ``repartition(n, src)`` first so each
  bucket is exactly one file (multi-file buckets lose the scan's
  sorted-output guarantee).
- ``{path}/manifest.json``: counts, bucket count, table name.

Bucket metadata lives in the session catalog, which the default in-memory
catalog forgets across sessions — ``load_prepared`` re-registers the
external table via DDL when absent, so prepared graphs survive restarts.

Personalization is NOT baked: ``v_raw`` is query-time (it depends on
``v_expr``), computed over the loaded vertex table exactly as the unprepared
path computes it. The in-link-ratio spam filter IS baked (it is a property
of the corpus snapshot): pass ``filter_ratio`` here, not to the query.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

PREPARED_VERSION = 1


@dataclass
class PreparedGraph:
    base: DataFrame  # (id string, vid long, dang double)
    edges: DataFrame  # (src long, dst long, w double), bucketed by src
    n: int  # vertices
    m: int  # weighted encoded edges
    buckets: int


def _edges_table_name(path: str) -> str:
    return "prepared_edges_" + hashlib.md5(os.path.abspath(path).encode()).hexdigest()[:10]


def prepare_graph(
    spark: SparkSession,
    edges: DataFrame,
    path: str,
    vertices: DataFrame | None = None,
    buckets: int | None = None,
    filter_ratio: float | None = None,
    weight_col: str | None = None,
) -> PreparedGraph:
    """Build and persist the query-independent graph state; returns the
    loaded PreparedGraph (reading back what was written, so callers hold
    the exact artifact later sessions will see). The build is PageRank's
    own (``build_graph``), with the supplied vertex table always validated."""
    from pagerank_project_spark.operators.pagerank import build_graph

    buckets = buckets or int(spark.conf.get("spark.sql.shuffle.partitions"))
    g = build_graph(spark, edges, vertices, buckets, filter_ratio=filter_ratio, weight_col=weight_col)

    os.makedirs(path, exist_ok=True)
    # the map is already hash-partitioned by id into ``buckets`` partitions
    g.vmap.select("id", "vid", "dang").write.mode("overwrite").parquet(f"{path}/vertices")

    tbl = _edges_table_name(path)
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    (
        g.edges.repartition(buckets, "src")  # same hash as the bucket spec → ONE file per bucket
        .write.format("parquet")
        .bucketBy(buckets, "src")
        .sortBy("src")
        .option("path", f"{path}/edges")
        .mode("overwrite")
        .saveAsTable(tbl)
    )
    manifest = {"version": PREPARED_VERSION, "n": g.n, "m": g.m, "buckets": buckets, "table": tbl}
    tmp = f"{path}/manifest.json.tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, f"{path}/manifest.json")  # manifest-last: partial writes are invisible
    g.vmap.unpersist()
    return load_prepared(spark, path)


def _catalog_entry_matches(
    spark: SparkSession, tbl: str, path: str, buckets: int, vid_type: str = "bigint"
) -> bool:
    """True iff the registered table's LOCATION resolves to {path}/edges,
    its bucket count matches the manifest being loaded and its src/dst
    columns have the artifact's vid type ("int" or "bigint")."""
    rows = spark.sql(f"DESCRIBE FORMATTED {tbl}").collect()
    meta = {r["col_name"].strip(): (r["data_type"] or "").strip() for r in rows}
    loc = meta.get("Location", "")
    want = os.path.abspath(f"{path}/edges")
    got = os.path.abspath(loc.removeprefix("file:"))
    n_buckets = meta.get("Num Buckets", "")
    return (
        got == want
        and n_buckets == str(buckets)
        and meta.get("src") == vid_type
        and meta.get("dst") == vid_type
    )


def load_prepared(spark: SparkSession, path: str) -> PreparedGraph:
    with open(f"{path}/manifest.json") as f:
        manifest = json.load(f)
    if manifest.get("version") != PREPARED_VERSION:
        raise ValueError(f"prepared graph at {path} has version {manifest.get('version')}, "
                         f"this engine reads {PREPARED_VERSION}")
    tbl, buckets = manifest["table"], manifest["buckets"]
    if spark.catalog.tableExists(tbl) and not _catalog_entry_matches(spark, tbl, path, buckets):
        # the catalog holds a table with this name but a DIFFERENT location
        # or bucket spec (a prepared dir was moved/copied and its original
        # path re-prepared in the same session) — serving it would silently
        # read the other dir's edge files with this manifest's n/m counts
        spark.sql(f"DROP TABLE {tbl}")
    if not spark.catalog.tableExists(tbl):
        # fresh session: the in-memory catalog forgot the bucket spec —
        # re-register the external table over the existing files
        spark.sql(
            f"CREATE TABLE {tbl} (src BIGINT, dst BIGINT, w DOUBLE) USING PARQUET "
            f"CLUSTERED BY (src) SORTED BY (src) INTO {buckets} BUCKETS "
            f"LOCATION '{path}/edges'"
        )
    return PreparedGraph(
        base=spark.read.parquet(f"{path}/vertices"),
        edges=spark.table(tbl),
        n=manifest["n"],
        m=manifest["m"],
        buckets=buckets,
    )


# --------------------------------------------------------------------------
# Prepared UNDIRECTED graph (LPA / propagation-mode consumers)
# --------------------------------------------------------------------------

UND_VERSION = 3  # v3: the manifest holds the vertex-set key (vids.undirected_build)


@dataclass
class PreparedUndirected:
    vmap: DataFrame  # (id string, vid long) — STRING-SORTED vids
    und: DataFrame  # (src, dst) symmetric distinct, bucketed by src; int when n < INT_VID_LIMIT else long
    n: int
    m_und: int  # symmetric row count (2x the canonical pair count)
    buckets: int
    key: list[int]  # vertex-set key (n, Σ xxhash64(id)): guards vid-space checkpoints


def _und_table_name(path: str) -> str:
    return "prepared_und_" + hashlib.md5(os.path.abspath(path).encode()).hexdigest()[:10]


def prepare_undirected(
    spark: SparkSession,
    edges: DataFrame,
    path: str,
    vertices: DataFrame | None = None,
    buckets: int | None = None,
) -> PreparedUndirected:
    """Bake LPA's one-time graph build — the phases the sf16 scaling
    analysis measured as the whole-run cap (BENCH/BASELINE.md): the
    STRING-SORTED vid encode (so min-label tie-breaks stay min-STRING and
    prepared runs are bitwise the direct path), the canonical long-pair
    symmetrize + distinct, and the repartition the per-superstep cache
    otherwise pays per run. The symmetric edge set lands in a bucketed,
    per-bucket-sorted table whose scan reports HashPartitioning(src, n) —
    a querying session persists it with ZERO shuffle and starts
    superstepping."""
    from pagerank_project_spark.operators.vids import symmetric_pairs, undirected_build

    buckets = buckets or int(spark.conf.get("spark.sql.shuffle.partitions"))
    ub = undirected_build(edges, vertices, buckets, require_vertices=True)
    und = symmetric_pairs(ub.canon)
    # int when the dense sorted vids fit int32 (vids.INT_VID_LIMIT): the
    # bucketed files and the querying loop's cache then carry 4-byte keys
    dtype = "int" if und.schema["src"].dataType.simpleString() == "int" else "bigint"

    os.makedirs(path, exist_ok=True)
    ub.vmap.write.mode("overwrite").parquet(f"{path}/vertices")

    tbl = _und_table_name(path)
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    (
        und.repartition(buckets, "src")
        .write.format("parquet")
        # sort by (src, dst) — src gives the scan's sorted-output guarantee,
        # dst makes neighbor lists ascending so the in-memory columnar
        # cache's delta encoding compresses the dst column too
        .sortBy("src", "dst")
        .bucketBy(buckets, "src")
        .option("path", f"{path}/edges")
        .mode("overwrite")
        .saveAsTable(tbl)
    )
    m_und = spark.table(tbl).count()
    manifest = {
        "version": UND_VERSION, "kind": "undirected_sorted",
        "n": ub.n, "m_und": m_und, "buckets": buckets, "table": tbl, "dtype": dtype,
        "key": ub.key,
    }
    tmp = f"{path}/manifest.json.tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, f"{path}/manifest.json")
    ub.cache.unpersist()
    return load_prepared_undirected(spark, path)


def load_prepared_undirected(spark: SparkSession, path: str) -> PreparedUndirected:
    with open(f"{path}/manifest.json") as f:
        manifest = json.load(f)
    if manifest.get("kind") != "undirected_sorted" or manifest.get("version") != UND_VERSION:
        raise ValueError(
            f"prepared dir at {path} is not an undirected_sorted v{UND_VERSION} artifact; "
            "prepare it again"
        )
    tbl, buckets, dtype = manifest["table"], manifest["buckets"], manifest["dtype"]
    sql_t = "INT" if dtype == "int" else "BIGINT"
    if spark.catalog.tableExists(tbl) and not _catalog_entry_matches(spark, tbl, path, buckets, dtype):
        # a stale entry (another location, bucket count or vid type — e.g.
        # registered before this path was re-prepared with other vids)
        spark.sql(f"DROP TABLE {tbl}")
    if not spark.catalog.tableExists(tbl):
        spark.sql(
            f"CREATE TABLE {tbl} (src {sql_t}, dst {sql_t}) USING PARQUET "
            f"CLUSTERED BY (src) SORTED BY (src, dst) INTO {buckets} BUCKETS "
            f"LOCATION '{path}/edges'"
        )
    return PreparedUndirected(
        vmap=spark.read.parquet(f"{path}/vertices"),
        und=spark.table(tbl),
        n=manifest["n"],
        m_und=manifest["m_und"],
        buckets=buckets,
        key=manifest["key"],
    )
