"""The vid layer: string vertex id ⇄ dense long vid, shared by every
graph operator. Everything that builds, encodes or decodes a vid map
lives here, once:

- ``universe``: the vertex universe as one ``(id, _known)`` row per id —
  endpoints (known=0) ∪ a supplied vertex table (known=1) when that
  table is validated, otherwise the table's ids or the distinct
  endpoints. Whatever aggregate first reads it returns the endpoint
  guard too: ``count − Σknown`` endpoints are missing from the table,
  and ``endpoints_missing_error`` is the one error they raise
  (PageRank's build aggregate, ``hash_encode``, ``undirected_build``,
  ``covered_ids``). ``build_vertices`` is its unchecked id column.
- ``hashed_vids``: vid = xxhash64(id) — zero extra jobs, deterministic
  under partition recompute, order-AGNOSTIC. ``hash_encode`` builds the
  map and the join-free encoded edges with ONE job that checks both the
  endpoints and vid collisions (CC star, SCC); PageRank fuses the same
  checks into its build aggregate. Collisions (birthday bound ~2e-7 at
  4M vertices) fall back to ``string_sorted_vids``, inside
  ``hash_encode`` and inside PageRank's build.
- the vertex-set key ``(n, Σ xxhash64(id))``: both kinds of vid depend
  on the id SET alone, so equal keys mean equal vids. ``undirected_build``
  and ``hash_encode`` return it from the aggregate they already run; it
  guards the label loops' vid-space checkpoints.
- ``string_sorted_vids``: vid = 1-based rank of id in ascending string
  order, 1..n DENSE, computed WITHOUT a global single-task sort:

      range-exchange by id  →  per-partition sort, rank = record number
      inside the partition (parallel)  →  + per-partition offset (one
      tiny collect of per-partition counts; the offsets ride the plan as
      a literal array indexed by the partition id).

  The range boundaries are sampled once when the exchange first
  materializes and live in the shuffle's partitioner, so a recomputed
  partition sees the same boundaries (the ranked table is persisted and
  filled by the count collect for exactly that reason). At 10^12
  vertices every stage of this is parallel: no task ever sees more than
  one range partition.
- ``undirected_build``: the one undirected build (LPA, CC propagation,
  ``prepare_undirected``) — universe, endpoint guard, sorted vids, encode
  joins, int32 narrowing and canonical pairs in ONE driver action.
- the decode family: ``decode_pair`` (vid, lbl) → (id, label) for
  final label outputs, ``encode_pair`` its inverse for ``hash_encode``'s
  collision path, and ``relabel_min_id``, which renames each label group
  to its min string id whatever the vid order (hashed vids, or groups a
  chain member undercuts).

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

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

# string_sorted_vids assigns DENSE ranks 1..n, so whenever n fits int32 a
# propagation loop's long-lived edge cache and label state can store 4-byte
# vids — an order-preserving narrowing (labels stay bitwise identical) that
# halves the per-superstep DRAM stream and shuffle bytes. Above the limit
# everything stays bigint: the 10^12-vertex deployment keeps working, it
# just pays the wide keys. (xxhash64 vids never narrow.)
INT_VID_LIMIT = 2_147_483_000


def universe(
    edges: DataFrame, vertices: DataFrame | None = None, validate_vertices: bool = True
) -> DataFrame:
    """The vertex universe as one (id, _known) row per id. With a supplied
    ``vertices`` table that is validated it is endpoints (known=0) ∪
    vertices (known=1), so any aggregate over it counts the endpoints the
    table misses as ``count − Σknown`` (a UNION ALL into the aggregate, in
    place of an anti-join); otherwise every row is known: the table's ids,
    or the distinct edge endpoints."""
    ends = edges.select(F.col("src").alias("id")).unionByName(edges.select(F.col("dst").alias("id")))
    if vertices is None:
        rows = ends.select("id", F.lit(1).alias("_known"))
    elif validate_vertices:
        rows = ends.select("id", F.lit(0).alias("_known")).unionByName(
            vertices.select("id", F.lit(1).alias("_known"))
        )
    else:
        rows = vertices.select("id", F.lit(1).alias("_known"))
    return rows.groupBy("id").agg(F.max("_known").alias("_known"))


def build_vertices(edges: DataFrame, vertices: DataFrame | None) -> DataFrame:
    """Vertex universe ids, unchecked: provided table (id) or distinct src ∪ dst."""
    return universe(edges, vertices, validate_vertices=False).select("id")


def covered_ids(
    edges: DataFrame, vertices: DataFrame | None = None, validate_vertices: bool = True
) -> DataFrame:
    """``build_vertices`` after the endpoint guard: a validated vertex
    table that misses an endpoint raises ``endpoints_missing_error`` from
    one aggregate over the universe."""
    if vertices is not None and validate_vertices:
        u = universe(edges, vertices)
        missing = u.agg(F.count("*") - F.sum("_known")).first()[0]
        if missing:
            raise endpoints_missing_error(missing)
    return build_vertices(edges, vertices)


def hashed_vids(verts: DataFrame, id_col: str = "id") -> DataFrame:
    """(id, …) → + vid = xxhash64(id). Caller must collision-check."""
    return verts.withColumn("vid", F.xxhash64(id_col))


def _id_hash_sum() -> Column:
    """Σ xxhash64(id), exact: decimal, so no int64 overflow."""
    return F.sum(F.xxhash64("id").cast("decimal(38,0)"))


def hash_encode(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    validate_vertices: bool = True,
    num_partitions: int | None = None,
) -> tuple[DataFrame, DataFrame, list[int]]:
    """(vmap (id, vid), encoded edges (src, dst), vertex-set key) with
    hashed vids, after ONE driver action: an aggregate over the universe
    that returns the endpoints a validated vertex table misses (raised
    first), the count-distinct vid collision check and the key. Both
    frames are plain projections — the edges encode with no join. On a
    collision the ids are ranked by ``string_sorted_vids`` instead and the
    edges encoded by ``encode_pair``."""
    chk = hashed_vids(universe(edges, vertices, validate_vertices)).agg(
        F.count("*").alias("n"), F.sum("_known").alias("known"), F.count_distinct("vid").alias("nv"),
        _id_hash_sum().alias("h"),
    ).first()
    if chk["n"] != chk["known"]:
        raise endpoints_missing_error(chk["n"] - chk["known"])
    key = [chk["n"], int(chk["h"] or 0)]
    # the guard passed, so the supplied table alone is the universe
    verts = build_vertices(edges, vertices)
    if chk["nv"] != chk["n"]:
        vmap = string_sorted_vids(verts, "id", num_partitions)
        return vmap, encode_pair(edges.select("src", "dst"), vmap).toDF("src", "dst"), key
    enc = hashed_vids(edges.select("src", "dst"), "src").select(F.col("vid").alias("src"), "dst")
    return hashed_vids(verts), hashed_vids(enc, "dst").select("src", F.col("vid").alias("dst")), key


def _ranked(rows: DataFrame, nparts: int) -> DataFrame:
    """One (id, _known) row per id → the ids, range-partitioned by id and
    sorted within each partition, as a persisted (id, _known, _pid, _rn)
    table: ``_pid`` is the range partition, ``_rn`` the 0-based rank inside
    it. The range boundaries are sampled once, when the exchange first
    materializes, and live in the shuffle's partitioner; a recomputed
    partition re-sorts the same ids, so ``_rn`` is stable. The caller's
    first action over the table fills it."""
    pid = F.spark_partition_id()
    return (
        rows.repartitionByRange(nparts, F.col("id").asc())
        .sortWithinPartitions("id")
        .select(
            "id", "_known", pid.alias("_pid"),
            # record number within the partition (the low 33 bits)
            (F.monotonically_increasing_id() - F.shiftleft(pid.cast("long"), 33)).alias("_rn"),
        )
        .persist()
    )


def _rank_stats(ranked: DataFrame, nparts: int) -> tuple[Column, int, int, list[int]]:
    """ONE collect of per-range-partition (count, Σknown, Σ xxhash64(id)):
    returns the vid column (rank in string order, 1..rows), the row count,
    Σknown and the vertex-set key (rows, Σ xxhash64(id))."""
    stats = {
        r["_pid"]: (r["cnt"], r["known"], r["h"])
        for r in ranked.groupBy("_pid")
        .agg(F.count("*").alias("cnt"), F.sum("_known").alias("known"), _id_hash_sum().alias("h"))
        .collect()
    }
    offsets, acc = [], 1
    for pid in range(nparts):
        offsets.append(F.lit(acc).cast("long"))
        acc += stats.get(pid, (0, 0, 0))[0]
    vid = (F.col("_rn") + F.element_at(F.array(*offsets), F.col("_pid") + 1)).alias("vid")
    key = [acc - 1, sum(int(h) for _, _, h in stats.values())]
    return vid, acc - 1, sum(k for _, k, _ in stats.values()), key


def string_sorted_vids(
    verts: DataFrame, id_col: str = "id", num_partitions: int | None = None
) -> DataFrame:
    """(id_col) → (id_col, vid) with vid = rank of id in ascending string
    order (1..n, dense). Distributed: range exchange + parallel
    per-partition sort + per-partition offsets; no single-task global sort.

    The returned DataFrame is persisted and materialized (the caller
    unpersists)."""
    spark = SparkSession.getActiveSession()
    nparts = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    ranked = _ranked(
        verts.select(F.col(id_col).alias("id")).distinct().withColumn("_known", F.lit(1)), nparts
    )
    vid, _, _, _ = _rank_stats(ranked, nparts)
    out = ranked.select(F.col("id").alias(id_col), vid).persist()
    out.count()
    ranked.unpersist()
    return out


def canonical_pairs(enc: DataFrame) -> DataFrame:
    """Encoded (src, dst) → the canonical undirected edge set: (max, min)
    pairs, distinct, self-loops dropped. canon ∪ reverse(canon) is then
    the symmetric distinct edge set with no second dedup."""
    return (
        enc.select(F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def symmetric_pairs(canon: DataFrame) -> DataFrame:
    return canon.unionByName(canon.select(F.col("dst").alias("src"), F.col("src").alias("dst")))


@dataclass
class UndirectedBuild:
    vmap: DataFrame  # (id string, vid long): string-sorted dense vids 1..n
    canon: DataFrame  # canonical_pairs of the encoded edges; int vids when narrowed
    n: int
    cache: DataFrame  # the persisted rank table under vmap
    key: list[int]  # the vertex-set key (n, Σ xxhash64(id))


def undirected_build(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    num_partitions: int | None = None,
    validate_vertices: bool = True,
    narrow: bool = True,
    require_vertices: bool = False,
) -> UndirectedBuild:
    """The undirected graph build shared by LPA, CC propagation and
    ``prepare_undirected``: string-sorted vids, the encode joins, the
    optional int32 narrowing and the canonical pairs — in ONE driver action.

    The vertices are ranked over ``universe``, so one collect of
    per-range-partition (count, Σknown, Σ xxhash64(id)) gives the offsets,
    n = Σknown, the missing endpoints (count − Σknown) and the vertex-set
    key. Nothing else is
    materialized: the rank table under ``vmap`` is filled by that collect,
    and the encode joins and the caller's edge cache run inside the
    caller's first superstep.

    ``narrow``: store dense vids as int32 when n < INT_VID_LIMIT — an
    order-preserving cast, so labels stay bitwise the long path's.
    ``require_vertices``: raise "empty graph" when n == 0 (checked before
    the endpoint guard, the order ``prepare_undirected`` has always had).
    """
    spark = SparkSession.getActiveSession()
    nparts = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    cache = _ranked(universe(edges, vertices, validate_vertices), nparts)
    vid, n_rows, n, key = _rank_stats(cache, nparts)
    err = None
    if require_vertices and n == 0:
        err = ValueError("empty graph")
    elif n_rows != n:
        err = endpoints_missing_error(n_rows - n)
    if err is not None:
        cache.unpersist()
        raise err
    vmap = cache.select("id", vid)
    enc = (
        edges.select("src", "dst")
        .join(vmap.select(F.col("id").alias("src"), F.col("vid").alias("_s")), "src")
        .join(vmap.select(F.col("id").alias("dst"), F.col("vid").alias("_t")), "dst")
    )
    vid_t = "int" if narrow and n < INT_VID_LIMIT else "long"
    enc = enc.select(F.col("_s").cast(vid_t).alias("src"), F.col("_t").cast(vid_t).alias("dst"))
    return UndirectedBuild(vmap, canonical_pairs(enc), n, cache, key)


def decode_pair(pairs: DataFrame, vmap: DataFrame, label: str) -> DataFrame:
    """Two vid columns (vertex, label) → (id, ``label``) strings: a final
    label output (checkpoints stay in vid space). shuffle_hash: an SMJ
    would sort both |V|-sized sides twice. The map's vids take the pairs'
    dtype (narrowed int vids are all < INT_VID_LIMIT), so pairs already
    partitioned by vertex — a loop's label state — join without a
    re-shuffle; widening the pairs to long would re-hash them."""
    pairs = pairs.toDF("vid", "lbl")
    ids = vmap.select(F.col("vid").cast(pairs.schema["vid"].dataType).alias("vid"), "id")
    return (
        pairs.join(ids.hint("shuffle_hash"), "vid")
        .join(ids.select(F.col("vid").alias("lbl"), F.col("id").alias(label)).hint("shuffle_hash"), "lbl")
        .select("id", label)
    )


def encode_pair(pairs: DataFrame, vmap: DataFrame) -> DataFrame:
    """Two string-id columns → (vid, lbl): the inverse of ``decode_pair``,
    which encodes the edges after a hash collision in ``hash_encode``.
    Inner joins: ids outside the map drop out."""
    return (
        pairs.toDF("id", "_lid")
        .join(vmap.select("id", "vid").hint("shuffle_hash"), "id")
        .join(
            vmap.select(F.col("id").alias("_lid"), F.col("vid").alias("lbl")).hint("shuffle_hash"),
            "_lid",
        )
        .select("vid", "lbl")
    )


def relabel_min_id(lab: DataFrame, label: str) -> DataFrame:
    """(id, lbl) → (id, ``label``): every lbl group renamed to its min
    string id — the component contract whatever order the group keys
    have. One groupBy + one shuffle_hash join-back; ``lab`` feeds both, so
    a caller whose ``lab`` is an expensive plan checkpoints it first."""
    rep = lab.groupBy("lbl").agg(F.min("id").alias(label))
    return lab.join(rep.hint("shuffle_hash"), "lbl").select("id", label)


def endpoints_missing_error(missing: int) -> ValueError:
    return ValueError(
        f"{missing} edge endpoint(s) are not in the supplied vertices table; "
        "pass vertices=None to derive the universe from the edges, or fix the table "
        "(validate_vertices=False skips this check)"
    )

