"""Link-graph edge extraction from the source-code repository table.

Input: the Iceberg-style table ``(repo, path, commit, lang, content,
content_sha256)`` (datagen.py / FIXTURES.md §F2). Output: the edge table
``(src, dst, kind)`` with vertex keys ``repo:stem`` (stem = path minus
extension) — the engine's analogue of the reference's CSV edge list
(reference: pagerank.py:28-39; "one row per <a> tag", README.md:59).

Everything is expression-level Catalyst code: ``regexp_extract_all`` per
lang (literal pattern per CASE branch — patterns stay foldable so codegen
applies), ``explode``, and two resolution joins against the (small) file
and repo dimension tables. No Python UDFs anywhere.

The per-row sha256 content-equality invariant (BASELINE.json input_hint)
is asserted at extraction time: ``F.sha2(content, 256) == content_sha256``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# per-lang import patterns → capture group 1 = the referenced module/stem
IMPORT_PATTERNS = {
    "python": r"(?m)^from\s+([\w.]+)\s+import\b",
    "js": r"(?m)^import\s+\w+\s+from\s+\"\./([\w/]+)\";",
    "java": r"(?m)^import\s+([\w.]+);",
    "go": r"(?m)^import\s+\"([\w/]+)\"",
}
# dotted module path (python/java) → slash stem
DOTTED_LANGS = ("python", "java")
REQUIRES_PATTERN = r"(?m)requires:\s+([\w./-]+)"


class ShaInvariantError(AssertionError):
    pass


def assert_sha_invariant(files: DataFrame) -> None:
    """Per-row invariant: sha2(content) == content_sha256 (one agg action)."""
    bad = files.filter(F.sha2(F.col("content"), 256) != F.col("content_sha256")).count()
    if bad:
        raise ShaInvariantError(f"{bad} rows violate sha256(content) == content_sha256")


def _stem(path_col):
    return F.regexp_replace(path_col, r"\.[a-z]+$", "")


def file_dim(files: DataFrame) -> DataFrame:
    """(repo, stem) dimension with vertex key — small relative to content."""
    return files.select(
        "repo",
        _stem(F.col("path")).alias("stem"),
        F.concat_ws(":", "repo", _stem(F.col("path"))).alias("vid"),
    )


def extract_edges(files: DataFrame, verify_sha: bool = True) -> DataFrame:
    """→ edge DataFrame (src, dst, kind) with kind ∈ {import, requires}.

    - import edges resolve (repo, referenced stem) against the file dim;
      unresolved references are dropped (same as a dead <a> link).
    - requires edges resolve ``org/repo`` → that repo's entry file
      (stem ``src/mod0/file0``).
    Both joins broadcast the dimension when small; at 10^12-file scale the
    file dim is big → Catalyst/AQE picks a shuffle join on (repo, stem),
    which co-partitions by repo and stays skew-safe because references are
    within-repo by construction.
    """
    if verify_sha:
        assert_sha_invariant(files)

    dim = file_dim(files)
    src_key = F.concat_ws(":", "repo", _stem(F.col("path")))

    # --- import edges (file→file within repo) ---------------------------
    import_expr = (
        F.when(F.col("lang") == "python", F.regexp_extract_all(F.col("content"), F.lit(IMPORT_PATTERNS["python"]), F.lit(1)))
        .when(F.col("lang") == "js", F.regexp_extract_all(F.col("content"), F.lit(IMPORT_PATTERNS["js"]), F.lit(1)))
        .when(F.col("lang") == "java", F.regexp_extract_all(F.col("content"), F.lit(IMPORT_PATTERNS["java"]), F.lit(1)))
        .when(F.col("lang") == "go", F.regexp_extract_all(F.col("content"), F.lit(IMPORT_PATTERNS["go"]), F.lit(1)))
        .otherwise(F.array().cast("array<string>"))
    )
    refs = (
        files.select(
            "repo",
            src_key.alias("src"),
            F.col("lang"),
            F.explode(import_expr).alias("ref"),
        )
        .withColumn(
            "ref_stem",
            F.when(F.col("lang").isin(*DOTTED_LANGS), F.translate("ref", ".", "/")).otherwise(F.col("ref")),
        )
    )
    # both sides descend from ``files``: alias them so the repo predicate
    # resolves per side instead of through Spark's self-join rewrite
    r, d = refs.alias("r"), dim.alias("d")
    imports = (
        r.join(d, on=[F.col("r.repo") == F.col("d.repo"), F.col("r.ref_stem") == F.col("d.stem")], how="inner")
        .select(F.col("r.src"), F.col("d.vid").alias("dst"), F.lit("import").alias("kind"))
    )

    # --- requires edges (cross-repo → target repo entry file) -----------
    entry_dim = dim.filter(F.col("stem") == "src/mod0/file0").select(
        F.col("repo").alias("target_repo"), F.col("vid").alias("dst")
    )
    req = files.select(
        src_key.alias("src"),
        F.explode(F.regexp_extract_all(F.col("content"), F.lit(REQUIRES_PATTERN), F.lit(1))).alias("target_repo"),
    )
    requires = req.join(entry_dim, "target_repo", "inner").select(
        "src", "dst", F.lit("requires").alias("kind")
    )

    return imports.unionByName(requires)


def vertices_from_files(files: DataFrame) -> DataFrame:
    """Every file is a vertex (isolated files included) → (id: string)."""
    return files.select(F.concat_ws(":", "repo", _stem(F.col("path"))).alias("id"))
