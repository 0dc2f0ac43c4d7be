"""Edge extraction must reproduce the generator's intended edges exactly
(multiset equality — parallel edges matter, reference COO additive
semantics pagerank.py:63-67), and the sha256 invariant must hold/trip."""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pagerank_project_spark import datagen
from pagerank_project_spark.datagen import generate
from pagerank_project_spark.operators.extract import (
    ShaInvariantError,
    assert_sha_invariant,
    extract_edges,
    vertices_from_files,
)


@pytest.fixture(scope="module")
def st():
    return generate(0.001)


@pytest.fixture(scope="module")
def files_df(spark, st):
    return spark.createDataFrame(st.files)


def _multiset(df: pd.DataFrame) -> pd.DataFrame:
    return (
        df.groupby(["src", "dst"]).size().reset_index(name="n").sort_values(["src", "dst"]).reset_index(drop=True)
    )


def test_extraction_matches_intended_edges(spark, st, files_df):
    got = extract_edges(files_df).select("src", "dst").toPandas()
    exp = st.edges[["src", "dst"]]
    pd.testing.assert_frame_equal(_multiset(got), _multiset(exp))


def test_extraction_kinds(spark, st, files_df):
    got = extract_edges(files_df, verify_sha=False).groupBy("kind").count().toPandas()
    exp = st.edges.kind.value_counts()
    got_map = dict(zip(got["kind"], got["count"]))
    assert got_map == {k: int(v) for k, v in exp.items()}


def test_vertices_include_isolated_files(spark, st, files_df):
    n = vertices_from_files(files_df).distinct().count()
    assert n == len(st.files)
    touched = len(set(st.edges.src) | set(st.edges.dst))
    assert n > touched  # isolated files exist and are counted as vertices


def test_sha_invariant_trips_on_tamper(spark, st, files_df):
    assert_sha_invariant(files_df)  # clean table passes
    tampered = files_df.withColumn(
        "content",
        F.when(F.col("path") == st.files.path.iloc[0], F.concat(F.col("content"), F.lit("x"))).otherwise(
            F.col("content")
        ),
    )
    with pytest.raises(ShaInvariantError):
        assert_sha_invariant(tampered)


def test_fixture_roundtrip(spark, sf0001_fixture, st):
    files = spark.read.parquet(f"{sf0001_fixture}/source_table/data")
    assert files.count() == len(st.files)
    intended = spark.read.parquet(f"{sf0001_fixture}/intended_edges")
    assert intended.count() == len(st.edges)


def test_fixture_default_dir_is_this_checkout(sf0001_fixture):
    """ensure_fixture caches under fixtures/ next to the package, so a
    second checkout never reads or writes this checkout's fixtures."""
    checkout = os.path.dirname(os.path.dirname(os.path.abspath(datagen.__file__)))
    assert datagen.FIXTURE_DIR == os.path.join(checkout, "fixtures")
    assert os.path.abspath(sf0001_fixture) == os.path.join(checkout, "fixtures", "sf0.001")
