from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pagerank_project_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", cores=4, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf0001_fixture():
    from pagerank_project_spark.datagen import ensure_fixture

    return ensure_fixture(0.001)


@pytest.fixture(scope="session")
def small_csv():
    """The F1 edge list (FIXTURES.md §F1) as a ``source,target`` CSV."""
    return os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "small.csv")


@pytest.fixture(scope="session")
def small_rows(small_csv):
    """The F1 edge rows in file order."""
    import csv

    with open(small_csv, newline="") as f:
        return [(r["source"], r["target"]) for r in csv.DictReader(f)]
