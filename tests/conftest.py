"""Shared Spark session for tests (one JVM per pytest run)."""

from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from paper2llm_spark.session import get_spark

    # a heap sized to a 16 GB test machine (get_spark defaults to 48g)
    s = get_spark(
        app_name="paper2llm_spark_tests", cpus=8, shuffle_partitions=8,
        extra_conf={"spark.driver.memory": "6g"},
    )
    yield s


@pytest.fixture(scope="session")
def fixture_pages_path(tmp_path_factory):
    from paper2llm_spark.pdf.fixtures import write_pages_parquet

    path = str(tmp_path_factory.mktemp("pages") / "pages.parquet")
    write_pages_parquet(path)
    return path
