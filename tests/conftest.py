from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from log_parser_cli_spark.datagen import generate  # noqa: E402
from log_parser_cli_spark.session import get_spark  # noqa: E402

N_TEST_ROWS = 3000


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="lpcs-tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def fixture_dir(tmp_path_factory) -> str:
    d = str(tmp_path_factory.mktemp("fixtures"))
    generate(d, N_TEST_ROWS)
    return d


@pytest.fixture(scope="session")
def pipeline_out(spark, fixture_dir, tmp_path_factory) -> str:
    """Run the full pipeline once per test session; many tests assert on it."""
    from log_parser_cli_spark.plans.pipeline import run_pipeline

    out = str(tmp_path_factory.mktemp("pipeline_out"))
    run_pipeline(spark, fixture_dir, out)
    return out
