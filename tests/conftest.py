from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

REPO = str(Path(__file__).resolve().parent.parent)
if REPO not in sys.path:
    sys.path.insert(0, REPO)

SF0 = "/root/testdata/sf0.001"


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: heavy equivalence/property/streaming tests, deselected by "
        "default so the plain `pytest tests/ -x -q` run fits the round "
        "driver's time budget (r10 verdict item 2b). Run the FULL suite "
        "with SPARK_GRAFT_FULL_TESTS=1 (the builder-side gate) or "
        "--runslow.",
    )


def pytest_addoption(parser):
    parser.addoption(
        "--runslow",
        action="store_true",
        default=False,
        help="include tests marked slow (same as SPARK_GRAFT_FULL_TESTS=1)",
    )


def pytest_collection_modifyitems(config, items):
    if config.getoption("--runslow") or os.environ.get(
        "SPARK_GRAFT_FULL_TESTS"
    ):
        return
    selected, deselected = [], []
    for item in items:
        (deselected if item.get_closest_marker("slow") else selected).append(
            item
        )
    if deselected:
        config.hook.pytest_deselected(items=deselected)
        items[:] = selected


@pytest.fixture(scope="session")
def spark():
    from etl_master_spark.session import get_spark

    # The engine's default 48g heap lets this one long-lived test JVM grow
    # past 10 GB resident on sf0.001 inputs, since the collector has no
    # reason to run below the ceiling; 4g bounds the suite's footprint
    # (perfbench runs the sf0.01 GAN lifecycle in 3g). An explicit
    # SPARK_GRAFT_DRIVER_MEM still wins.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    spark = get_spark(app_name="etl_master_spark_tests", shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF0
