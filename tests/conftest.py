import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from puffbird_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(
        app_name="puffbird-spark-tests",
        master="local[4]",
        shuffle_partitions=4,
    )
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def load(spark, sf_dir, name):
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_PARITY_FILES = ("test_reference_parity.py", "test_tutorial_parity.py")


def pytest_terminal_summary(terminalreporter):
    """One line on the reference-parity suites: they skip when no
    reference checkout is importable, which would otherwise go unseen."""
    seen = {"ran": set(), "skipped": set()}
    for outcome, key in (("passed", "ran"), ("failed", "ran"),
                         ("error", "ran"), ("skipped", "skipped")):
        for rep in terminalreporter.stats.get(outcome, []):
            nodeid = getattr(rep, "nodeid", "")
            if nodeid.split("::")[0].endswith(_PARITY_FILES):
                seen[key].add(nodeid)
    ran, skipped = len(seen["ran"]), len(seen["skipped"] - seen["ran"])
    if ran or skipped:
        terminalreporter.write_line(
            f"reference parity ({', '.join(_PARITY_FILES)}): "
            f"{ran} ran, {skipped} skipped")
