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


@pytest.fixture
def force_kernel(monkeypatch):
    """``force_kernel(op, arrow)`` pins ``op``'s kernel choice for the
    rest of the test (call again to flip it; ``arrow=None`` hands it back
    to the policy); other ops keep the policy. The forced choice is
    recorded like a real one."""
    from puffbird_spark import telemetry

    forced = {}
    policy = telemetry.arrow_kernel

    def arrow_kernel(op, work):
        if forced.get(op) is None:
            return policy(op, work)
        telemetry.record_kernel(op, telemetry.kernel_name(op, forced[op]))
        return forced[op]

    monkeypatch.setattr(telemetry, "arrow_kernel", arrow_kernel)
    return forced.__setitem__


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
