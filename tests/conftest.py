import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from beats_spark.session import get_spark  # noqa: E402
from tests.harness import GOLDEN_ABSENT  # noqa: E402

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata/sf0.001")
REFERENCE = "/root/reference"


def pytest_configure(config):
    config.addinivalue_line("markers", "slow: long-running test (a separate spark-submit job)")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="beats_spark_tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return TESTDATA


def pytest_terminal_summary(terminalreporter):
    """State how much golden-corpus coverage this pytest run skipped."""
    skipped = [
        r for r in terminalreporter.stats.get("skipped", [])
        if isinstance(r.longrepr, tuple) and GOLDEN_ABSENT in r.longrepr[2]
    ]
    if skipped:
        terminalreporter.write_sep("-", "golden corpus")
        terminalreporter.write_line(
            f"{len(skipped)} golden tests skipped: {GOLDEN_ABSENT}; the "
            "generated-input differential tests (test_match_once.py, "
            "test_dissect_properties.py) cover grok and dissect instead"
        )
