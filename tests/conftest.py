from __future__ import annotations

import pytest

# Must run BEFORE the SparkSession exists: executor Python workers
# inherit PYTHONPATH from the JVM's environment at launch, and the
# vendored protobuf (transformWithStateInPandas state-server protocol)
# rides on it. No-op when protobuf is natively importable.
from rspl_spark.streaming.tws_runtime import enable_tws_runtime

TWS_AVAILABLE = enable_tws_runtime()

from rspl_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("rspl-tests", cpus=8)
    yield s


def pytest_terminal_summary(terminalreporter, config):
    """Say so when the default ``-m "not slow"`` (pytest.ini) leaves the
    slow tier out, so a run that meant to be complete can't miss it."""
    slow = [
        item
        for item in terminalreporter.stats.get("deselected", [])
        if item.get_closest_marker("slow") is not None
    ]
    if slow and config.getoption("markexpr") == "not slow":
        terminalreporter.write_line(
            f'{len(slow)} slow-tier tests deselected by the default -m "not slow";'
            ' run them with -m "slow or not slow" (full suite) or -m slow',
            yellow=True,
            bold=True,
        )
