from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mb_crdb_cdc_dlgen2_synapse_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# --- slow tier (VERDICT r12 item 1) -----------------------------------
# The full suite takes ~40 min — longer than the round driver's pytest
# budget, which left rounds 11/12 with an incomplete verify signal
# (VERIFY.tests_ok false on a tail truncated mid-run with zero
# failures). tests/slow_tier.txt lists the tests MEASURED >= 5 s per
# call (multi-minute fuzz/streaming/e2e gates and the long oracle-parity
# mirrors — the driver independently oracle-checks the query window at
# sf0.01, so parity coverage is not lost); they are skipped by default
# and run with RUN_SLOW=1 or --run-slow. The default tier keeps every
# feature's fast tests (~17 min).
_SLOW_FILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "slow_tier.txt")


def _slow_nodeids() -> frozenset[str]:
    try:
        with open(_SLOW_FILE) as f:
            return frozenset(
                line.strip()
                for line in f
                if line.strip() and not line.startswith("#")
            )
    except OSError:
        return frozenset()


def pytest_addoption(parser):
    parser.addoption(
        "--run-slow",
        action="store_true",
        default=False,
        help="also run the slow tier (tests/slow_tier.txt)",
    )


def pytest_collection_modifyitems(config, items):
    run_slow = os.environ.get("RUN_SLOW", "").strip().lower()
    if config.getoption("--run-slow") or run_slow in ("1", "true", "yes"):
        return
    slow = _slow_nodeids()
    if not slow:
        return
    marker = pytest.mark.skip(
        reason="slow tier (tests/slow_tier.txt): run with RUN_SLOW=1"
    )
    for item in items:
        # nodeids are relative to rootdir; the ledger stores them
        # relative to tests/ so the gate works from either cwd
        nid = item.nodeid.removeprefix("tests/")
        if nid in slow:
            item.add_marker(marker)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="tests",
        master="local[4]",
        shuffle_partitions=8,
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
