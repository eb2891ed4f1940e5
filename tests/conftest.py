from __future__ import annotations

import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from binaryx_graph_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_spark("pytest")
    yield s
    s.stop()


@pytest.fixture
def job_ids(spark):
    """Structural job budgets: runs the test under a job group of its
    own and returns a callable listing the ids of every Spark job
    started in that group so far (``statusTracker().getJobIdsForGroup``,
    read after the listener bus drains so no finished job is missed).
    ``n = len(job_ids()); ...; assert len(job_ids()) == n`` pins a block
    to zero jobs deterministically, where wall time would hide a
    reintroduced job in host noise."""
    sc = spark.sparkContext
    group = f"pytest-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    bus = sc._jsc.sc().listenerBus()
    tracker = sc.statusTracker()

    def _ids() -> list[int]:
        bus.waitUntilEmpty()
        return list(tracker.getJobIdsForGroup(group))

    yield _ids
    sc._jsc.clearJobGroup()


@pytest.fixture
def aqe_off(spark):
    """Adaptive execution off for one test, so a job budget counts
    actions exactly: without AQE each action is one job of the test's
    group (broadcasts run in job groups of their own), while AQE's
    per-stage jobs vary with the order in which stages finish."""
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    yield
    spark.conf.set("spark.sql.adaptive.enabled", prev)


# ---- fast/slow tiers (r13, VERDICT r12 #1) -------------------------------
# The default run (`pytest tests/ -x -q`) deselects the multi-minute
# equality/endurance gates so the suite finishes inside a CI-style budget
# (<15 min); the full tier still runs with
#     python -m pytest tests/ -q -m "slow or not slow"        (everything)
#     python -m pytest tests/ -q -m slow                      (slow only)
# The slow set is data, not decorators: tests/slow_tests.txt, one
# file.py::test nodeid per line (measured ≥8 s each; regenerate with
# `pytest --durations=0` and re-rank).  A nodeid that disappears from the
# tree is reported loudly below rather than silently ignored.
_SLOW_FILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "slow_tests.txt")


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: multi-second equality/endurance gate, deselected by default "
        "(see tests/slow_tests.txt)",
    )


def pytest_collection_modifyitems(config, items):
    slow: set[str] = set()
    with open(_SLOW_FILE) as fh:
        for ln in fh:
            ln = ln.split("#", 1)[0].strip()
            if ln:
                slow.add(ln)
    seen: set[str] = set()
    for item in items:
        nid = item.nodeid.rsplit("/", 1)[-1]  # tests/x.py::t -> x.py::t
        base = nid.split("[", 1)[0]
        hit = nid if nid in slow else base if base in slow else None
        if hit is not None:
            seen.add(hit)
            item.add_marker(pytest.mark.slow)
    missing = slow - seen
    if missing and len(items) > 100:  # full-suite collections only
        import warnings

        warnings.warn(f"slow_tests.txt entries not collected: {sorted(missing)}")
