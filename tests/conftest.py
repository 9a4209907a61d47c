"""Shared test setup.

AGN_RPC_MOCK must be in the environment BEFORE the first SparkSession
starts: Spark's Python worker daemon forks with the environment it was
launched with, so setting the variable in a later test module is too late
for the already-running workers. One session-wide default here keeps test
ordering irrelevant. The same holds for the mock chain's call log
directory."""

import atexit
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("AGN_RPC_MOCK", "tests.mock_chain:transport")

# the mock chain logs every call here, from every worker process, so tests
# can count the calls a pipeline makes (tests/test_rpc_call_counts.py)
if "MOCK_CHAIN_CALL_LOG" not in os.environ:
    os.environ["MOCK_CHAIN_CALL_LOG"] = tempfile.mkdtemp(prefix="mock-chain-calls-")
    atexit.register(shutil.rmtree, os.environ["MOCK_CHAIN_CALL_LOG"], True)


def pytest_collection_modifyitems(config, items):
    """Deselect ``heavy``-marked tests by default (r11 verdict ask #1:
    the full single-process suite grew past the driver's verify window
    — its pytest run was cut off mid-dots at ~73% and read as a
    failure). The default run is the driver-gate subset: every operator
    family keeps at least one fast test; the heavy e2e / streaming-
    day-N / fuzz / large-m tests run in the builder's own validation
    via ``AGN_FULL_SUITE=1 python -m pytest tests/ -q`` (or
    ``-m heavy`` for only them). An explicit ``-m`` expression always
    wins over the default deselection."""
    if os.environ.get("AGN_FULL_SUITE"):
        return
    if config.getoption("-m"):
        return
    deselected = [i for i in items if i.get_closest_marker("heavy")]
    if deselected:
        items[:] = [i for i in items if not i.get_closest_marker("heavy")]
        config.hook.pytest_deselected(items=deselected)
