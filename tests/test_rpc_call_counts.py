"""Every external call the SQL asks for is made exactly once.

Each ``examples/*_ingest`` pipeline runs over the whole mock chain; the
mock transport logs every call from every Spark worker process (log
directory set in ``conftest.py``). Per block, the pipeline must call the
chain once per ``ethereum_rpc(...)`` call site of its
``create_buffer.sql``: 1 for blocks, 2 for logs, and so on. A
deterministic registration let the optimizer clone a call into a second
Python evaluation branch (``logs_ingest`` fetched receipts twice)."""

import collections
import glob
import os
import re
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from agnostic_blockchain_etl_spark.plans.config import PipelineConfig  # noqa: E402
from agnostic_blockchain_etl_spark.plans.executor import SparkExecutor  # noqa: E402
from agnostic_blockchain_etl_spark.plans.pipeline import run_pipeline  # noqa: E402
from agnostic_blockchain_etl_spark.plans.templates import TemplateSet  # noqa: E402
from tests.mock_chain import CHAIN_TIP, logged_calls  # noqa: E402

EXAMPLES = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "examples")


def _call_sites(example: str) -> int:
    with open(os.path.join(EXAMPLES, example, "create_buffer.sql")) as f:
        return len(re.findall(r"\bethereum_rpc\s*\(", f.read()))


def _rpc_pipelines() -> list[str]:
    names = (os.path.basename(d)
             for d in glob.glob(os.path.join(EXAMPLES, "*_ingest")))
    return sorted(n for n in names if _call_sites(n))


@pytest.fixture(scope="module")
def spark():
    from agnostic_blockchain_etl_spark.session import get_session
    yield get_session(master="local[8]",
                      conf={"spark.sql.shuffle.partitions": "8"})


def test_every_rpc_ingest_pipeline_is_covered():
    assert {"blocks_ingest", "logs_ingest"} <= set(_rpc_pipelines())
    assert _call_sites("blocks_ingest") == 1
    assert _call_sites("logs_ingest") == 2


@pytest.mark.parametrize("example", _rpc_pipelines())
def test_one_call_per_block_per_call_site(spark, tmp_path, example):
    url = f"mock://calls-{example}-{uuid.uuid4().hex[:8]}"
    conf = PipelineConfig.from_yaml(
        os.path.join(EXAMPLES, example, "pipeline.yaml"), env={})
    templates = TemplateSet.load(os.path.join(EXAMPLES, example))
    result = run_pipeline(SparkExecutor(spark), templates, conf, {
        "RPC_ENDPOINT": url, "LATEST_BLOCK_STATUS": "latest",
        "TARGET_PATH": str(tmp_path / "sink"),
        "SINK_TABLE": f"calls_{uuid.uuid4().hex[:8]}"})
    assert result.stats.max_end == CHAIN_TIP

    # calls that name a block by number; tip polls name a tag ('latest')
    per_block = collections.Counter(
        (method, params[0]) for method, params in logged_calls(url)
        if str(params[0]).startswith("0x"))
    assert len(per_block) == _call_sites(example) * (CHAIN_TIP + 1)
    repeated = {k: n for k, n in per_block.items() if n != 1}
    assert not repeated, repeated
