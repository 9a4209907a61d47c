"""E2e tests for the remaining reference pipeline shapes: transactions
(positional zip-join), logs (nested explode), traces (position-index
join), decoded_logs (dictionary + ABI decode), erc20_balances (eth_call
enrichment) — chained like the reference deployment (raw logs sink feeds
the decode and balances pipelines)."""

import json
import os
import sys
import uuid

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from agnostic_blockchain_etl_spark.plans.config import PipelineConfig
from agnostic_blockchain_etl_spark.plans.executor import SparkExecutor
from agnostic_blockchain_etl_spark.plans.pipeline import run_pipeline
from agnostic_blockchain_etl_spark.plans.templates import TemplateSet
from tests import mock_chain as mc

EXAMPLES = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "examples")

N_BLOCKS = mc.CHAIN_TIP + 1
TOTAL_TXS = sum(mc.tx_count(n) for n in range(N_BLOCKS))
TOTAL_LOGS = sum(1 for n in range(N_BLOCKS)
                 for i in range(mc.tx_count(n)) if i % 2 == 0)


@pytest.fixture(scope="module")
def spark():
    os.environ["AGN_RPC_MOCK"] = "tests.mock_chain:transport"
    from agnostic_blockchain_etl_spark.session import get_session
    s = get_session(master="local[8]",
                    conf={"spark.sql.shuffle.partitions": "8"})
    yield s


def _run(spark, example: str, vars: dict):
    conf = PipelineConfig.from_yaml(
        os.path.join(EXAMPLES, example, "pipeline.yaml"), env={})
    templates = TemplateSet.load(os.path.join(EXAMPLES, example))
    return run_pipeline(SparkExecutor(spark), templates, conf, vars)


@pytest.fixture(scope="module")
def logs_sink(spark, tmp_path_factory):
    """Raw logs ingested once; feeds the decode + balances tests."""
    sink = f"logs_{uuid.uuid4().hex[:8]}"
    _run(spark, "logs_ingest", {
        "RPC_ENDPOINT": "mock://chain",
        "LATEST_BLOCK_STATUS": "latest",
        "TARGET_PATH": str(tmp_path_factory.mktemp("logs")),
        "SINK_TABLE": sink})
    return sink


class TestTransactionsIngest:
    @pytest.mark.heavy
    def test_zip_join_parity(self, spark, tmp_path):
        sink = f"txs_{uuid.uuid4().hex[:8]}"
        result = _run(spark, "transactions_ingest", {
            "RPC_ENDPOINT": "mock://chain",
        "LATEST_BLOCK_STATUS": "latest",
            "TARGET_PATH": str(tmp_path / "txs"), "SINK_TABLE": sink})
        assert result.stats.items == N_BLOCKS
        got = spark.table(sink)
        assert got.count() == TOTAL_TXS
        # receipt fields zipped by position, not crossed: gas_used encodes i
        row = got.where((F.col("block_number") == 5) &
                        (F.col("transaction_index") == 1)).collect()[0]
        assert row["gas_used"] == 21_100
        assert bytes(row["hash"]) == mc.tx_hash(5, 1)
        assert bytes(row["from"]) == mc.addr(6)
        assert row["status"] == (1 if (5 + 1) % 7 else 0)
        # the tx input decodes to the transfer call
        assert bytes(row["input"])[:4].hex() == "a9059cbb"


class TestLogsIngest:
    def test_nested_explode(self, spark, logs_sink):
        got = spark.table(logs_sink)
        assert got.count() == TOTAL_LOGS
        row = got.where(F.col("block_number") == 2).collect()[0]
        assert bytes(row["address"]) == mc.TOKEN
        topics = [bytes(t) for t in row["topics"]]
        assert topics[0] == mc.TRANSFER_TOPIC0
        assert topics[1][-20:] == mc.addr(2)
        assert int.from_bytes(bytes(row["data"]), "big") == mc.amount(2, 0)


class TestTracesIngest:
    @pytest.mark.heavy
    def test_position_index_join(self, spark, tmp_path):
        sink = f"traces_{uuid.uuid4().hex[:8]}"
        _run(spark, "traces_ingest", {
            "RPC_ENDPOINT": "mock://chain",
        "LATEST_BLOCK_STATUS": "latest",
            "TARGET_PATH": str(tmp_path / "traces"), "SINK_TABLE": sink})
        got = spark.table(sink)
        assert got.count() == TOTAL_TXS
        row = got.where((F.col("block_number") == 8) &
                        (F.col("transaction_position") == 1)).collect()[0]
        assert row["call_type"] == "call"
        assert row["type"] == "call"
        assert bytes(row["from"]) == mc.addr(9)
        assert row["gas"] == 40_000 and row["gas_used"] == 30_000
        # transaction_status came from receipts[pos+1] — the index join
        assert row["transaction_status"] == (1 if (8 + 1) % 7 else 0)
        assert row["error"] == ("" if (8 + 1) % 7 else "Reverted")


class TestDecodedLogs:
    def test_dictionary_decode(self, spark, logs_sink, tmp_path):
        # ABI dictionary parquet: selector (0x topic0) → fullsigs
        abi_path = str(tmp_path / "abi.parquet")
        spark.createDataFrame(
            [("0x" + mc.TRANSFER_TOPIC0.hex(),
              ["event Transfer(address indexed,address indexed,uint256)"])],
            "selector STRING, fullsigs ARRAY<STRING>"
        ).write.parquet(abi_path)

        sink = f"decoded_{uuid.uuid4().hex[:8]}"
        _run(spark, "decoded_logs", {
            "SOURCE_TABLE": logs_sink, "ABI_DICT_PATH": abi_path,
            "TARGET_PATH": str(tmp_path / "decoded"), "SINK_TABLE": sink})
        got = spark.table(sink)
        assert got.count() == TOTAL_LOGS
        row = got.where(F.col("block_number") == 2).collect()[0]
        assert row["signature"] == "Transfer(address,address,uint256)"
        inputs = json.loads(row["inputs"].toJson())
        assert inputs["arg0"] == "0x" + mc.addr(2).hex()
        assert inputs["arg1"] == "0x" + mc.addr(3).hex()
        assert inputs["arg2"] == mc.amount(2, 0)


class TestErc20Balances:
    def test_eth_call_enrichment(self, spark, logs_sink, tmp_path):
        sink = f"balances_{uuid.uuid4().hex[:8]}"
        _run(spark, "erc20_balances", {
            "SOURCE_TABLE": logs_sink, "RPC_ENDPOINT": "mock://chain",
        "LATEST_BLOCK_STATUS": "latest",
            "TARGET_PATH": str(tmp_path / "balances"), "SINK_TABLE": sink})
        got = spark.table(sink)
        # one row per (wallet, token, block) — senders ∪ recipients
        expected_rows = {
            (mc.addr(n), n) for n in range(N_BLOCKS)
            for i in range(mc.tx_count(n)) if i % 2 == 0
        } | {
            (mc.addr(n + 1), n) for n in range(N_BLOCKS)
            for i in range(mc.tx_count(n)) if i % 2 == 0
        }
        assert got.count() == len(expected_rows)
        assert got.where(F.col("token_symbol") != mc.TOKEN_SYMBOL).count() == 0
        assert got.where(F.col("token_decimals") != mc.TOKEN_DECIMALS).count() == 0
        # balanceOf evaluated at the row's own block height
        row = got.where((F.col("block_number") == 2) &
                        (F.col("wallet_address") == mc.addr(2))).collect()[0]
        assert int(row["raw_balance"]) == mc.balance_of(mc.addr(2), 2)
        assert abs(row["balance"]
                   - mc.balance_of(mc.addr(2), 2) / 10 ** 18) < 1e-12
