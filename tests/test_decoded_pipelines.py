"""E2e tests for the final two reference pipeline shapes: decoded_traces
(evm_decode_call against the selector dictionary) and the decoded-logs
daily parquet export — completing 9/9 example-pipeline parity. Plus the
UInt256 word-arithmetic UDF surface."""

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


class TestDecodedTraces:
    @pytest.mark.heavy
    def test_call_decode(self, spark, tmp_path):
        traces_sink = f"traces_{uuid.uuid4().hex[:8]}"
        _run(spark, "traces_ingest", {
            "RPC_ENDPOINT": "mock://chain",
            "LATEST_BLOCK_STATUS": "latest",
            "TARGET_PATH": str(tmp_path / "traces"), "SINK_TABLE": traces_sink})

        abi_path = str(tmp_path / "abi_calls.parquet")
        selector = "0x" + mc._TRANSFER_SELECTOR.hex()
        spark.createDataFrame(
            [(selector, ["function transfer(address,uint256)(bool)"])],
            "selector STRING, fullsigs ARRAY<STRING>").write.parquet(abi_path)

        sink = f"dtraces_{uuid.uuid4().hex[:8]}"
        _run(spark, "decoded_traces", {
            "SOURCE_TABLE": traces_sink, "ABI_DICT_PATH": abi_path,
            "TARGET_PATH": str(tmp_path / "decoded"), "SINK_TABLE": sink})
        got = spark.table(sink)
        assert got.count() == TOTAL_TXS
        row = got.where((F.col("block_number") == 5) &
                        (F.col("transaction_position") == 1)).collect()[0]
        assert row["signature"] == "transfer(address,uint256)"
        inputs = json.loads(row["inputs"].toJson())
        assert inputs["arg0"] == "0x" + mc.addr(5 + 1 + 1).hex()
        assert inputs["arg1"] == mc.amount(5, 1)
        outputs = json.loads(row["outputs"].toJson())
        assert outputs["arg0"] is True


class TestDecodedLogsToDaily:
    def test_daily_export(self, spark, tmp_path):
        # build the decoded source via logs_ingest → decoded_logs
        logs_sink = f"logs_{uuid.uuid4().hex[:8]}"
        _run(spark, "logs_ingest", {
            "RPC_ENDPOINT": "mock://chain",
            "LATEST_BLOCK_STATUS": "latest",
            "TARGET_PATH": str(tmp_path / "logs"), "SINK_TABLE": logs_sink})
        abi_path = str(tmp_path / "abi.parquet")
        spark.createDataFrame(
            [("0x" + mc.TRANSFER_TOPIC0.hex(),
              ["event Transfer(address indexed,address indexed,uint256)"])],
            "selector STRING, fullsigs ARRAY<STRING>").write.parquet(abi_path)
        decoded_sink = f"decoded_{uuid.uuid4().hex[:8]}"
        _run(spark, "decoded_logs", {
            "SOURCE_TABLE": logs_sink, "ABI_DICT_PATH": abi_path,
            "TARGET_PATH": str(tmp_path / "decoded"),
            "SINK_TABLE": decoded_sink})
        # variant_get subpath reads work against the decoded sink
        n = spark.sql(f"""
            SELECT count(*) c FROM {decoded_sink}
            WHERE CAST(variant_get(inputs, '$.arg2') AS DECIMAL(38, 0)) > 0
        """).collect()[0]["c"]
        assert n == TOTAL_LOGS

        daily_sink = f"daily_{uuid.uuid4().hex[:8]}"
        _run(spark, "decoded_logs_to_daily_parquet", {
            "SOURCE_TABLE": decoded_sink,
            "TARGET_PATH": str(tmp_path / "daily"), "SINK_TABLE": daily_sink})
        got = spark.table(daily_sink)
        # the mock chain spans one day → all decoded logs land in date=2020-09-13
        assert got.count() == TOTAL_LOGS
        dirs = [d for d in os.listdir(tmp_path / "daily")
                if d.startswith("date=")]
        assert dirs == ["date=2020-09-13"]
        assert json.loads(got.limit(1).collect()[0]["inputs"])["arg2"] > 0  # daily export is always JSON text


class TestDecodedSinks:
    @pytest.mark.parametrize("example,columns", [
        ("decoded_logs", ["inputs"]),
        ("decoded_traces", ["inputs", "outputs"])],
        ids=["decoded_logs", "decoded_traces"])
    def test_payload_columns_are_variant(self, spark, tmp_path, example,
                                         columns):
        """The sink DDL declares the decoded payload columns VARIANT (the
        reference's ClickHouse Dynamic), rendered from the variables the
        pipeline.yaml documents and nothing else."""
        sink = f"sink_{uuid.uuid4().hex[:8]}"
        ddl = TemplateSet.load(os.path.join(EXAMPLES, example)).render(
            "create_sink.sql", {
                "SOURCE_TABLE": "unused", "ABI_DICT_PATH": "unused",
                "TARGET_PATH": str(tmp_path / "sink"), "SINK_TABLE": sink})
        spark.sql(ddl)
        try:
            types = {f.name: f.dataType.simpleString()
                     for f in spark.table(sink).schema.fields}
        finally:
            spark.sql(f"DROP TABLE {sink}")
        assert {c: types[c] for c in columns} == \
            {c: "variant" for c in columns}


class TestWordArithmetic:
    def test_word_udfs(self, spark):
        big = 2 ** 200 + 12345  # far beyond Decimal(38)
        df = spark.createDataFrame(
            [(big.to_bytes(32, "big"), (2 ** 200).to_bytes(32, "big"))],
            "a BINARY, b BINARY")
        df.createOrReplaceTempView("words")
        row = spark.sql("""
            SELECT evm_word_to_str(evm_word_add(a, b)) AS total,
                   evm_word_to_str(evm_word_sub(a, b)) AS diff,
                   evm_word_cmp(a, b)                  AS cmp
            FROM words""").collect()[0]
        assert row["total"] == str(2 ** 201 + 12345)
        assert row["diff"] == "12345"
        assert row["cmp"] == 1

    def test_word_wrapping(self, spark):
        df = spark.createDataFrame(
            [(((1 << 256) - 1).to_bytes(32, "big"), (1).to_bytes(32, "big"))],
            "a BINARY, b BINARY")
        df.createOrReplaceTempView("words2")
        row = spark.sql(
            "SELECT evm_word_to_str(evm_word_add(a, b)) AS s FROM words2"
        ).collect()[0]
        assert row["s"] == "0"  # EVM wrapping semantics


class TestLargeIntegersStayExact:
    @pytest.mark.parametrize("amount", [2 ** 200, 10 ** 38, 10 ** 38 - 1],
                             ids=["2^200", "10^38", "10^38-1"])
    def test_decoded_amount_keeps_its_digits(self, spark, amount):
        """``try_parse_json`` stores a JSON integer past DECIMAL(38, 0) as
        a DOUBLE (2^200 read back as 1.6069380442589903E60), so the
        decoder writes such integers as decimal strings."""
        t0 = mc.TRANSFER_TOPIC0
        spark.createDataFrame(
            [([t0, mc.addr(1).rjust(32, b"\0"), mc.addr(2).rjust(32, b"\0")],
              amount.to_bytes(32, "big"))],
            "topics ARRAY<BINARY>, data BINARY"
        ).createOrReplaceTempView("big_transfer")
        got = spark.sql("""
            SELECT CAST(try_parse_json(get_json_object(evm_decode_event(
                       topics, data, array('event Transfer(address indexed,'
                                           'address indexed,uint256)')),
                       '$.value.inputs')) AS STRING) AS inputs
            FROM big_transfer""").collect()[0]["inputs"]
        arg2 = json.loads(got)["arg2"]
        assert int(arg2) == amount
        assert isinstance(arg2, str) == (amount >= 10 ** 38)
