"""An RPC error comes back as a row, not as a task failure, when the
method is a column of a DataFrame fed to the registered ``ethereum_rpc``
UDF (the engine's one RPC ingestion path), against the session mock
chain."""

import json

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def spark():
    from agnostic_blockchain_etl_spark.session import get_session
    return get_session(master="local[4]",
                       conf={"spark.sql.shuffle.partitions": "4"})


def test_error_envelope_not_exception(spark):
    reqs = spark.createDataFrame(
        [(0, "bogus_method")], "n LONG, method STRING")
    out = reqs.select(
        "n", F.expr("ethereum_rpc(method, array(), "
                    "'mock://chain#max-retries=0')").alias("response"))
    rows = out.collect()
    assert [r["n"] for r in rows] == [0]
    env = json.loads(rows[0]["response"])
    assert env["value"] is None and "bogus_method" in env["error"]
