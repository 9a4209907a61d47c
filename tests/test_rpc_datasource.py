"""Error envelope of a block-range RPC scan, written in SQL against the
registered ``ethereum_rpc`` UDF (the engine's one RPC ingestion path) and
the session mock chain. ``#max-retries=0``: a failing call returns at once
instead of backing off."""

import json

import pytest


@pytest.fixture(scope="module")
def spark():
    from agnostic_blockchain_etl_spark.session import get_session
    return get_session(master="local[4]",
                       conf={"spark.sql.shuffle.partitions": "4"})


def test_error_envelope_rows(spark):
    rows = spark.sql(
        "SELECT ethereum_rpc('bogus_method', array(), "
        "'mock://chain#max-retries=0') AS response FROM range(3)").collect()
    envs = [json.loads(r["response"]) for r in rows]
    assert len(envs) == 3
    assert all(e["value"] is None and "bogus_method" in e["error"]
               for e in envs)
