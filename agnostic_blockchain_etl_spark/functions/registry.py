"""Register the kernel library as Spark SQL functions.

The reference activates its UDF bundle by server config
(internal/engine/impl/local/local_engine.go:236-275); our analog is
``register_all(spark)``, called by the session factory, after which the
reference's SQL (hex/keccak/ABI-decode expressions) runs near-verbatim via
``spark.sql``.

Design notes (scale): every Python UDF in a plan costs an Arrow round
trip to a Python worker, so the ``evm_hex_*`` kernels are SQL-defined
functions built from the forms of ``functions/hexsql.py``: they inline
into whole-stage codegen (but not into a lambda, where they fail
analysis as Python UDFs do). Decoded ABI payloads need no helper: the
decode templates store them as VARIANT with the built-ins
``try_parse_json`` and ``CAST(… AS STRING)``. ``keccak256``
and the decode UDFs are **pandas UDFs** (Arrow record batches, not
pickled rows; decoding is CPU-bound and benefits from batch
amortization). The RPC functions are pandas UDFs as well: one transport
is resolved per Arrow batch, so SQL-verbatim pipelines get
connection/retry-state reuse.

The RPC and decode UDFs are registered **nondeterministic**: a
deterministic UDF is a pure function to the optimizer, which may
evaluate it more than once per row. In ``logs_ingest`` the
``size(receipts) > 0`` filter Spark infers from ``explode(receipts)`` is
pushed below the projection and clones the ``eth_getBlockReceipts`` call
into a second Python evaluation branch, so a block's receipts were
fetched twice; in ``decoded_logs`` the ``$.error IS NULL`` filter on the
decode did the same to ``evm_decode_event``, decoding every log twice.
Marked nondeterministic, each call site runs once per input row
(``tests/test_rpc_call_counts.py`` pins the RPC count for every
``examples/*_ingest`` pipeline, ``tests/test_hex_builtins.py`` the plan
shapes). The two RPC UDFs are the engine's only RPC ingestion path:
every template, per-row ``eth_call`` and multi-call-per-block buffer
goes through them.
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BinaryType, StringType

from . import abi, hexsql, keccak, rpc


# ---------------------------------------------------------------------------
# pandas UDF kernels
# ---------------------------------------------------------------------------

@pandas_udf(BinaryType())
def _udf_keccak256(s: pd.Series) -> pd.Series:
    return s.map(lambda v: keccak.keccak256(v) if v is not None else None)


@pandas_udf(StringType())
def _udf_decode_event(topics: pd.Series, data: pd.Series, fullsigs: pd.Series) -> pd.Series:
    out = []
    for t, d, f in zip(topics, data, fullsigs):
        out.append(abi.evm_decode_event(
            list(t) if t is not None else [], d,
            list(f) if f is not None else []))
    return pd.Series(out)


@pandas_udf(StringType())
def _udf_decode_call(inp: pd.Series, outp: pd.Series, fullsigs: pd.Series) -> pd.Series:
    out = []
    for i, o, f in zip(inp, outp, fullsigs):
        out.append(abi.evm_decode_call(i, o, list(f) if f is not None else []))
    return pd.Series(out)


@pandas_udf(StringType())
def _udf_ethereum_rpc(method: pd.Series, params: pd.Series,
                      endpoint: pd.Series) -> pd.Series:
    # one transport per Arrow batch: connection/retry state is reused
    # across the batch's calls instead of re-resolved per row
    t = rpc.get_default_transport()

    def one(m, p, e):
        # null-safe like every other kernel UDF here: a NULL method/
        # endpoint returns the error envelope instead of raising out
        # of the UDF and killing the task (review finding); pd.isna
        # because Arrow surfaces numeric NULLs as NaN, not None
        if pd.isna(m) or pd.isna(e):
            return json.dumps({"value": None,
                               "error": "null method or endpoint"})
        return rpc.ethereum_rpc(m, list(p) if p is not None else [], e,
                                transport=t)

    return pd.Series([one(m, p, e)
                      for m, p, e in zip(method, params, endpoint)])


@pandas_udf(StringType())
def _udf_ethereum_rpc_call(to: pd.Series, func_sig: pd.Series,
                           args_json: pd.Series, block_number: pd.Series,
                           endpoint: pd.Series) -> pd.Series:
    t = rpc.get_default_transport()

    def one(a, f, j, b, e):
        if any(pd.isna(v) for v in (a, f, b, e)):
            return json.dumps({"value": None,
                               "error": "null to/func_sig/block_number/"
                                        "endpoint"})
        return rpc.ethereum_rpc_call(a, f,
                                     "" if pd.isna(j) else j,
                                     int(b), e, transport=t)

    return pd.Series([one(a, f, j, b, e)
                      for a, f, j, b, e in zip(to, func_sig, args_json,
                                               block_number, endpoint)])


def register_all(spark: SparkSession) -> None:
    """Register every kernel under its reference name (idempotent).

    The registered flag lives as an attribute ON the session object, not
    in a module dict keyed by ``id(spark)``: a stopped session's id can be
    reused by a new object, which would silently inherit a stale flag."""
    if getattr(spark, "_agn_udfs_registered", False):
        return
    for signature, returns, body in hexsql.FUNCTIONS:
        spark.sql(f"CREATE OR REPLACE TEMPORARY FUNCTION {signature} "
                  f"RETURNS {returns} RETURN {body}")
    spark.udf.register("keccak256", _udf_keccak256)
    # nondeterministic so a filter on the decode cannot clone it into a
    # second Python evaluation (module docstring)
    spark.udf.register("evm_decode_event", _udf_decode_event.asNondeterministic())
    spark.udf.register("evm_decode_call", _udf_decode_call.asNondeterministic())
    # an external call is not a pure function (module docstring)
    spark.udf.register("ethereum_rpc", _udf_ethereum_rpc.asNondeterministic())
    spark.udf.register("ethereum_rpc_call",
                       _udf_ethereum_rpc_call.asNondeterministic())
    from .words import register_words
    register_words(spark)
    spark._agn_udfs_registered = True
