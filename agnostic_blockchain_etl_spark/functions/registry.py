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
``try_parse_json`` and ``CAST(… AS STRING)``. Every other name is a row
kernel: a plain Python function of ``keccak``, ``abi``, ``rpc`` or
``words``, registered as Spark's **Arrow row UDF**
(``udf(fn, returnType, useArrow=True)``). Spark ships each Arrow batch to
the Python worker and calls the function once per row, with arrays as
lists and NULL as ``None``; each kernel writes its own NULL-argument
rule, so the Python API and SQL agree.

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

from pyspark.sql import SparkSession
from pyspark.sql.functions import udf
from pyspark.sql.types import BinaryType, IntegerType, StringType

from . import abi, hexsql, keccak, rpc, words

# SQL name, kernel, return type, nondeterministic (module docstring)
_ROW_KERNELS = (
    ("keccak256", keccak.keccak256, BinaryType(), False),
    ("evm_decode_event", abi.evm_decode_event, StringType(), True),
    ("evm_decode_call", abi.evm_decode_call, StringType(), True),
    ("ethereum_rpc", rpc.ethereum_rpc, StringType(), True),
    ("ethereum_rpc_call", rpc.ethereum_rpc_call, StringType(), True),
    ("evm_word_add", words.evm_word_add, BinaryType(), False),
    ("evm_word_sub", words.evm_word_sub, BinaryType(), False),
    ("evm_word_cmp", words.evm_word_cmp, IntegerType(), False),
    ("evm_word_to_str", words.evm_word_to_str, StringType(), False),
)


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
    for name, fn, returns, nondeterministic in _ROW_KERNELS:
        f = udf(fn, returns, useArrow=True)
        spark.udf.register(name, f.asNondeterministic() if nondeterministic
                           else f)
    spark._agn_udfs_registered = True
