"""agnostic_blockchain_etl_spark — a PySpark-native analytics/ETL engine.

Re-expresses the capability surface of the reference Go+ClickHouse system
(``agnosticeng/agnostic-blockchain-etl``) as idiomatic Spark:

- ``functions/``  — the blockchain kernel library (hex codecs, keccak256,
  ABI event/call decoding, JSON-RPC sources) exposed both as pure-Python
  callables and as registered Spark UDFs (reference: ClickHouse executable
  UDF bundles, internal/engine/impl/local/local_engine.go:236-275).
- ``plans/``      — the driver-side dataflow orchestration (init, tip
  tracker, batcher, stages, sequencer, finalizer, retrier — reference:
  internal/pipeline/*.go) plus config + template rendering.
- ``operators/``  — relational + LLM-data-pipeline operators (dedup,
  similarity search, text analysis, multimodal columns), Spark-first.
- ``sources/``    — sources/sinks: partitioned parquet, JDBC proxy tables,
  refreshable broadcast dictionaries (reference: §2.2 of SURVEY.md).
- ``streaming/``  — Structured-Streaming-style micro-batch helpers over an
  unbounded integer cursor.
"""

from . import _zipimport

_zipimport.install()

__version__ = "0.1.0"
