-- per-batch buffer: receipts → nested logs explode + per-block metadata
-- re-attach (reference: examples/ethereum_logs/create_buffer.sql:1-97 —
-- ARRAY JOIN over the receipts JSON + LEFT JOIN deps ON n). The per-block
-- metadata join stays inside one row here because Spark lets us explode
-- lazily without losing the enclosing block columns.
-- Hex decodes render as Spark built-ins (plans/templates.py), so
-- ethereum_rpc is the only Python UDF of the plan, and arrayMap(x ->
-- evm_hex_decode(x), topics) is a transform lambda over the same form
-- (Python UDFs cannot appear in lambda bodies).
CREATE OR REPLACE TEMPORARY VIEW buffer_{{.START}}_{{.END}} AS
WITH deps AS (
    SELECT
        from_json(
            get_json_object(
                ethereum_rpc('eth_getBlockByNumber',
                             array({{ hexEncodeInt "id" }}, 'false'),
                             '{{.RPC_ENDPOINT}}#fail-on-error=true&fail-on-null=true'),
                '$.value'),
            'timestamp STRING, number STRING, hash STRING')       AS b,
        from_json(
            get_json_object(
                ethereum_rpc('eth_getBlockReceipts',
                             array({{ hexEncodeInt "id" }}),
                             '{{.RPC_ENDPOINT}}#fail-on-error=true&fail-on-null=true'),
                '$.value'),
            'ARRAY<STRUCT<transactionHash: STRING, transactionIndex: STRING,
                `from`: STRING, status: STRING,
                logs: ARRAY<STRUCT<address: STRING, topics: ARRAY<STRING>,
                    data: STRING, logIndex: STRING,
                    removed: BOOLEAN>>>>')                        AS receipts
    FROM range({{.START}}, {{.END}} + 1)
),
rec AS (
    SELECT b, r
    FROM deps LATERAL VIEW explode(receipts) AS r
),
logs AS (
    SELECT b, r, l
    FROM rec LATERAL VIEW explode(r.logs) AS l
)
SELECT
    timestamp_seconds({{ hexDecodeInt "b.timestamp" "Int64" }}) AS timestamp,
    {{ hexDecode "b.hash" }}                                    AS block_hash,
    {{ hexDecodeInt "b.number" "UInt64" }}                      AS block_number,
    {{ hexDecode "r.`from`" }}                                  AS transaction_from,
    {{ hexDecodeInt "r.status" "UInt8" "TINYINT" }}             AS transaction_status,
    {{ hexDecode "r.transactionHash" }}                         AS transaction_hash,
    {{ hexDecodeInt "r.transactionIndex" "UInt32" "INT" }}      AS transaction_index,
    l.removed                                                   AS removed,
    {{ hexDecodeInt "l.logIndex" "UInt32" "INT" }}              AS log_index,
    {{ hexDecode "l.address" }}                                 AS address,
    {{ hexDecode "l.data" }}                                    AS data,
    transform(l.topics, x -> {{ hexDecode "x" }})               AS topics,
    date_format(timestamp_seconds({{ hexDecodeInt "b.timestamp" "Int64" }}),
                'yyyyMM')                                       AS month
FROM logs
