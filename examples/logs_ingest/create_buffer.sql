-- per-batch buffer: receipts → nested logs explode + per-block metadata
-- re-attach (reference: examples/ethereum_logs/create_buffer.sql:1-97 —
-- ARRAY JOIN over the receipts JSON + LEFT JOIN deps ON n). The per-block
-- metadata join stays inside one row here because Spark lets us explode
-- lazily without losing the enclosing block columns.
-- arrayMap(x -> evm_hex_decode(x), topics) maps to a plain Spark SQL
-- transform lambda over unhex (Python UDFs cannot appear in lambda
-- bodies).
CREATE OR REPLACE TEMPORARY VIEW buffer_{{.START}}_{{.END}} AS
WITH deps AS (
    SELECT
        from_json(
            get_json_object(
                ethereum_rpc('eth_getBlockByNumber',
                             array(evm_hex_encode_int(id), 'false'),
                             '{{.RPC_ENDPOINT}}#fail-on-error=true&fail-on-null=true'),
                '$.value'),
            'timestamp STRING, number STRING, hash STRING')       AS b,
        from_json(
            get_json_object(
                ethereum_rpc('eth_getBlockReceipts',
                             array(evm_hex_encode_int(id)),
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
    timestamp_seconds(evm_hex_decode_int(b.timestamp, 'Int64'))   AS timestamp,
    evm_hex_decode(b.hash)                                        AS block_hash,
    evm_hex_decode_int(b.number, 'UInt64')                        AS block_number,
    evm_hex_decode(r.`from`)                                      AS transaction_from,
    CAST(evm_hex_decode_int(r.status, 'UInt8') AS TINYINT)        AS transaction_status,
    evm_hex_decode(r.transactionHash)                             AS transaction_hash,
    CAST(evm_hex_decode_int(r.transactionIndex, 'UInt32') AS INT) AS transaction_index,
    l.removed                                                     AS removed,
    CAST(evm_hex_decode_int(l.logIndex, 'UInt32') AS INT)         AS log_index,
    evm_hex_decode(l.address)                                     AS address,
    evm_hex_decode(l.data)                                        AS data,
    transform(l.topics, x -> unhex(substring(x, 3)))              AS topics,
    date_format(timestamp_seconds(evm_hex_decode_int(b.timestamp, 'Int64')),
                'yyyyMM')                                         AS month
FROM logs
