-- per-batch buffer: the POSITIONAL ZIP of block.transactions with the
-- receipts array — reference: examples/ethereum_transactions/create_buffer.sql:161
-- ``ARRAY JOIN block.transactions AS tx, receipts AS r`` (ClickHouse zips
-- equal-length arrays by index). Spark mapping (SURVEY.md §2.4):
-- ``posexplode(arrays_zip(transactions, receipts))`` — NOT a cross join.
-- Hex decodes render as Spark built-ins (plans/templates.py), so
-- ethereum_rpc is the only Python UDF of the plan.
CREATE OR REPLACE TEMPORARY VIEW buffer_{{.START}}_{{.END}} AS
WITH deps AS (
    SELECT
        from_json(
            get_json_object(
                ethereum_rpc('eth_getBlockByNumber',
                             array({{ hexEncodeInt "id" }}, 'true'),
                             '{{.RPC_ENDPOINT}}#fail-on-error=true&fail-on-null=true'),
                '$.value'),
            'timestamp STRING, number STRING, hash STRING,
             transactions ARRAY<STRUCT<hash: STRING, transactionIndex: STRING,
                `from`: STRING, `to`: STRING, value: STRING, gas: STRING,
                gasPrice: STRING, nonce: STRING, input: STRING,
                type: STRING>>')                                  AS b,
        from_json(
            get_json_object(
                ethereum_rpc('eth_getBlockReceipts',
                             array({{ hexEncodeInt "id" }}),
                             '{{.RPC_ENDPOINT}}#fail-on-error=true&fail-on-null=true'),
                '$.value'),
            'ARRAY<STRUCT<transactionHash: STRING, transactionIndex: STRING,
                gasUsed: STRING, cumulativeGasUsed: STRING,
                effectiveGasPrice: STRING, status: STRING>>')     AS receipts
    FROM range({{.START}}, {{.END}} + 1)
),
zipped AS (
    SELECT b, z.transactions AS tx, z.receipts AS r
    FROM deps
    LATERAL VIEW posexplode(arrays_zip(b.transactions, receipts)) AS pos, z
)
SELECT
    timestamp_seconds({{ hexDecodeInt "b.timestamp" "Int64" }}) AS timestamp,
    {{ hexDecode "b.hash" }}                                    AS block_hash,
    {{ hexDecodeInt "b.number" "UInt64" }}                      AS block_number,
    {{ hexDecode "tx.hash" }}                                   AS hash,
    {{ hexDecodeInt "tx.transactionIndex" "UInt32" "INT" }}     AS transaction_index,
    {{ hexDecode "tx.`from`" }}                                 AS `from`,
    {{ hexDecode "tx.`to`" }}                                   AS `to`,
    evm_hex_decode_dec(tx.value)                                AS value,
    {{ hexDecodeInt "tx.gas" "UInt64" }}                        AS gas,
    {{ hexDecodeInt "r.gasUsed" "UInt64" }}                     AS gas_used,
    {{ hexDecodeInt "r.cumulativeGasUsed" "UInt64" }}           AS cumulative_gas_used,
    evm_hex_decode_dec(r.effectiveGasPrice)                     AS effective_gas_price,
    {{ hexDecodeInt "tx.nonce" "UInt64" }}                      AS nonce,
    {{ hexDecode "tx.input" }}                                  AS input,
    {{ hexDecodeInt "tx.type" "UInt8" "INT" }}                  AS type,
    {{ hexDecodeInt "r.status" "UInt8" "TINYINT" }}             AS status,
    date_format(timestamp_seconds({{ hexDecodeInt "b.timestamp" "Int64" }}),
                'yyyyMM')                                       AS month
FROM zipped
