-- per-batch buffer mirroring examples/ethereum_traces/create_buffer.sql:1-165:
-- trace_block array explode, nested action tuple access (t.action.from →
-- tr.action.`from`, :71-91), and the 1-based position-index join into the
-- sibling receipts array (receipts[transaction_position + 1] →
-- element_at(receipts, pos + 1), :136-139).
-- Hex decodes render as Spark built-ins (plans/templates.py), so
-- ethereum_rpc is the only Python UDF of the plan.
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
            'ARRAY<STRUCT<status: STRING>>')                      AS receipts,
        from_json(
            get_json_object(
                ethereum_rpc('trace_block',
                             array({{ hexEncodeInt "id" }}),
                             '{{.RPC_ENDPOINT}}#fail-on-error=true&fail-on-null=true'),
                '$.value'),
            'ARRAY<STRUCT<
                action: STRUCT<callType: STRING, `from`: STRING, `to`: STRING,
                               gas: STRING, input: STRING, value: STRING>,
                result: STRUCT<gasUsed: STRING, output: STRING>,
                subtraces: INT, traceAddress: ARRAY<INT>,
                transactionHash: STRING, transactionPosition: INT,
                type: STRING, error: STRING>>')                   AS traces
    FROM range({{.START}}, {{.END}} + 1)
),
flat AS (
    SELECT b, receipts, tr
    FROM deps LATERAL VIEW explode(traces) AS tr
)
SELECT
    timestamp_seconds({{ hexDecodeInt "b.timestamp" "Int64" }}) AS timestamp,
    {{ hexDecode "b.hash" }}                                    AS block_hash,
    {{ hexDecodeInt "b.number" "UInt64" }}                      AS block_number,
    {{ hexDecode "tr.transactionHash" }}                        AS transaction_hash,
    tr.transactionPosition                                      AS transaction_position,
    {{ hexDecodeInt "element_at(receipts, tr.transactionPosition + 1).status"
                     "UInt8" "TINYINT" }}                       AS transaction_status,
    tr.subtraces                                                AS subtraces,
    tr.traceAddress                                             AS trace_address,
    tr.type                                                     AS type,
    tr.action.callType                                          AS call_type,
    tr.error                                                    AS error,
    {{ hexDecode "tr.action.`from`" }}                          AS `from`,
    {{ hexDecode "tr.action.`to`" }}                            AS `to`,
    {{ hexDecodeInt "tr.action.gas" "UInt64" }}                 AS gas,
    {{ hexDecodeInt "tr.result.gasUsed" "UInt64" }}             AS gas_used,
    evm_hex_decode_dec(tr.action.value)                         AS value,
    {{ hexDecode "tr.action.input" }}                           AS input,
    {{ hexDecode "tr.result.output" }}                          AS output,
    date_format(timestamp_seconds({{ hexDecodeInt "b.timestamp" "Int64" }}),
                'yyyyMM')                                       AS month
FROM flat
