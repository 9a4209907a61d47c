-- per-batch call decode (reference:
-- examples/ethereum_decoded_traces/create_buffer.sql:1-57): cursor-range
-- scan, the 4-byte selector prefix ``left(input, 4)`` (:36) as the
-- dictionary key, evm_decode_call over input+output, keep clean decodes.
CREATE OR REPLACE TEMPORARY VIEW buffer_{{.START}}_{{.END}} AS
WITH q0 AS (
    SELECT t.*, d.fullsigs
    FROM {{.SOURCE_TABLE}} t
    LEFT JOIN evm_abi_decoding d
           ON concat('0x', lower(hex(substring(t.input, 1, 4)))) = d.selector
    WHERE t.block_number >= {{.START}} AND t.block_number <= {{.END}}
      AND length(t.input) >= 4
),
q1 AS (
    SELECT *, evm_decode_call(input, output, fullsigs) AS call
    FROM q0
)
SELECT
    timestamp,
    block_hash,
    block_number,
    transaction_hash,
    transaction_position,
    `from`,
    `to`,
    gas,
    gas_used,
    get_json_object(call, '$.value.signature') AS signature,
    try_parse_json(get_json_object(call, '$.value.inputs'))  AS inputs,
    try_parse_json(get_json_object(call, '$.value.outputs')) AS outputs,
    month
FROM q1
WHERE get_json_object(call, '$.error') IS NULL
