-- per-batch decode: cursor-range scan → dictGet (broadcast join on
-- topic0) → evm_decode_event → keep clean decodes
-- (reference: examples/ethereum_decoded_logs/create_buffer.sql:1-47).
-- dictGet(evm_abi_decoding, 'fullsigs', topics[1]) is the broadcast hash
-- join below (SURVEY.md §2.4); evt.value.signature / evt.^value.inputs /
-- evt.error IS NULL become get_json_object paths over the decode JSON.
CREATE OR REPLACE TEMPORARY VIEW buffer_{{.START}}_{{.END}} AS
WITH q0 AS (
    SELECT l.*, d.fullsigs
    FROM {{.SOURCE_TABLE}} l
    LEFT JOIN evm_abi_decoding d
           ON concat('0x', lower(hex(element_at(l.topics, 1)))) = d.selector
    WHERE l.block_number >= {{.START}} AND l.block_number <= {{.END}}
      AND size(l.topics) > 0
),
q1 AS (
    SELECT *, evm_decode_event(topics, data, fullsigs) AS evt
    FROM q0
)
SELECT
    timestamp,
    block_hash,
    block_number,
    transaction_hash,
    transaction_index,
    log_index,
    address,
    get_json_object(evt, '$.value.signature') AS signature,
    try_parse_json(get_json_object(evt, '$.value.inputs')) AS inputs,
    month
FROM q1
WHERE get_json_object(evt, '$.error') IS NULL
