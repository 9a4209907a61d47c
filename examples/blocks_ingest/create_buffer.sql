-- per-batch buffer: RPC fan-out over the block range, JSON → typed columns
-- (reference: examples/ethereum_blocks/create_buffer.sql:1-72 —
-- generate_series → ethereum_rpc → JSONExtract(Tuple) → evm_hex_decode*).
-- A temp view is the Spark buffer: lazy, so the RPC fan-out runs inside
-- write_to_sink.sql, distributed. ethereum_rpc is registered
-- nondeterministic, so the optimizer cannot duplicate the call: one call
-- per block.
CREATE OR REPLACE TEMPORARY VIEW buffer_{{.START}}_{{.END}} AS
WITH raw AS (
    SELECT from_json(
               get_json_object(
                   ethereum_rpc(
                       'eth_getBlockByNumber',
                       array(evm_hex_encode_int(id), 'false'),
                       '{{.RPC_ENDPOINT}}#fail-on-error=true&fail-on-null=true'),
                   '$.value'),
               'timestamp STRING, number STRING, hash STRING,
                parentHash STRING, miner STRING, gasLimit STRING,
                gasUsed STRING, baseFeePerGas STRING, size STRING,
                extraData STRING') AS b
    FROM range({{.START}}, {{.END}} + 1)
)
SELECT
    timestamp_seconds(evm_hex_decode_int(b.timestamp, 'Int64')) AS timestamp,
    evm_hex_decode_int(b.number, 'UInt64')                      AS number,
    evm_hex_decode(b.hash)                                      AS hash,
    evm_hex_decode(b.parentHash)                                AS parent_hash,
    evm_hex_decode(b.miner)                                     AS miner,
    evm_hex_decode_int(b.gasLimit, 'UInt64')                    AS gas_limit,
    evm_hex_decode_int(b.gasUsed, 'UInt64')                     AS gas_used,
    evm_hex_decode_dec(b.baseFeePerGas)                         AS base_fee_per_gas,
    CAST(evm_hex_decode_int(b.size, 'UInt32') AS INT)           AS size,
    evm_hex_decode(b.extraData)                                 AS extra_data,
    date_format(timestamp_seconds(evm_hex_decode_int(b.timestamp, 'Int64')),
                'yyyyMM')                                       AS month
FROM raw
