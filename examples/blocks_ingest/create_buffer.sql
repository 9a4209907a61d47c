-- per-batch buffer: RPC fan-out over the block range, JSON → typed columns
-- (reference: examples/ethereum_blocks/create_buffer.sql:1-72 —
-- generate_series → ethereum_rpc → JSONExtract(Tuple) → evm_hex_decode*).
-- The hexDecode/hexDecodeInt/hexEncodeInt template functions render the
-- reference's hex UDFs as Spark built-ins (plans/templates.py) and
-- evm_hex_decode_dec is a SQL-defined function, so ethereum_rpc is the
-- only Python UDF of the plan.
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
                       array({{ hexEncodeInt "id" }}, 'false'),
                       '{{.RPC_ENDPOINT}}#fail-on-error=true&fail-on-null=true'),
                   '$.value'),
               'timestamp STRING, number STRING, hash STRING,
                parentHash STRING, miner STRING, gasLimit STRING,
                gasUsed STRING, baseFeePerGas STRING, size STRING,
                extraData STRING') AS b
    FROM range({{.START}}, {{.END}} + 1)
)
SELECT
    timestamp_seconds({{ hexDecodeInt "b.timestamp" "Int64" }}) AS timestamp,
    {{ hexDecodeInt "b.number" "UInt64" }}                      AS number,
    {{ hexDecode "b.hash" }}                                    AS hash,
    {{ hexDecode "b.parentHash" }}                              AS parent_hash,
    {{ hexDecode "b.miner" }}                                   AS miner,
    {{ hexDecodeInt "b.gasLimit" "UInt64" }}                    AS gas_limit,
    {{ hexDecodeInt "b.gasUsed" "UInt64" }}                     AS gas_used,
    evm_hex_decode_dec(b.baseFeePerGas)                         AS base_fee_per_gas,
    {{ hexDecodeInt "b.size" "UInt32" "INT" }}                  AS size,
    {{ hexDecode "b.extraData" }}                               AS extra_data,
    date_format(timestamp_seconds({{ hexDecodeInt "b.timestamp" "Int64" }}),
                'yyyyMM')                                       AS month
FROM raw
