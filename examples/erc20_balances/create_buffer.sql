-- per-batch buffer mirroring the reference's five CTEs
-- (examples/ethereum_token_erc20_balances/create_buffer.sql:1-122):
-- logs→transfers (keccak-constant topic filter), tokens (one symbol()/
-- decimals() eth_call per distinct token — the GROUP BY dedup at :37-64),
-- grouped (sender∪recipient UNION ALL + multi-key grouping, :66-89; any()
-- expressed as min() for determinism), balances (balanceOf at height,
-- :91-107), final enrichment LEFT JOIN + exp10 scaling (:109-121).
CREATE OR REPLACE TEMPORARY VIEW buffer_{{.START}}_{{.END}} AS
WITH logs AS (
    SELECT timestamp, block_hash, block_number, month,
           address AS token_address,
           concat('0x', lower(hex(substring(element_at(topics, 2), 13, 20))))
               AS sender,
           concat('0x', lower(hex(substring(element_at(topics, 3), 13, 20))))
               AS recipient,
           evm_hex_decode_dec(concat('0x', hex(data))) AS amount
    FROM {{.SOURCE_TABLE}}
    WHERE block_number >= {{.START}} AND block_number <= {{.END}}
      -- keccak256('Transfer(address,address,uint256)'), written out: Spark
      -- cannot fold a Python UDF, so the call would run once per log
      AND element_at(topics, 1) =
          X'ddf252ad1be2c89b69c2b068fc378daa952ba7f163c4a11628f55a4df523b3ef'
      AND size(topics) == 3
),
tokens AS (
    SELECT token_address,
           get_json_object(
               ethereum_rpc_call(
                   concat('0x', lower(hex(token_address))),
                   'function symbol()(string)', '', -1,
                   '{{.RPC_ENDPOINT}}#fail-on-retryable-error=true&fail-on-null=true'),
               '$.value.arg0') AS symbol,
           CAST(get_json_object(
               ethereum_rpc_call(
                   concat('0x', lower(hex(token_address))),
                   'function decimals()(uint8)', '', -1,
                   '{{.RPC_ENDPOINT}}#fail-on-retryable-error=true&fail-on-null=true'),
               '$.value.arg0') AS TINYINT) AS decimals
    FROM (SELECT DISTINCT token_address FROM logs)
),
grouped AS (
    SELECT min(timestamp)  AS timestamp,
           min(block_hash) AS block_hash,
           min(month)      AS month,
           block_number, wallet_address, token_address
    FROM (
        SELECT timestamp, block_hash, month, block_number, token_address,
               sender AS wallet_address
        FROM logs
        UNION ALL
        SELECT timestamp, block_hash, month, block_number, token_address,
               recipient AS wallet_address
        FROM logs
    )
    GROUP BY wallet_address, token_address, block_number
),
balances AS (
    SELECT g.*,
           CAST(get_json_object(
               ethereum_rpc_call(
                   concat('0x', lower(hex(g.token_address))),
                   'function balanceOf(address)(uint256)',
                   to_json(array(g.wallet_address)),
                   g.block_number,
                   '{{.RPC_ENDPOINT}}#fail-on-retryable-error=true&fail-on-null=true'),
               '$.value.arg0') AS DECIMAL(38,0)) AS balance
    FROM grouped g
)
SELECT
    b.timestamp                                  AS timestamp,
    b.block_hash                                 AS block_hash,
    b.block_number                               AS block_number,
    unhex(substring(b.wallet_address, 3))        AS wallet_address,
    b.token_address                              AS token_address,
    t.symbol                                     AS token_symbol,
    t.decimals                                   AS token_decimals,
    b.balance                                    AS raw_balance,
    CAST(b.balance / power(10, t.decimals) AS DOUBLE) AS balance,
    b.month                                      AS month
FROM balances b
LEFT JOIN tokens t ON b.token_address = t.token_address
