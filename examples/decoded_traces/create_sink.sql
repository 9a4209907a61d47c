-- decoded traces sink (reference:
-- examples/ethereum_decoded_traces/create_table.sql:1-57)
CREATE TABLE IF NOT EXISTS {{.SINK_TABLE}} (
    timestamp            TIMESTAMP,
    block_hash           BINARY,
    block_number         BIGINT,
    transaction_hash     BINARY,
    transaction_position INT,
    `from`               BINARY,
    `to`                 BINARY,
    gas                  BIGINT,
    gas_used             BIGINT,
    signature            STRING,
    inputs               VARIANT,
    outputs              VARIANT,
    month                STRING
)
USING PARQUET
PARTITIONED BY (month)
LOCATION '{{.TARGET_PATH}}'
