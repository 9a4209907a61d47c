-- decoded logs sink (reference: examples/ethereum_decoded_logs/create_table.sql:1-48;
-- the ClickHouse Dynamic `inputs` column is a Spark VARIANT — SURVEY.md §7.2)
CREATE TABLE IF NOT EXISTS {{.SINK_TABLE}} (
    timestamp          TIMESTAMP,
    block_hash         BINARY,
    block_number       BIGINT,
    transaction_hash   BINARY,
    transaction_index  INT,
    log_index          INT,
    address            BINARY,
    signature          STRING,
    inputs             VARIANT,
    month              STRING
)
USING PARQUET
PARTITIONED BY (month)
LOCATION '{{.TARGET_PATH}}'
