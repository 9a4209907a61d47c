-- replace-one-column export (reference transform.sql:11-16:
-- ``SELECT t.* EXCEPT (inputs), toJSONString(inputs) AS inputs``:
-- CAST of the VARIANT to STRING is toJSONString, its canonical JSON
-- text) into idempotent daily partitions
INSERT OVERWRITE TABLE {{.SINK_TABLE}} PARTITION (date)
SELECT timestamp, block_number, transaction_hash, log_index, address,
       signature,
       CAST(inputs AS STRING) AS inputs,
       to_date(timestamp) AS date
FROM {{.SOURCE_TABLE}}
WHERE timestamp >= CAST(date_add(DATE '1970-01-01', {{.START}}) AS TIMESTAMP)
  AND timestamp <  CAST(date_add(DATE '1970-01-01', {{.END}} + 1) AS TIMESTAMP)
