-- Finalized-head tip (reference: examples/ethereum_blocks/tip.sql:1-8):
-- the tip is the block tagged {{.LATEST_BLOCK_STATUS}} ('finalized' by
-- default) so unfinalized heads — and therefore reorgs — never enter the
-- sink; pass LATEST_BLOCK_STATUS=latest to trade safety for freshness.
-- The decode renders as a Spark built-in (plans/templates.py), so
-- ethereum_rpc is the only Python UDF; it runs in a subquery because a
-- template function's argument cannot hold template variables.
SELECT {{ hexDecodeInt "number" "UInt64" }} AS tip
FROM (
    SELECT get_json_object(
               ethereum_rpc('eth_getBlockByNumber',
                            array('{{.LATEST_BLOCK_STATUS | default "finalized"}}', 'false'),
                            '{{.RPC_ENDPOINT}}#fail-on-error=true&fail-on-null=true'),
               '$.value.number') AS number
)
