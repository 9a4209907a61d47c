"""Unit tests for the pure kernels (SURVEY.md §5 item 3)."""

import json

import pytest
from hypothesis import given, strategies as st
from pyspark.errors import PythonException

from agnostic_blockchain_etl_spark.functions import (
    abi, hex as hexmod, keccak, rpc, words)


class TestKeccak:
    def test_known_vectors(self):
        # public Keccak-256 vectors (pre-NIST padding)
        assert keccak.keccak256_hex("") == (
            "0xc5d2460186f7233c927e7db2dcc703c0e500b653ca82273b7bfad8045d85a470")
        assert keccak.keccak256_hex("abc") == (
            "0x4e03657aea45a94fc7d47ba826c8d667c0d1e6e33a64a036ec44f58fa12d6c45")
        # the ERC20 Transfer topic0 the erc20 pipeline writes as a literal
        assert keccak.keccak256_hex("Transfer(address,address,uint256)") == (
            "0xddf252ad1be2c89b69c2b068fc378daa952ba7f163c4a11628f55a4df523b3ef")

    def test_multiblock(self):
        # crosses the 136-byte rate boundary
        assert len(keccak.keccak256(b"a" * 200)) == 32
        assert keccak.keccak256(b"a" * 136) != keccak.keccak256(b"a" * 137)

    @given(st.binary(max_size=512))
    def test_deterministic_and_32_bytes(self, data):
        d1, d2 = keccak.keccak256(data), keccak.keccak256(data)
        assert d1 == d2 and len(d1) == 32

    def test_null_is_null(self):
        assert keccak.keccak256(None) is None


class TestWords:
    """UInt256 word kernels, the functions SQL calls row by row."""

    @staticmethod
    def w(n: int) -> bytes:
        return n.to_bytes(32, "big")

    def test_add_wraps_at_2_256(self):
        assert words.evm_word_add(self.w(2 ** 256 - 1), self.w(2)) == self.w(1)

    def test_sub_below_zero_wraps(self):
        assert words.evm_word_sub(self.w(0), self.w(1)) == self.w(2 ** 256 - 1)
        assert words.evm_word_to_str(words.evm_word_sub(self.w(5), self.w(7))) \
            == str(2 ** 256 - 2)

    def test_cmp_is_three_way(self):
        big = self.w(2 ** 255)
        assert [words.evm_word_cmp(a, b) for a, b in (
            (self.w(1), big), (big, big), (big, self.w(1)))] == [-1, 0, 1]

    def test_null_arguments_give_null(self):
        one = self.w(1)
        for fn in (words.evm_word_add, words.evm_word_sub, words.evm_word_cmp):
            assert fn(None, one) is None and fn(one, None) is None
        assert words.evm_word_to_str(None) is None


class TestHex:
    def test_decode(self):
        assert hexmod.evm_hex_decode("0xdeadbeef") == b"\xde\xad\xbe\xef"
        assert hexmod.evm_hex_decode("0x") == b""
        assert hexmod.evm_hex_decode(None) is None
        assert hexmod.evm_hex_decode("0x1") == b"\x01"  # odd-length pad

    def test_decode_int(self):
        assert hexmod.evm_hex_decode_int("0x10", "UInt64") == 16
        assert hexmod.evm_hex_decode_int("0x", "UInt64") == 0
        assert hexmod.evm_hex_decode_int(None, "UInt64") is None
        assert hexmod.evm_hex_decode_int("0xff", "UInt8") == 255
        with pytest.raises(OverflowError):
            hexmod.evm_hex_decode_int("0x100", "UInt8")
        # two's-complement for signed types
        assert hexmod.evm_hex_decode_int("0xff", "Int8") == -1
        assert hexmod.evm_hex_decode_int("0x" + "ff" * 32, "UInt256") == 2**256 - 1

    def test_encode(self):
        assert hexmod.evm_hex_encode(b"\xde\xad") == "0xdead"
        assert hexmod.evm_hex_encode_int(0) == "0x0"
        assert hexmod.evm_hex_encode_int(255) == "0xff"

    @given(st.binary(max_size=64))
    def test_roundtrip_bytes(self, b):
        assert hexmod.evm_hex_decode(hexmod.evm_hex_encode(b)) == b

    @given(st.integers(min_value=0, max_value=2**256 - 1))
    def test_roundtrip_int(self, n):
        assert hexmod.evm_hex_decode_int(
            hexmod.evm_hex_encode_int(n), "UInt256") == n


TRANSFER_SIG = "event Transfer(address indexed,address indexed,uint256)"


def _transfer_log(frm: bytes, to: bytes, amount: int):
    t0 = keccak.keccak256("Transfer(address,address,uint256)")
    return ([t0, frm.rjust(32, b"\x00"), to.rjust(32, b"\x00")],
            amount.to_bytes(32, "big"))


class TestAbi:
    def test_signature_parsing(self):
        s = abi.parse_signature(
            "event Transfer(address indexed from, address indexed to, uint256 value)")
        assert s.canonical() == "Transfer(address,address,uint256)"
        assert [p.indexed for p in s.inputs] == [True, True, False]
        assert [p.name for p in s.inputs] == ["from", "to", "value"]

    def test_known_selectors(self):
        assert abi.parse_signature(
            "function balanceOf(address)(uint256)").selector().hex() == "70a08231"
        assert abi.parse_signature(
            "function symbol()(string)").selector().hex() == "95d89b41"
        assert abi.parse_signature(
            "function decimals()(uint8)").selector().hex() == "313ce567"

    def test_decode_event(self):
        topics, data = _transfer_log(b"\xaa" * 20, b"\xbb" * 20, 12345)
        r = json.loads(abi.evm_decode_event(topics, data, [TRANSFER_SIG]))
        assert r["error"] is None
        assert r["value"]["signature"] == "Transfer(address,address,uint256)"
        assert r["value"]["inputs"] == {
            "arg0": "0x" + "aa" * 20, "arg1": "0x" + "bb" * 20, "arg2": 12345}

    def test_decode_event_no_match(self):
        topics, data = _transfer_log(b"\xaa" * 20, b"\xbb" * 20, 1)
        r = json.loads(abi.evm_decode_event(
            topics, data, ["event Approval(address indexed,address indexed,uint256)"]))
        assert r["value"] is None and "mismatch" in r["error"]

    def test_decode_event_wrong_arity(self):
        t0 = keccak.keccak256("Transfer(address,address,uint256)")
        r = json.loads(abi.evm_decode_event(
            [t0], (1).to_bytes(32, "big") * 3, [TRANSFER_SIG]))
        assert r["value"] is None

    def test_dynamic_roundtrip(self):
        types = [abi.parse_type(t) for t in
                 ("string", "uint256[]", "bytes", "bool", "address", "bytes4")]
        vals = ["héllo wörld", [0, 1, 2**255], "0xdeadbeef", True,
                "0x" + "12" * 20, "0x01020304"]
        assert abi.abi_decode(types, abi.abi_encode(types, vals)) == vals

    def test_nested_tuple_decode(self):
        t = abi.parse_type("(uint256,(address,bool))")
        enc = abi.abi_encode([t], [[7, ["0x" + "ab" * 20, True]]])
        assert abi.abi_decode([t], enc) == [[7, ["0x" + "ab" * 20, True]]]

    def test_fixed_bytes_are_static(self):
        t = [abi.parse_type("bytes4"), abi.parse_type("uint8")]
        assert abi.abi_encode(t, ["0x01020304", 5]) == bytes.fromhex(
            "01020304".ljust(64, "0") + "05".rjust(64, "0"))
        word = bytes(range(32))
        r = json.loads(abi.evm_decode_event(
            [keccak.keccak256("E(bytes32)")], word, ["event E(bytes32)"]))
        assert r == {"value": {"signature": "E(bytes32)",
                               "inputs": {"arg0": "0x" + word.hex()}},
                     "error": None}

    def test_decode_call(self):
        cd = abi.encode_call_data("function balanceOf(address)(uint256)",
                                  ["0x" + "aa" * 20])
        out = (999).to_bytes(32, "big")
        r = json.loads(abi.evm_decode_call(
            cd, out, ["function balanceOf(address)(uint256)"]))
        assert r["value"]["inputs"] == {"arg0": "0x" + "aa" * 20}
        assert r["value"]["outputs"] == {"arg0": 999}

    def test_decode_call_short_input(self):
        r = json.loads(abi.evm_decode_call(b"\x01", b"", [TRANSFER_SIG]))
        assert r["value"] is None

    def test_decoder_never_raises_on_garbage(self):
        r = json.loads(abi.evm_decode_event(
            [b"\x00"] , b"\xff" * 7, ["event E(uint256[])"]))
        assert r["value"] is None and r["error"]

    @given(st.lists(st.integers(min_value=0, max_value=2**256 - 1),
                    max_size=8))
    def test_uint_array_roundtrip(self, xs):
        t = [abi.parse_type("uint256[]")]
        assert abi.abi_decode(t, abi.abi_encode(t, [xs])) == [xs]


class TestRpc:
    def test_endpoint_options(self):
        o = rpc.EndpointOptions.parse(
            "https://node.example/v1?key=k#fail-on-error=true&fail-on-null=true")
        assert o.url == "https://node.example/v1?key=k"
        assert o.fail_on_error and o.fail_on_null and not o.fail_on_retryable_error

    def test_mock_rpc_envelope(self):
        t = rpc.MockTransport(lambda m, p: {"number": "0x10"}
                              if m == "eth_getBlockByNumber" else None)
        out = json.loads(rpc.ethereum_rpc(
            "eth_getBlockByNumber", ["0x10", False], "http://x", transport=t))
        assert out == {"value": {"number": "0x10"}, "error": None}

    def test_params_reach_the_wire_json_typed(self):
        """SQL arrays are homogeneous strings, but a real endpoint rejects
        '"false"' where a boolean belongs (-32602): string params that
        parse as JSON must be decoded before the call — the reference's
        param contract (its tip.sql passes ['"finalized"', 'false'])."""
        seen = []

        def capture(m, p):
            seen.append(p)
            return {"number": "0x10"}

        t = rpc.MockTransport(capture)
        rpc.ethereum_rpc("eth_getBlockByNumber",
                         ["finalized", "false"], "http://x", transport=t)
        rpc.ethereum_rpc("eth_getBlockByNumber",
                         ['"finalized"', "true"], "http://x", transport=t)
        rpc.ethereum_rpc("eth_getLogs",
                         ['{"fromBlock": "0x1"}'], "http://x", transport=t)
        assert seen[0] == ["finalized", False]       # bare-string form
        assert seen[1] == ["finalized", True]        # quoted-JSON form
        assert seen[2] == [{"fromBlock": "0x1"}]     # object params decode
        # hex quantities are NOT valid JSON and must pass through verbatim
        rpc.ethereum_rpc("eth_getBlockByNumber", ["0x1a", "false"],
                         "http://x", transport=t)
        assert seen[3] == ["0x1a", False]

    def test_null_arguments_return_the_envelope(self):
        """The kernels' own NULL rules, the ones SQL gets row by row."""
        assert json.loads(rpc.ethereum_rpc(None, [], None)) == \
            {"value": None, "error": "null method or endpoint"}
        assert json.loads(rpc.ethereum_rpc_call(
            "0x" + "cc" * 20, "function decimals()(uint8)", "", None,
            "http://x")) == \
            {"value": None, "error": "null to/func_sig/block_number/endpoint"}
        t = rpc.MockTransport(lambda m, p: p)
        assert json.loads(rpc.ethereum_rpc("m", None, "http://x", transport=t)) \
            == {"value": [], "error": None}

    def test_fail_on_null(self):
        t = rpc.MockTransport(lambda m, p: None)
        with pytest.raises(rpc.RpcError):
            rpc.ethereum_rpc("m", [], "http://x#fail-on-null=true", transport=t)
        # without the flag: embedded null value, no error
        out = json.loads(rpc.ethereum_rpc("m", [], "http://x", transport=t))
        assert out == {"value": None, "error": None}

    def test_rpc_call_decodes_output(self):
        def serve(method, params):
            assert method == "eth_call"
            assert params[0]["data"].startswith("0x70a08231")
            assert params[1] == "0x64"
            return "0x" + (424242).to_bytes(32, "big").hex()

        out = json.loads(rpc.ethereum_rpc_call(
            "0x" + "cc" * 20, "function balanceOf(address)(uint256)",
            json.dumps(["0x" + "aa" * 20]), 100, "http://x",
            transport=rpc.MockTransport(serve)))
        assert out == {"value": {"arg0": 424242}, "error": None}

    def test_rpc_call_latest_block(self):
        seen = {}

        def serve(method, params):
            seen["block"] = params[1]
            return "0x" + (1).to_bytes(32, "big").hex()

        rpc.ethereum_rpc_call("0x" + "cc" * 20, "function decimals()(uint8)",
                              "", -1, "http://x", transport=rpc.MockTransport(serve))
        assert seen["block"] == "latest"

    # The fail-on-* contract through the registered SQL UDF, the engine's
    # one RPC path, against the session mock chain (the error envelope
    # itself: tests/test_rpc_datasource.py, tests/test_rpc_source.py).
    # max-retries=0: a failing call returns at once instead of backing off.

    @pytest.fixture(scope="class")
    def spark(self):
        from agnostic_blockchain_etl_spark.session import get_session
        return get_session(master="local[4]",
                           conf={"spark.sql.shuffle.partitions": "4"})

    @staticmethod
    def _rpc_sql(method, params, options):
        return (f"SELECT ethereum_rpc('{method}', array({params}), "
                f"'mock://chain#max-retries=0{options}') AS r FROM range(3)")

    def test_sql_fail_on_error_fails_query(self, spark):
        q = spark.sql(self._rpc_sql("bogus_method", "", "&fail-on-error=true"))
        with pytest.raises(PythonException) as info:
            q.collect()
        assert "RpcError" in str(info.value)

    def test_sql_null_result_past_tip(self, spark):
        from tests.mock_chain import CHAIN_TIP
        n = 10000
        assert n > CHAIN_TIP
        params = f"'{hex(n)}', 'false'"
        rows = spark.sql(
            self._rpc_sql("eth_getBlockByNumber", params, "")).collect()
        assert [json.loads(r.r) for r in rows] == \
            [{"value": None, "error": None}] * 3
        q = spark.sql(self._rpc_sql("eth_getBlockByNumber", params,
                                    "&fail-on-null=true"))
        with pytest.raises(PythonException) as info:
            q.collect()
        assert "RpcError" in str(info.value)


class TestDecoderFuzz:
    """The decode UDFs run inside Spark tasks — an exception there kills
    the whole stage, so the kernel contract is: NEVER raise, always return
    the JSON envelope."""

    @given(st.lists(st.binary(min_size=0, max_size=40), max_size=5),
           st.binary(max_size=200),
           st.lists(st.text(max_size=60), max_size=3))
    def test_decode_event_never_raises(self, topics, data, sigs):
        r = json.loads(abi.evm_decode_event(topics, data, sigs))
        assert set(r) == {"value", "error"}
        assert (r["value"] is None) != (r["error"] is None) or r["value"] is None

    @given(st.binary(max_size=120), st.binary(max_size=120),
           st.lists(st.text(max_size=60), max_size=3))
    def test_decode_call_never_raises(self, inp, out, sigs):
        r = json.loads(abi.evm_decode_call(inp, out, sigs))
        assert set(r) == {"value", "error"}

    @given(st.binary(min_size=4, max_size=200))
    def test_decode_against_valid_sig_garbage_payload(self, payload):
        # a real signature with garbage bytes → clean error or clean decode
        sig = "function transfer(address,uint256)(bool)"
        r = json.loads(abi.evm_decode_call(payload, b"", [sig]))
        assert set(r) == {"value", "error"}


class TestWave5Regressions:
    """Round-7 review-wave findings on the kernel layer."""

    def test_abi_location_keyword_before_name(self):
        from agnostic_blockchain_etl_spark.functions.abi import (
            parse_signature)
        sig = parse_signature("event LogData(bytes memory data)")
        assert sig.inputs[0].type.base == "bytes"
        assert sig.inputs[0].name == "data"
        sig2 = parse_signature(
            "function f(uint256 calldata x) returns (bool ok)")
        assert sig2.inputs[0].name == "x"

    def test_png_wav_struct_errors_contained(self):
        import struct
        import zlib

        from agnostic_blockchain_etl_spark.functions.audio import (
            AudioFormatError, decode_wav)
        from agnostic_blockchain_etl_spark.functions.imaging import (
            ImageFormatError, decode_png)

        def chunk(typ, data):
            return (struct.pack(">I", len(data)) + typ + data
                    + struct.pack(">I", zlib.crc32(typ + data)
                                  & 0xffffffff))
        png = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", b"\x00" * 5)
               + chunk(b"IDAT", zlib.compress(b"\x00"))
               + chunk(b"IEND", b""))
        with pytest.raises(ImageFormatError):   # NOT struct.error
            decode_png(png)
        wav = (b"RIFF" + struct.pack("<I", 20) + b"WAVE"
               + b"fmt " + struct.pack("<I", 4) + b"\x01\x00\x02\x00"
               + b"data" + struct.pack("<I", 0))
        with pytest.raises(AudioFormatError):
            decode_wav(wav)

    def test_rpc_udfs_null_safe(self):
        """A NULL method/endpoint/block_number yields the error
        envelope, never an exception out of the UDF."""
        import json as _json

        from agnostic_blockchain_etl_spark.session import get_session
        spark = get_session(master="local[4]",
                            conf={"spark.sql.shuffle.partitions": "4"})
        row = spark.sql(
            "SELECT ethereum_rpc(CAST(NULL AS STRING), array('x'), "
            "CAST(NULL AS STRING)) AS r").collect()[0]
        env = _json.loads(row.r)
        assert env["value"] is None and "null" in env["error"]
        row2 = spark.sql(
            "SELECT ethereum_rpc_call('0xabc', 'f()', '[]', "
            "CAST(NULL AS BIGINT), 'http://x') AS r").collect()[0]
        env2 = _json.loads(row2.r)
        assert env2["value"] is None and "null" in env2["error"]
