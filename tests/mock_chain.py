"""Deterministic mock Ethereum chain (FIXTURES.md §8): every response is a
pure function of block number, importable on Spark workers via
``AGN_RPC_MOCK=tests.mock_chain:transport``.

World model:
- blocks 0..CHAIN_TIP, 12 s apart;
- block n carries ``n % 3`` transactions; tx i in block n transfers
  ``amount(n, i)`` of token ``TOKEN`` from ``addr(n+i)`` to ``addr(n+i+1)``;
- every tx has a matching receipt; even-indexed txs emit one ERC20
  ``Transfer`` log; each tx produces one call trace;
- ``eth_call`` serves ``symbol()``/``decimals()``/``balanceOf(address)``
  for TOKEN (FIXTURES.md §7).
"""

from __future__ import annotations

import json
import os

from agnostic_blockchain_etl_spark.functions.hex import (evm_hex_decode,
                                                         evm_hex_decode_int,
                                                         evm_hex_encode_int)
from agnostic_blockchain_etl_spark.functions.keccak import keccak256
from agnostic_blockchain_etl_spark.functions.rpc import MockTransport

CHAIN_TIP = 149
# the mock consensus lags the head like a real chain: blocks within
# FINALIZED_LAG of the tip are not yet finalized
FINALIZED_LAG = 6
GENESIS_TS = 1600000000
# directory the transport logs every call to, when set (tests/conftest.py)
CALL_LOG_ENV = "MOCK_CHAIN_CALL_LOG"

TRANSFER_TOPIC0 = keccak256("Transfer(address,address,uint256)")
TOKEN = keccak256(b"token:MCK")[:20]
TOKEN_SYMBOL = "MCK"
TOKEN_DECIMALS = 18


def block_hash(n: int) -> bytes:
    return keccak256(b"block:" + n.to_bytes(8, "big"))


def miner(n: int) -> bytes:
    return keccak256(b"miner:" + (n % 5).to_bytes(1, "big"))[:20]


def addr(i: int) -> bytes:
    return keccak256(b"addr:" + (i % 11).to_bytes(2, "big"))[:20]


def tx_count(n: int) -> int:
    return n % 3


def tx_hash(n: int, i: int) -> bytes:
    return keccak256(b"tx:" + n.to_bytes(8, "big") + i.to_bytes(2, "big"))


def amount(n: int, i: int) -> int:
    return (n * 1000 + i) * 10 ** 15


def balance_of(a: bytes, block: int) -> int:
    return int.from_bytes(a[:4], "big") * 7 + block * 10 ** 12


_TRANSFER_SELECTOR = keccak256("transfer(address,uint256)")[:4]


def make_tx(n: int, i: int) -> dict:
    return {
        "hash": "0x" + tx_hash(n, i).hex(),
        "transactionIndex": evm_hex_encode_int(i),
        "from": "0x" + addr(n + i).hex(),
        "to": "0x" + TOKEN.hex(),
        "value": evm_hex_encode_int(0),
        "gas": evm_hex_encode_int(60_000),
        "gasPrice": evm_hex_encode_int(10 ** 9 + n),
        "nonce": evm_hex_encode_int(n + i),
        "input": "0x" + (_TRANSFER_SELECTOR
                         + addr(n + i + 1).rjust(32, b"\x00")
                         + amount(n, i).to_bytes(32, "big")).hex(),
        "type": evm_hex_encode_int(2),
    }


def make_log(n: int, i: int) -> dict:
    return {
        "address": "0x" + TOKEN.hex(),
        "topics": ["0x" + TRANSFER_TOPIC0.hex(),
                   "0x" + addr(n + i).rjust(32, b"\x00").hex(),
                   "0x" + addr(n + i + 1).rjust(32, b"\x00").hex()],
        "data": "0x" + amount(n, i).to_bytes(32, "big").hex(),
        "logIndex": evm_hex_encode_int(i),
        "removed": False,
    }


def make_receipt(n: int, i: int) -> dict:
    return {
        "transactionHash": "0x" + tx_hash(n, i).hex(),
        "transactionIndex": evm_hex_encode_int(i),
        "from": "0x" + addr(n + i).hex(),
        "to": "0x" + TOKEN.hex(),
        "gasUsed": evm_hex_encode_int(21_000 + 100 * i),
        "cumulativeGasUsed": evm_hex_encode_int((21_000 + 100 * i) * (i + 1)),
        "effectiveGasPrice": evm_hex_encode_int(10 ** 9 + n),
        "status": evm_hex_encode_int(1 if (n + i) % 7 else 0),
        "contractAddress": None,
        "logs": [make_log(n, i)] if i % 2 == 0 else [],
    }


def make_trace(n: int, i: int) -> dict:
    return {
        "action": {
            "callType": "call",
            "from": "0x" + addr(n + i).hex(),
            "to": "0x" + TOKEN.hex(),
            "gas": evm_hex_encode_int(40_000),
            "input": make_tx(n, i)["input"],
            "value": evm_hex_encode_int(0),
        },
        "result": {"gasUsed": evm_hex_encode_int(30_000),
                   "output": "0x" + (1).to_bytes(32, "big").hex()},
        "subtraces": 0,
        "traceAddress": [],
        "transactionHash": "0x" + tx_hash(n, i).hex(),
        "transactionPosition": i,
        "type": "call",
        "error": "" if (n + i) % 7 else "Reverted",
    }


def make_block(n: int, full_tx: bool = False) -> dict:
    return {
        "timestamp": evm_hex_encode_int(GENESIS_TS + 12 * n),
        "number": evm_hex_encode_int(n),
        "hash": "0x" + block_hash(n).hex(),
        "parentHash": "0x" + (block_hash(n - 1).hex() if n > 0 else "00" * 32),
        "miner": "0x" + miner(n).hex(),
        "gasLimit": evm_hex_encode_int(30_000_000),
        "gasUsed": evm_hex_encode_int(1_000_000 + 137 * n % 29_000_000),
        "baseFeePerGas": evm_hex_encode_int(10 ** 9 + n * 13),
        "size": evm_hex_encode_int(500 + n % 1000),
        "extraData": "0x" + (b"mock" + (n % 256).to_bytes(1, "big")).hex(),
        "transactions": ([make_tx(n, i) for i in range(tx_count(n))]
                         if full_tx else
                         ["0x" + tx_hash(n, i).hex() for i in range(tx_count(n))]),
    }


def _serve_eth_call(params: list):
    call, block_tag = params[0], params[1]
    data = evm_hex_decode(call["data"])
    block = resolve_block_tag(block_tag)
    selector = data[:4].hex()
    if selector == "95d89b41":  # symbol()
        s = TOKEN_SYMBOL.encode()
        enc = ((32).to_bytes(32, "big") + len(s).to_bytes(32, "big")
               + s.ljust(32, b"\x00"))
        return "0x" + enc.hex()
    if selector == "313ce567":  # decimals()
        return "0x" + TOKEN_DECIMALS.to_bytes(32, "big").hex()
    if selector == "70a08231":  # balanceOf(address)
        a = data[4 + 12:4 + 32]
        return "0x" + balance_of(a, block).to_bytes(32, "big").hex()
    raise RuntimeError(f"mock eth_call: unknown selector {selector}")


def resolve_block_tag(tag) -> int:
    """Block-number param → height, honoring the named consensus tags the
    reference's LATEST_BLOCK_STATUS template var selects between."""
    t = str(tag)
    if t in ("latest", "pending"):
        return CHAIN_TIP
    if t in ("finalized", "safe"):
        return CHAIN_TIP - FINALIZED_LAG
    if t == "earliest":
        return 0
    return evm_hex_decode_int(t, "UInt64")


def serve(method: str, params: list):
    if method == "eth_blockNumber":
        return evm_hex_encode_int(CHAIN_TIP)
    if method == "eth_getBlockByNumber":
        n = resolve_block_tag(params[0])
        if n > CHAIN_TIP:
            return None
        full = str(params[1]).lower() == "true"
        return make_block(n, full_tx=full)
    if method == "eth_getBlockReceipts":
        n = evm_hex_decode_int(params[0], "UInt64")
        if n > CHAIN_TIP:
            return None
        return [make_receipt(n, i) for i in range(tx_count(n))]
    if method == "trace_block":
        n = evm_hex_decode_int(params[0], "UInt64")
        if n > CHAIN_TIP:
            return None
        return [make_trace(n, i) for i in range(tx_count(n))]
    if method == "eth_call":
        return _serve_eth_call(params)
    raise RuntimeError(f"mock chain: unsupported method {method}")


class LoggedTransport(MockTransport):
    """Serves the mock chain and appends one ``url<TAB>method<TAB>params``
    line per call to ``<log_dir>/<pid>.log``, so a test can count the calls
    every Spark worker process made."""

    def __init__(self, log_dir: str):
        super().__init__(serve)
        self.log_dir = log_dir

    def call(self, url: str, method: str, params: list):
        path = os.path.join(self.log_dir, f"{os.getpid()}.log")
        with open(path, "a") as f:
            f.write(f"{url}\t{method}\t{json.dumps(params)}\n")
        return super().call(url, method, params)


def logged_calls(url: str) -> list[tuple[str, list]]:
    """``(method, params)`` of every logged call made to ``url``."""
    log_dir = os.environ[CALL_LOG_ENV]
    out = []
    for name in os.listdir(log_dir):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                u, method, params = line.rstrip("\n").split("\t")
                if u == url:
                    out.append((method, json.loads(params)))
    return out


def transport() -> MockTransport:
    log_dir = os.environ.get(CALL_LOG_ENV)
    return LoggedTransport(log_dir) if log_dir else MockTransport(serve)
