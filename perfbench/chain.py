"""Seeded synthetic Ethereum chain served through ``AGN_RPC_MOCK``.

Every response is a pure function of (seed, block number). The chain's
parameters ride in the query string of ``RPC_ENDPOINT``, so the Spark
Python workers that run ``ethereum_rpc`` see the same chain as the Spark
driver without any shared state::

    mock://chain?seed=7&tip=1999&logs=4&unknown=15&bt=600

``seed``     chain seed
``tip``      last block of the chain (blocks are 0..tip)
``logs``     mean logs per block (the per-block count is uniform on 0..2*logs)
``unknown``  percent of logs whose topic0 is missing from the ABI dictionary
``bt``       seconds between block timestamps

Hashes come from ``hashlib.blake2b`` (C); the three event selectors are
computed once per process with the engine's keccak.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass
from functools import lru_cache
from urllib.parse import parse_qs, urlsplit

from agnostic_blockchain_etl_spark.functions.keccak import keccak256
from agnostic_blockchain_etl_spark.functions.rpc import RpcError, Transport

GENESIS_TS = 1600000000  # 2020-09-13, the daily export's DefaultStart day

# (name, dictionary signature, indexed address topics, data words)
EVENTS = (
    ("Transfer", "event Transfer(address indexed,address indexed,uint256)",
     2, 1),
    ("Approval", "event Approval(address indexed,address indexed,uint256)",
     2, 1),
    ("Swap", "event Swap(address indexed,uint256,uint256,uint256,uint256,"
             "address indexed)", 2, 4),
)
# cumulative percent thresholds of the decodable kinds, in EVENTS order;
# the remainder up to 100 (minus ``unknown``) goes to Transfer
_MIX = (("Approval", 20), ("Swap", 15))


@lru_cache(maxsize=None)
def selectors() -> dict[str, bytes]:
    """Event name → topic0 (keccak of the canonical signature)."""
    out = {}
    for name, sig, _, _ in EVENTS:
        canon = sig.replace("event ", "").replace(" indexed", "")
        out[name] = keccak256(canon)
    return out


def dictionary_rows() -> list[tuple[str, list[str]]]:
    """ABI dictionary rows (selector, fullsigs) for ``decoded_logs``."""
    sel = selectors()
    return [("0x" + sel[name].hex(), [sig]) for name, sig, _, _ in EVENTS]


@dataclass(frozen=True)
class Chain:
    seed: int
    tip: int
    logs: int = 4
    unknown: int = 15
    bt: int = 12

    @classmethod
    @lru_cache(maxsize=64)
    def from_url(cls, url: str) -> "Chain":
        q = {k: v[-1] for k, v in parse_qs(urlsplit(url).query).items()}
        return cls(seed=int(q["seed"]), tip=int(q["tip"]),
                   logs=int(q.get("logs", 4)),
                   unknown=int(q.get("unknown", 15)),
                   bt=int(q.get("bt", 12)))

    def url(self) -> str:
        return (f"mock://chain?seed={self.seed}&tip={self.tip}"
                f"&logs={self.logs}&unknown={self.unknown}&bt={self.bt}")

    # -- world model ------------------------------------------------------

    def _digest(self, *parts) -> bytes:
        key = ":".join(str(p) for p in (self.seed, *parts)).encode()
        return hashlib.blake2b(key, digest_size=64).digest()

    def log_count(self, n: int) -> int:
        return self._digest("n", n)[0] % (2 * self.logs + 1)

    def log_kind(self, n: int, i: int) -> str:
        """Event name of log ``i`` of block ``n``, or ``"unknown"``."""
        r = int.from_bytes(self._digest("k", n, i)[:2], "big") % 100
        if r < self.unknown:
            return "unknown"
        r -= self.unknown
        for name, pct in _MIX:
            if r < pct:
                return name
            r -= pct
        return "Transfer"

    def gas_used(self, n: int) -> int:
        return 21_000 + int.from_bytes(self._digest("b", n)[:3], "big")

    def block(self, n: int) -> dict:
        d = self._digest("b", n)
        return {
            "timestamp": hex(GENESIS_TS + self.bt * n),
            "number": hex(n),
            "hash": "0x" + self._digest("h", n)[:32].hex(),
            "parentHash": "0x" + (self._digest("h", n - 1)[:32].hex()
                                  if n > 0 else "00" * 32),
            "miner": "0x" + d[8:28].hex(),
            "gasLimit": hex(30_000_000),
            "gasUsed": hex(self.gas_used(n)),
            "baseFeePerGas": hex(10 ** 9 + int.from_bytes(d[28:32], "big")),
            "size": hex(500 + d[32] * 4),
            "extraData": "0x" + d[33:41].hex(),
            "transactions": ["0x" + self._digest("t", n, i)[:32].hex()
                             for i in range(self.log_count(n))],
        }

    def _log(self, n: int, i: int) -> dict:
        d = self._digest("l", n, i)
        kind = self.log_kind(n, i)
        a, b = d[:20], d[20:40]
        if kind == "unknown":
            topic0, words = d[:32], 1
        else:
            _, _, _, words = next(e for e in EVENTS if e[0] == kind)
            topic0 = selectors()[kind]
        data = b"".join((int.from_bytes(d[40 + 2 * w:46 + 2 * w], "big")
                         + w).to_bytes(32, "big") for w in range(words))
        return {
            "address": "0x" + d[44:64].hex(),
            "topics": ["0x" + topic0.hex(),
                       "0x" + a.rjust(32, b"\0").hex(),
                       "0x" + b.rjust(32, b"\0").hex()],
            "data": "0x" + data.hex(),
            "logIndex": hex(i),
            "removed": False,
        }

    def receipts(self, n: int) -> list[dict]:
        out = []
        for i in range(self.log_count(n)):
            d = self._digest("t", n, i)
            out.append({
                "transactionHash": "0x" + d[:32].hex(),
                "transactionIndex": hex(i),
                "from": "0x" + d[32:52].hex(),
                "status": hex(1 if d[52] % 10 else 0),
                "logs": [self._log(n, i)],
            })
        return out

    # -- JSON-RPC ---------------------------------------------------------

    def _number(self, param) -> int:
        p = str(param)
        if p in ("latest", "pending", "finalized", "safe"):
            return self.tip
        if p == "earliest":
            return 0
        return int(p, 16)

    def serve(self, method: str, params: list):
        if method == "eth_blockNumber":
            return hex(self.tip)
        if method == "eth_getBlockByNumber":
            return self.block(self._number(params[0]))
        if method == "eth_getBlockReceipts":
            return self.receipts(self._number(params[0]))
        raise RpcError(f"synthetic chain: unsupported method {method}")


class ChainTransport(Transport):
    """Serves the chain named by the endpoint URL of each call. With
    ``PERFBENCH_CALL_LOG`` set to a directory, each process appends one
    line per call to ``<dir>/<pid>.log``, so the traced run can count the
    calls the Spark workers made."""

    def __init__(self):
        log_dir = os.environ.get("PERFBENCH_CALL_LOG")
        self._log = (open(os.path.join(log_dir, f"{os.getpid()}.log"), "a",
                          buffering=1) if log_dir else None)

    def call(self, url: str, method: str, params: list):
        if self._log is not None:
            numbered = bool(params) and str(params[0]).startswith("0x")
            self._log.write(method + ("\n" if numbered else "@tag\n"))
        return Chain.from_url(url).serve(method, params)


def count_block_calls(log_dir: str) -> int:
    """Calls logged so far under ``log_dir`` that named a block by number
    (tip polls name a tag instead)."""
    n = 0
    for name in os.listdir(log_dir):
        with open(os.path.join(log_dir, name)) as f:
            n += sum(1 for line in f if "@" not in line)
    return n


def transport() -> ChainTransport:
    return ChainTransport()
