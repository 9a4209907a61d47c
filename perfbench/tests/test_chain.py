"""The synthetic chain must be a pure function of (seed, block): the Spark
workers and the Spark driver's correctness model each rebuild it from the
endpoint URL, so any hidden state would make the checks disagree with the
sinks.

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import subprocess
import sys

from perfbench.chain import Chain, ChainTransport, dictionary_rows

from agnostic_blockchain_etl_spark.functions.abi import evm_decode_event
from agnostic_blockchain_etl_spark.functions.hex import evm_hex_decode

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
URL = Chain(seed=7, tip=99).url()


def _responses(url: str, blocks) -> str:
    t = ChainTransport()
    return json.dumps([(t.call(url, "eth_getBlockByNumber", [hex(n), False]),
                        t.call(url, "eth_getBlockReceipts", [hex(n)]))
                       for n in blocks])


def test_same_seed_and_block_same_response_across_processes():
    here = _responses(URL, [0, 1, 42, 99, 42])
    code = ("import sys; sys.path.insert(0, sys.argv[1]);"
            "from perfbench.tests.test_chain import _responses, URL;"
            "print(_responses(URL, [0, 1, 42, 99, 42]))")
    there = subprocess.run([sys.executable, "-c", code, ROOT], check=True,
                           capture_output=True, text=True).stdout.strip()
    assert here == there


def test_response_depends_on_seed_and_block_only():
    a = Chain(seed=7, tip=99)
    assert a.block(5) == Chain(seed=7, tip=500).block(5)
    assert a.receipts(5) == Chain(seed=7, tip=500).receipts(5)
    assert a.block(5) != Chain(seed=8, tip=99).block(5)
    assert a.block(5)["hash"] != a.block(6)["hash"]
    assert a.block(6)["parentHash"] == a.block(5)["hash"]


def test_url_round_trips():
    c = Chain(seed=3, tip=10, logs=2, unknown=40, bt=600)
    assert Chain.from_url(c.url() + "#fail-on-error=true") == c


def test_model_matches_served_logs():
    """The correctness checks count logs and decodable logs from the model;
    the served receipts and the engine's decoder must agree with it."""
    c = Chain(seed=11, tip=199, unknown=25)
    sigs = dict(dictionary_rows())
    kinds = set()
    for n in range(c.tip + 1):
        receipts = c.receipts(n)
        assert len(receipts) == c.log_count(n)
        for i, r in enumerate(receipts):
            (log,) = r["logs"]
            kind = c.log_kind(n, i)
            kinds.add(kind)
            out = json.loads(evm_decode_event(
                [evm_hex_decode(t) for t in log["topics"]],
                evm_hex_decode(log["data"]), sigs.get(log["topics"][0], [])))
            assert (out["error"] is None) == (kind != "unknown"), (n, i, out)
            if kind != "unknown":
                assert out["value"]["signature"].startswith(kind + "(")
    assert kinds == {"Transfer", "Approval", "Swap", "unknown"}
