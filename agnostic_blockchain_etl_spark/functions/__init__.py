"""Kernel function library (SURVEY.md §2.7/§2.9).

Pure-Python kernels + Spark registration:

- ``hexsql``  — evm_hex_decode(_int/_word/_dec) / evm_hex_encode(_int) as
  Spark SQL forms; ``hex`` is their Python test oracle
- ``keccak``  — keccak256 (Ethereum padding variant)
- ``abi``     — signature parsing, ABI encode/decode, evm_decode_event/call
- ``rpc``     — ethereum_rpc / ethereum_rpc_call with fragment options
- ``words``   — evm_word_* exact UInt256 arithmetic
- ``registry``— ``register_all(spark)``: the row kernels as Arrow row UDFs
"""

from .abi import evm_decode_call, evm_decode_event
from .keccak import keccak256, keccak256_hex
from .registry import register_all
from .rpc import ethereum_rpc, ethereum_rpc_call

__all__ = [
    "evm_decode_call", "evm_decode_event", "keccak256", "keccak256_hex",
    "register_all", "ethereum_rpc", "ethereum_rpc_call",
]
