"""EVM hex codec kernels.

Reference capability: the ClickHouse executable UDFs ``evm_hex_decode``,
``evm_hex_decode_int``, ``evm_hex_encode``, ``evm_hex_encode_int`` used
throughout the ingest templates, e.g.
/root/reference/examples/ethereum_blocks/create_buffer.sql:14-35 and
/root/reference/examples/ethereum_token_erc20_balances/create_buffer.sql:45.

Semantics (observed from template usage):
- ``evm_hex_decode('0x…') -> bytes``; None → None (ingest templates rely
  on null-safety for optional RPC fields like ``baseFeePerGas``, whose
  absence surfaces as a NULL JSON extraction). ``''``/``'0x'`` → ``b''``:
  ``'0x'`` is JSON-RPC's encoding of a present-but-empty byte string
  (e.g. the input data of a plain value transfer), which is distinct
  from an absent field and must stay distinct through the decode.
- ``evm_hex_decode_int('0x…', 'UInt64') -> int`` of the named width; ``0x``
  alone decodes to 0; odd-length nibble strings are left-padded.
- Both decodes raise ``ValueError`` on anything but an optional ``0x``
  prefix and hex digits (``int``/``bytes.fromhex`` accept ``-``, `` ``, ``_``).
- ``evm_hex_encode(bytes) -> '0x…'`` lowercase.
- ``evm_hex_encode_int(n) -> '0x…'`` minimal-length (JSON-RPC quantity
  encoding: no leading zeros, ``0 -> '0x0'``), used to build
  ``eth_getBlockByNumber`` params (create_buffer.sql:42).
"""

from __future__ import annotations

import string

_INT_TYPE_BITS = {
    "UInt8": 8, "UInt16": 16, "UInt32": 32, "UInt64": 64,
    "UInt128": 128, "UInt256": 256,
    "Int8": 8, "Int16": 16, "Int32": 32, "Int64": 64,
    "Int128": 128, "Int256": 256,
}


def _digits(s: str) -> str:
    """The hex digits of ``s`` after an optional ``0x``/``0X`` prefix."""
    h = s[2:] if s.startswith(("0x", "0X")) else s
    if not all(c in string.hexdigits for c in h):
        raise ValueError(f"not hex: {s!r}")
    return h


def evm_hex_decode(s: str | None) -> bytes | None:
    """``'0x…'`` hex string → bytes (None-safe; odd length left-padded)."""
    if s is None:
        return None
    h = _digits(s)
    if h == "":
        return b""
    if len(h) % 2:
        h = "0" + h
    return bytes.fromhex(h)


def evm_hex_decode_int(s: str | None, int_type: str = "UInt64") -> int | None:
    """``'0x…'`` hex string → int, range-checked against ``int_type``.

    Signed types use two's-complement interpretation of the full width when
    the raw value exceeds the positive range (matching EVM word semantics).
    """
    if s is None:
        return None
    bits = _INT_TYPE_BITS.get(int_type)
    if bits is None:
        raise ValueError(f"unknown integer type {int_type!r}")
    h = _digits(s)
    value = int(h, 16) if h else 0
    if value >= (1 << bits):
        raise OverflowError(f"{s!r} does not fit in {int_type}")
    if int_type.startswith("Int") and value >= (1 << (bits - 1)):
        value -= 1 << bits
    return value


def evm_hex_encode(b: bytes | None) -> str | None:
    """bytes → ``'0x…'`` lowercase hex (None-safe)."""
    if b is None:
        return None
    return "0x" + b.hex()


def evm_hex_encode_int(n: int | None) -> str | None:
    """int → minimal ``'0x…'`` quantity encoding (``0 -> '0x0'``)."""
    if n is None:
        return None
    if n < 0:
        raise ValueError("evm_hex_encode_int expects a non-negative quantity")
    return hex(n)
