"""UInt256 word arithmetic (SURVEY.md §7.2's hard-type resolution).

Spark's widest exact numeric is Decimal(38) (~1e38); 2^256 needs 78
digits. The engine's dual representation:

- canonical: 32-byte big-endian ``BinaryType`` word — exact, bytewise-
  sortable (``evm_hex_decode_word``);
- convenience: ``DecimalType(38,0)`` projection, NULL on overflow
  (``evm_hex_decode_dec``) — sufficient for real token amounts, matching
  the reference's own float derivation (erc20 create_buffer.sql:118).

This module supplies exact arithmetic on the canonical words for the
overflow cases: plain functions, NULL if an argument is NULL, which
``register_all`` registers as Arrow row UDFs under the same names.
"""

from __future__ import annotations

_MASK256 = (1 << 256) - 1


def word_to_int(w: bytes) -> int:
    return int.from_bytes(w, "big")


def int_to_word(n: int) -> bytes:
    return (n & _MASK256).to_bytes(32, "big")


def evm_word_add(a: bytes | None, b: bytes | None) -> bytes | None:
    """Exact 256-bit addition (wrapping, EVM semantics)."""
    if a is None or b is None:
        return None
    return int_to_word(word_to_int(a) + word_to_int(b))


def evm_word_sub(a: bytes | None, b: bytes | None) -> bytes | None:
    """Exact 256-bit subtraction (wrapping)."""
    if a is None or b is None:
        return None
    return int_to_word(word_to_int(a) - word_to_int(b))


def evm_word_cmp(a: bytes | None, b: bytes | None) -> int | None:
    """Three-way compare of 256-bit words (-1/0/1). Big-endian words also
    compare correctly as raw bytes — this exists for explicit intent."""
    if a is None or b is None:
        return None
    x, y = word_to_int(a), word_to_int(b)
    return (x > y) - (x < y)


def evm_word_to_str(a: bytes | None) -> str | None:
    """Decimal string of a 256-bit word (exact, any magnitude)."""
    return None if a is None else str(word_to_int(a))
