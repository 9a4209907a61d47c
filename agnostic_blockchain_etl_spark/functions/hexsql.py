"""Spark SQL forms of the reference's hex kernels (SURVEY.md §2.7), one
per kernel: the template functions of ``plans/templates.py`` render them
inline, and ``register_all`` creates ``FUNCTIONS`` from them under the
reference names. ``functions/hex.py`` is their Python oracle.

The decodes read input as ``hex.py`` does (an optional ``0x``/``0X``
prefix, then hex digits; NULL stays NULL) and fail the query where it
raises, whatever ``spark.sql.ansi.enabled`` says: ``to_binary(…, 'hex')``
rejects malformed input and the ``#`` mark a quantity past its type keeps
(``unhex`` would give NULL, ``conv`` stops at the first bad digit). A
regex inside the value analyses faster than a ``CASE … raise_error`` per
field. Each form names its argument once, so it may be any expression.
"""

from __future__ import annotations

# non-negative bits of the reference and Spark integer types the
# integer form decodes to
_REF_BITS = {"UInt8": 8, "UInt32": 32, "UInt64": 64, "Int64": 63}
_SQL_BITS = {"TINYINT": 7, "INT": 31, "BIGINT": 63}


def _quantity_re(bits: int) -> str:
    """A regex for the significant hex digits of the quantities below
    ``2**bits``: at most ``ceil(bits / 4)`` nibbles, and when ``bits`` is
    not a multiple of 4, a first nibble below ``2**(bits % 4)``."""
    n = -(-bits // 4)
    top = bits - 4 * (n - 1)
    if top == 4:
        return f"[0-9a-fA-F]{{0,{n}}}"
    return f"[0-{2 ** top - 1}]?[0-9a-fA-F]{{0,{n - 1}}}"


def _quantity(x: str, bits: int, lead: str = "") -> str:
    """``lead`` and the significant digits of a quantity below ``2**bits``;
    anything else keeps a leading ``#`` mark."""
    return (f"regexp_replace(concat('#', {x}), "
            f"'^#(?:0[xX])?0*({_quantity_re(bits)})$', '{lead}$1')")


def _strip_0x(x: str) -> str:
    return f"regexp_replace({x}, '^0[xX]', '')"


def hex_decode(x: str) -> str:
    return f"to_binary({_strip_0x(x)}, 'hex')"


def hex_decode_int(x: str, ref_type: str, sql_type: str = "BIGINT") -> str:
    """``evm_hex_decode_int(x, ref_type)`` as the Spark type ``sql_type``."""
    if ref_type not in _REF_BITS or sql_type not in _SQL_BITS:
        raise ValueError(
            f"unsupported types {ref_type!r}, {sql_type!r}; "
            f"have {sorted(_REF_BITS)} and {sorted(_SQL_BITS)}")
    # '0' + the digits ('0x' -> 0); the to_binary/hex round trip only
    # makes the check part of the value
    checked = _quantity(x, min(_REF_BITS[ref_type], _SQL_BITS[sql_type]), "0")
    return f"CAST(conv(hex(to_binary({checked}, 'hex')), 16, 10) AS {sql_type})"


def hex_decode_word(x: str) -> str:
    """``evm_hex_decode_int(x, 'UInt256')`` as a 32-byte big-endian word."""
    return f"to_binary(lpad({_quantity(x, 256)}, 64, '0'), 'hex')"


def hex_encode(x: str) -> str:
    """``evm_hex_encode`` of a BINARY and ``evm_hex_encode_int`` of a
    non-negative integer: ``hex`` writes every byte of a binary and the
    minimal digits of a number."""
    return f"concat('0x', lower(hex({x})))"


# UInt256 quantity -> DECIMAL(38, 0), exact below 10^38, NULL at or above,
# and a failed query past UInt256, where hex.py raises. Without leading
# zeros, more than 64 nibbles is >= 2^256 and more than 32 is >= 2^128 >
# 10^38; otherwise the value is hi * 2^64 + lo over two 64-bit conv
# halves, and try_multiply/try_add give NULL once it leaves DECIMAL(38, 0).
_DIGITS = f"TRIM(LEADING '0' FROM {_strip_0x('x')})"
_DECODE_DEC = f"""
CASE WHEN x NOT RLIKE '^(0[xX])?[0-9a-fA-F]*$'
     THEN raise_error(concat('evm_hex_decode_dec: not hex: ', x))
     WHEN length({_DIGITS}) > 64
     THEN raise_error(concat('evm_hex_decode_dec: does not fit in UInt256: ', x))
     WHEN length({_DIGITS}) <= 32
     THEN try_add(
    try_multiply(
        CAST(conv(substring(lpad({_DIGITS}, 32, '0'), 1, 16), 16, 10) AS DECIMAL(20, 0)),
        18446744073709551616BD),
    CAST(conv(substring(lpad({_DIGITS}, 32, '0'), 17, 16), 16, 10) AS DECIMAL(20, 0)))
END"""

# (signature, return type, body) of each SQL-defined function. A literal
# type argument folds evm_hex_decode_int to one branch; unlike hex.py it
# reads no signed two's complement ('0xff', 'Int8' -> -1). hex() of a
# negative BIGINT is its two's complement, where hex.py raises.
FUNCTIONS = (
    ("evm_hex_decode(x STRING)", "BINARY", hex_decode("x")),
    ("evm_hex_decode_int(x STRING, t STRING)", "BIGINT", " ".join(
        ["CASE t"]
        + [f"WHEN '{t}' THEN {hex_decode_int('x', t)}" for t in _REF_BITS]
        + ["ELSE raise_error(format_string('evm_hex_decode_int: unsupported "
           f"type %s; have {', '.join(_REF_BITS)}', t)) END"])),
    ("evm_hex_decode_word(x STRING)", "BINARY", hex_decode_word("x")),
    ("evm_hex_decode_dec(x STRING)", "DECIMAL(38, 0)", _DECODE_DEC),
    ("evm_hex_encode(b BINARY)", "STRING", hex_encode("b")),
    ("evm_hex_encode_int(n BIGINT)", "STRING",
     "CASE WHEN n < 0 THEN raise_error(concat('evm_hex_encode_int: "
     f"negative quantity ', n)) ELSE {hex_encode('n')} END"),
)
