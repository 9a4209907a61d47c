"""Pure-Python Keccak-256 (the pre-NIST padding variant used by Ethereum).

Reference capability: the ClickHouse executable UDF ``keccak256`` used to
constant-fold event topic0 values, e.g.
/root/reference/examples/ethereum_token_erc20_balances/create_buffer.sql:20
``topics[1] = keccak256('Transfer(address,address,uint256)')``.

This is a from-scratch implementation of Keccak-f[1600] with rate 1088 /
capacity 512 and multi-rate padding byte ``0x01`` (Ethereum's Keccak, NOT
SHA3-256 whose domain byte is 0x06), written against the public Keccak
specification. In SQL, ``register_all`` registers ``keccak256`` as an
Arrow row UDF (``registry.py``), which calls it once per row.
"""

from __future__ import annotations

_ROUND_CONSTANTS = (
    0x0000000000000001, 0x0000000000008082, 0x800000000000808A,
    0x8000000080008000, 0x000000000000808B, 0x0000000080000001,
    0x8000000080008081, 0x8000000000008009, 0x000000000000008A,
    0x0000000000000088, 0x0000000080008009, 0x000000008000000A,
    0x000000008000808B, 0x800000000000008B, 0x8000000000008089,
    0x8000000000008003, 0x8000000000008002, 0x8000000000000080,
    0x000000000000800A, 0x800000008000000A, 0x8000000080008081,
    0x8000000000008080, 0x0000000080000001, 0x8000000080008008,
)

# Rotation offsets r[x][y] for the rho step, indexed [x + 5*y].
_ROTATIONS = (
    0, 1, 62, 28, 27,
    36, 44, 6, 55, 20,
    3, 10, 43, 25, 39,
    41, 45, 15, 21, 8,
    18, 2, 61, 56, 14,
)

_MASK = (1 << 64) - 1
_RATE_BYTES = 136  # 1088-bit rate for Keccak-256


def _rotl(v: int, n: int) -> int:
    return ((v << n) | (v >> (64 - n))) & _MASK


def _keccak_f(state: list[int]) -> None:
    for rc in _ROUND_CONSTANTS:
        # theta
        c = [state[x] ^ state[x + 5] ^ state[x + 10] ^ state[x + 15] ^ state[x + 20]
             for x in range(5)]
        d = [c[(x - 1) % 5] ^ _rotl(c[(x + 1) % 5], 1) for x in range(5)]
        for x in range(5):
            for y in range(0, 25, 5):
                state[x + y] ^= d[x]
        # rho + pi
        b = [0] * 25
        for x in range(5):
            for y in range(5):
                b[y + 5 * ((2 * x + 3 * y) % 5)] = _rotl(
                    state[x + 5 * y], _ROTATIONS[x + 5 * y]
                )
        # chi
        for x in range(5):
            for y in range(0, 25, 5):
                state[x + y] = b[x + y] ^ ((~b[(x + 1) % 5 + y]) & b[(x + 2) % 5 + y])
        # iota
        state[0] ^= rc


def keccak256(data: bytes | str | None) -> bytes | None:
    """Keccak-256 digest of ``data`` (str is UTF-8 encoded first); None
    for None, as SQL's ``keccak256(NULL)`` is NULL."""
    if data is None:
        return None
    if isinstance(data, str):
        data = data.encode("utf-8")
    state = [0] * 25
    # absorb full rate blocks, then the padded final block
    padded = bytearray(data)
    pad_len = _RATE_BYTES - (len(padded) % _RATE_BYTES)
    padded += b"\x01" + b"\x00" * (pad_len - 2) + b"\x80" if pad_len >= 2 else b"\x81"
    for off in range(0, len(padded), _RATE_BYTES):
        block = padded[off:off + _RATE_BYTES]
        for i in range(_RATE_BYTES // 8):
            state[i] ^= int.from_bytes(block[8 * i:8 * i + 8], "little")
        _keccak_f(state)
    # squeeze 32 bytes (fits in one rate block)
    return b"".join(state[i].to_bytes(8, "little") for i in range(4))


def keccak256_hex(data: bytes | str) -> str:
    """Keccak-256 digest as a ``0x``-prefixed lowercase hex string."""
    return "0x" + keccak256(data).hex()
