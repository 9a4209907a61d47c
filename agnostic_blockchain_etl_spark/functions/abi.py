"""EVM ABI encode/decode kernels (pure Python, from the public ABI spec).

Reference capability: the ClickHouse executable UDFs ``evm_decode_event``
and ``evm_decode_call`` used by the decode pipelines
(/root/reference/examples/ethereum_decoded_logs/create_buffer.sql:26-31,
/root/reference/examples/ethereum_decoded_traces/create_buffer.sql:32-39)
and the ``ethereum_rpc_call`` helper's signature syntax
(/root/reference/examples/ethereum_token_erc20_balances/create_buffer.sql:42
``'function symbol()(string)'``).

Observed output contract (from template JSON paths):

    evm_decode_event(topics, data, fullsigs)
        -> '{"value": {"signature": "Transfer(address,address,uint256)",
                        "inputs": {"arg0": "0x…", "arg1": "0x…", "arg2": 123}},
             "error": null}'
    evm_decode_call(input, output, fullsigs)
        -> '{"value": {"signature": "…", "inputs": {…}, "outputs": {…}},
             "error": "…"}'

Inputs/outputs are keyed positionally ``arg0..argN``
(create_buffer.sql:31 ``evt.value.inputs.arg0``). Values serialize as:
addresses / bytes → ``0x`` hex strings, integers → JSON numbers, except
that an integer of absolute value 10^38 or more is a decimal string
(Spark's ``try_parse_json`` would store it as a DOUBLE), bool →
true/false, arrays and tuples → JSON arrays.

Signature grammar accepted (superset of what the examples use):
- ``event Transfer(address indexed from, address indexed, uint256)``
- ``Transfer(address,address,uint256)`` (bare)
- ``function balanceOf(address)(uint256)`` (inputs)(outputs)
"""

from __future__ import annotations

import functools
import json
import re
from dataclasses import dataclass, field

from .keccak import keccak256

_WORD = 32


class AbiError(ValueError):
    pass


# ---------------------------------------------------------------------------
# Type model
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class AbiType:
    """A parsed ABI type: elementary, fixed/dynamic array, or tuple."""

    base: str                      # 'uint', 'int', 'address', 'bool', 'bytes', 'string', 'tuple'
    bits: int = 0                  # for uint/int
    fixed_size: int = 0            # for bytesN
    array_dims: tuple = ()         # outermost-last; -1 = dynamic dim
    components: tuple = ()         # for tuple

    @property
    def is_array(self) -> bool:
        return bool(self.array_dims)

    @property
    def is_dynamic(self) -> bool:
        if self.array_dims:
            if self.array_dims[-1] == -1:
                return True
            return self.element_type().is_dynamic
        if self.base == "string" or (self.base == "bytes"
                                     and not self.fixed_size):
            return True
        if self.base == "tuple":
            return any(c.is_dynamic for c in self.components)
        return False

    def element_type(self) -> "AbiType":
        return AbiType(self.base, self.bits, self.fixed_size,
                       self.array_dims[:-1], self.components)

    def canonical(self) -> str:
        if self.array_dims:
            inner = self.element_type().canonical()
            d = self.array_dims[-1]
            return f"{inner}[]" if d == -1 else f"{inner}[{d}]"
        if self.base == "uint":
            return f"uint{self.bits}"
        if self.base == "int":
            return f"int{self.bits}"
        if self.base == "bytes" and self.fixed_size:
            return f"bytes{self.fixed_size}"
        if self.base == "tuple":
            return "(" + ",".join(c.canonical() for c in self.components) + ")"
        return self.base

    def head_size(self) -> int:
        """Size of this type's head slot in bytes."""
        if self.is_dynamic:
            return _WORD
        if self.array_dims:
            return self.array_dims[-1] * self.element_type().head_size()
        if self.base == "tuple":
            return sum(c.head_size() for c in self.components)
        return _WORD


_ELEMENTARY_RE = re.compile(
    r"^(?:(uint|int)(\d+)?|(bytes)(\d+)?|(address|bool|string))$"
)


def parse_type(s: str) -> AbiType:
    """Parse a canonical-ish ABI type string, incl. arrays and tuples."""
    s = s.strip()
    # peel array suffixes from the right
    dims: list[int] = []
    while s.endswith("]"):
        lb = s.rfind("[")
        if lb < 0:
            raise AbiError(f"malformed type {s!r}")
        dim = s[lb + 1:-1].strip()
        dims.insert(0, -1 if dim == "" else int(dim))
        s = s[:lb].strip()
    if s.startswith("("):
        if not s.endswith(")"):
            raise AbiError(f"malformed tuple type {s!r}")
        comps = tuple(parse_type(p) for p in _split_params(s[1:-1]))
        return AbiType("tuple", components=comps, array_dims=tuple(dims))
    m = _ELEMENTARY_RE.match(s)
    if not m:
        raise AbiError(f"unknown ABI type {s!r}")
    if m.group(1):  # uint/int
        bits = int(m.group(2)) if m.group(2) else 256
        if bits % 8 or not 8 <= bits <= 256:
            raise AbiError(f"bad integer width in {s!r}")
        return AbiType(m.group(1), bits=bits, array_dims=tuple(dims))
    if m.group(3):  # bytes / bytesN
        n = int(m.group(4)) if m.group(4) else 0
        if n and not 1 <= n <= 32:
            raise AbiError(f"bad bytesN width in {s!r}")
        return AbiType("bytes", fixed_size=n, array_dims=tuple(dims))
    return AbiType(m.group(5), array_dims=tuple(dims))


def _split_params(s: str) -> list[str]:
    """Split a parameter list on top-level commas (paren/bracket aware)."""
    parts, depth, cur = [], 0, []
    for ch in s:
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    parts.append("".join(cur))
    return [p.strip() for p in parts if p.strip()]


# ---------------------------------------------------------------------------
# Signature model
# ---------------------------------------------------------------------------

@dataclass
class Param:
    type: AbiType
    indexed: bool = False
    name: str = ""


@dataclass
class Signature:
    kind: str                    # 'event' | 'function'
    name: str
    inputs: list[Param] = field(default_factory=list)
    outputs: list[Param] = field(default_factory=list)

    def canonical(self) -> str:
        return self.name + "(" + ",".join(p.type.canonical() for p in self.inputs) + ")"

    def topic0(self) -> bytes:
        return keccak256(self.canonical())

    def selector(self) -> bytes:
        return keccak256(self.canonical())[:4]


_SIG_RE = re.compile(
    r"^\s*(?:(event|function)\s+)?([A-Za-z_$][A-Za-z0-9_$]*)\s*\((.*?)\)\s*(?:\((.*?)\)|returns\s*\((.*?)\))?\s*$",
    re.S,
)


# "<type> [indexed] [memory|calldata|storage] [name]": the type contains
# spaces only inside tuple parens, so the trailing bare words follow it
_PARAM_RE = re.compile(r"^(.*?)((?:\s+[A-Za-z_$][A-Za-z0-9_$]*)*)$", re.S)
_KEYWORDS = ("indexed", "memory", "calldata", "storage")


def _parse_param(s: str, allow_indexed: bool) -> Param:
    t, tail = _PARAM_RE.match(s.strip()).groups()
    words = tail.split()
    indexed = "indexed" in words
    if indexed and not allow_indexed:
        raise AbiError(f"'indexed' not allowed in {s!r}")
    names = [w for w in words if w not in _KEYWORDS]
    if len(names) > 1:
        raise AbiError(f"malformed parameter {s!r}")
    return Param(parse_type(t), indexed=indexed,
                 name=names[0] if names else "")


def parse_signature(sig: str) -> Signature:
    """Parse a human-readable event/function signature."""
    m = _SIG_RE.match(sig)
    if not m:
        raise AbiError(f"malformed signature {sig!r}")
    kind, name, ins, outs1, outs2 = m.groups()
    kind = kind or "event"
    outs = outs1 if outs1 is not None else outs2
    inputs = [_parse_param(p, allow_indexed=(kind == "event"))
              for p in _split_params(ins or "")]
    outputs = [_parse_param(p, allow_indexed=False)
               for p in _split_params(outs or "")] if outs else []
    return Signature(kind, name, inputs, outputs)


@functools.lru_cache(maxsize=4096)
def _sig_topic0_cached(sig_s: str) -> "tuple[Signature, str, bytes]":
    """(parsed signature, canonical form, topic0) of ``sig_s``, memoised
    per process: the only parse the per-row kernels make. A workload's
    candidate set is a handful of ABI strings, so a row costs a lookup,
    not a parse and a pure-Python keccak. Callers only read the shared
    Signature; ``parse_signature`` returns a fresh one."""
    s = parse_signature(sig_s)
    return s, s.canonical(), s.topic0()


# ---------------------------------------------------------------------------
# Decoding
# ---------------------------------------------------------------------------

def _read_word(data: bytes, off: int) -> bytes:
    w = data[off:off + _WORD]
    if len(w) < _WORD:
        raise AbiError(f"truncated word at offset {off}")
    return w


def _read_uint(data: bytes, off: int) -> int:
    return int.from_bytes(_read_word(data, off), "big")


def _decode_word(t: AbiType, word: bytes):
    """Decode a static 32-byte word into a Python value."""
    if t.base == "uint":
        return int.from_bytes(word, "big")
    if t.base == "int":
        v = int.from_bytes(word, "big")
        if v >= 1 << 255:
            v -= 1 << 256
        return v
    if t.base == "address":
        return "0x" + word[-20:].hex()
    if t.base == "bool":
        return int.from_bytes(word, "big") != 0
    if t.base == "bytes" and t.fixed_size:
        return "0x" + word[: t.fixed_size].hex()
    raise AbiError(f"cannot word-decode type {t.canonical()}")


def _decode_sequence(types: list[AbiType], data: bytes, base: int) -> list:
    """Decode the head sequence of ``types`` starting at absolute offset
    ``base``. A static member sits in the heads; a dynamic member's head
    holds the offset of its body, relative to ``base``."""
    out = []
    off = base
    for t in types:
        if t.is_dynamic:
            out.append(_decode_value(t, data, base + _read_uint(data, off)))
            off += _WORD
        else:
            out.append(_decode_value(t, data, off))
            off += t.head_size()
    return out


def _decode_value(t: AbiType, data: bytes, loc: int):
    """Decode one value of ``t`` whose encoding starts at absolute ``loc``:
    its head for a static type, its body for a dynamic one."""
    if t.is_array:
        n = t.array_dims[-1]
        if n == -1:
            n = _read_uint(data, loc)
            if n * _WORD > len(data):
                raise AbiError("array length exceeds payload")
            loc += _WORD
        return _decode_sequence([t.element_type()] * n, data, loc)
    if t.base == "tuple":
        return _decode_sequence(list(t.components), data, loc)
    if t.base == "string" or (t.base == "bytes" and not t.fixed_size):
        n = _read_uint(data, loc)
        raw = data[loc + _WORD: loc + _WORD + n]
        if len(raw) < n:
            raise AbiError(f"truncated {t.base}")
        return (raw.decode("utf-8", errors="replace") if t.base == "string"
                else "0x" + raw.hex())
    return _decode_word(t, _read_word(data, loc))


def abi_decode(types: list[AbiType], data: bytes) -> list:
    """Decode an ABI-encoded head sequence (function args / return data)."""
    return _decode_sequence(types, data, 0)


# ---------------------------------------------------------------------------
# Encoding (needed to build eth_call data for ethereum_rpc_call)
# ---------------------------------------------------------------------------

def _encode_word(t: AbiType, v) -> bytes:
    if t.base == "uint":
        n = int(v, 16) if isinstance(v, str) and v.startswith("0x") else int(v)
        if n < 0 or n >= 1 << t.bits:
            raise AbiError(f"{v!r} out of range for {t.canonical()}")
        return n.to_bytes(_WORD, "big")
    if t.base == "int":
        n = int(v)
        if not -(1 << (t.bits - 1)) <= n < 1 << (t.bits - 1):
            raise AbiError(f"{v!r} out of range for {t.canonical()}")
        return (n & ((1 << 256) - 1)).to_bytes(_WORD, "big")
    if t.base == "address":
        raw = bytes.fromhex(v[2:] if isinstance(v, str) and v.startswith("0x") else v) \
            if isinstance(v, str) else bytes(v)
        if len(raw) != 20:
            raise AbiError(f"address must be 20 bytes, got {len(raw)}")
        return raw.rjust(_WORD, b"\x00")
    if t.base == "bool":
        return (1 if v else 0).to_bytes(_WORD, "big")
    if t.base == "bytes" and t.fixed_size:
        raw = bytes.fromhex(v[2:]) if isinstance(v, str) else bytes(v)
        if len(raw) != t.fixed_size:
            raise AbiError(f"bytes{t.fixed_size} needs exactly {t.fixed_size} bytes")
        return raw.ljust(_WORD, b"\x00")
    raise AbiError(f"cannot word-encode {t.canonical()}")


def _encode_dynamic(t: AbiType, v) -> bytes:
    if t.base == "string":
        raw = v.encode("utf-8")
    elif t.base == "bytes":
        raw = bytes.fromhex(v[2:]) if isinstance(v, str) and v.startswith("0x") else (
            v if isinstance(v, bytes) else bytes.fromhex(v))
    else:
        raise AbiError(f"not dynamic-encodable: {t.canonical()}")
    pad = (-len(raw)) % _WORD
    return len(raw).to_bytes(_WORD, "big") + raw + b"\x00" * pad


def abi_encode(types: list[AbiType], values: list) -> bytes:
    """ABI-encode a head sequence of ``values`` (supports the subset used by
    eth_call argument building: elementary types, dynamic bytes/string,
    dynamic arrays of static types)."""
    if len(types) != len(values):
        raise AbiError(f"arity mismatch: {len(types)} types, {len(values)} values")
    heads: list[bytes] = []
    tails: list[bytes] = []
    head_size = sum(t.head_size() for t in types)
    tail_off = head_size
    for t, v in zip(types, values):
        if t.is_dynamic:
            if t.is_array and t.array_dims[-1] == -1:
                el = t.element_type()
                body = len(v).to_bytes(_WORD, "big") + abi_encode([el] * len(v), list(v))
            elif t.base in ("string", "bytes"):
                body = _encode_dynamic(t, v)
            else:
                raise AbiError(f"encoding of dynamic {t.canonical()} unsupported")
            heads.append(tail_off.to_bytes(_WORD, "big"))
            tails.append(body)
            tail_off += len(body)
        elif t.is_array:
            el = t.element_type()
            heads.append(abi_encode([el] * t.array_dims[-1], list(v)))
        elif t.base == "tuple":
            heads.append(abi_encode(list(t.components), list(v)))
        else:
            heads.append(_encode_word(t, v))
    return b"".join(heads) + b"".join(tails)


# ---------------------------------------------------------------------------
# Public UDF kernels
# ---------------------------------------------------------------------------

# Spark's try_parse_json keeps an integer exactly only below this bound
# (DECIMAL(38, 0)); a larger JSON number becomes a DOUBLE in the VARIANT
# sinks, so such values are written as decimal strings.
_JSON_INT_BOUND = 10 ** 38


def _json_value(v):
    if type(v) is int and not -_JSON_INT_BOUND < v < _JSON_INT_BOUND:
        return str(v)
    if type(v) is list:
        return [_json_value(x) for x in v]
    return v


def _args_object(values: list) -> dict:
    """Decoded values as the ``{"arg0": …}`` JSON object of the outputs."""
    return {f"arg{i}": _json_value(v) for i, v in enumerate(values)}


def _as_bytes(v) -> bytes:
    if v is None:
        return b""
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    if isinstance(v, str):
        return bytes.fromhex(v[2:]) if v.startswith("0x") else v.encode("latin-1")
    raise AbiError(f"expected bytes-like, got {type(v).__name__}")


def _first_decoding(read_inputs, decode, row: tuple, fullsigs) -> str:
    """The JSON envelope of both decoders; never raises.

    ``read_inputs(*row)`` returns the row's inputs, or raises AbiError when
    no candidate can match them. ``decode(*cached parse, *inputs)``
    returns the value, None to pass over a signature of the other kind,
    or raises AbiError to reject it. The first value wins; otherwise the
    error lists every rejection."""
    try:
        inputs = read_inputs(*row)
        errors = []
        for sig_s in fullsigs or []:
            try:
                value = decode(*_sig_topic0_cached(sig_s), *inputs)
            except AbiError as e:
                errors.append(str(e))
                continue
            if value is not None:
                return json.dumps({"value": value, "error": None})
        error = "; ".join(errors) or "no candidate signatures"
    except AbiError as e:  # from read_inputs: the candidates catch theirs
        error = str(e)
    except Exception as e:
        error = f"{type(e).__name__}: {e}"
    return json.dumps({"value": None, "error": error})


def _event_inputs(topics, data) -> tuple[list[bytes], bytes]:
    tps = [_as_bytes(t) for t in (topics or [])]
    payload = _as_bytes(data)
    if not tps:
        raise AbiError("no topics")
    return tps, payload


def _decode_event(sig: Signature, canonical: str, topic0: bytes,
                  tps: list[bytes], payload: bytes) -> dict | None:
    if sig.kind != "event":
        return None
    if topic0 != tps[0]:
        raise AbiError(f"{canonical}: topic0 mismatch")
    indexed = [p for p in sig.inputs if p.indexed]
    if len(indexed) != len(tps) - 1:
        raise AbiError(f"{canonical}: {len(indexed)} indexed params, "
                       f"{len(tps) - 1} topics")
    body = iter(abi_decode([p.type for p in sig.inputs if not p.indexed],
                           payload))
    topics = iter(tps[1:])
    values = []
    for p in sig.inputs:
        if not p.indexed:
            values.append(next(body))
        elif p.type.is_dynamic:
            # a dynamic indexed param is stored as its hash
            values.append("0x" + next(topics).hex())
        else:
            values.append(_decode_word(p.type, next(topics)))
    return {"signature": canonical, "inputs": _args_object(values)}


def evm_decode_event(topics, data, fullsigs) -> str:
    """Decode a log against candidate event signatures → JSON string.

    ``topics``: list of 32-byte values (bytes or 0x-hex str); ``data``:
    bytes/hex; ``fullsigs``: candidate signature strings. The first
    candidate whose topic0 matches and decodes cleanly wins.
    """
    return _first_decoding(_event_inputs, _decode_event, (topics, data),
                           fullsigs)


def _call_inputs(input_data, output_data) -> tuple[bytes, bytes]:
    inp = _as_bytes(input_data)
    if len(inp) < 4:
        raise AbiError("input shorter than selector")
    return inp, _as_bytes(output_data)


def _decode_call(sig: Signature, canonical: str, topic0: bytes, inp: bytes,
                 out: bytes) -> dict:
    # a bare signature parses as an event: every kind is accepted here
    if topic0[:4] != inp[:4]:
        raise AbiError(f"{canonical}: selector mismatch")
    result = {"signature": canonical,
              "inputs": _args_object(
                  abi_decode([p.type for p in sig.inputs], inp[4:]))}
    if sig.outputs:
        result["outputs"] = (
            _args_object(abi_decode([p.type for p in sig.outputs], out))
            if out else None)
    return result


def evm_decode_call(input_data, output_data, fullsigs) -> str:
    """Decode a call's input (+ optional output) against candidate function
    signatures → JSON string (see module docstring for the contract)."""
    return _first_decoding(_call_inputs, _decode_call,
                           (input_data, output_data), fullsigs)


def encode_call_data(func_sig: str, args: list) -> bytes:
    """Build eth_call data: 4-byte selector + ABI-encoded args.

    ``func_sig`` uses the reference's syntax, e.g.
    ``'function balanceOf(address)(uint256)'``."""
    sig, _, topic0 = _sig_topic0_cached(func_sig)
    return topic0[:4] + abi_encode([p.type for p in sig.inputs], args)


def decode_call_result(func_sig: str, data: bytes) -> dict:
    """Decode eth_call return data into ``{"arg0": …}`` per the output types."""
    sig, _, _ = _sig_topic0_cached(func_sig)
    return _args_object(abi_decode([p.type for p in sig.outputs], data))
