"""JSON-RPC source kernels: ``ethereum_rpc`` / ``ethereum_rpc_call``.

Reference capability: rows are *created* by calling JSON-RPC UDFs inside SQL
(/root/reference/examples/ethereum_blocks/create_buffer.sql:38-73,
/root/reference/examples/ethereum_token_erc20_balances/create_buffer.sql:40-106).
Endpoint URLs carry behavior options in the fragment, e.g.
``https://node#fail-on-error=true&fail-on-null=true`` (create_buffer.sql:43)
and ``#fail-on-retryable-error=true`` (erc20 create_buffer.sql:46).

Return contract (matches the templates' ``JSONExtract(..., 'value', ...)``
paths): every call returns a JSON string ``{"value": <result>, "error":
<message-or-null>}``.

Retry-and-fail policy. ``RpcError.retryable`` is decided where the
error is raised: ``HttpTransport`` marks HTTP 429/502/503/504, a JSON-RPC
error object with code 429, a timeout and a refused or reset connection;
nothing else is retryable. A retryable error is retried ``max-retries``
times (default 3) after ``retry-backoff`` × 2^attempt s (default 0.5).
Then the fragment options decide, for ``ethereum_rpc_call`` also on a
failure to encode its call or decode the result (never retryable):

    ``fail-on-error``            raises on any error
    ``fail-on-retryable-error``  raises on an error still retryable
    ``fail-on-null``             raises on a null result, never on an error

An error no option raises is the envelope's ``error``.

Transports:
- ``HttpTransport`` — stdlib urllib, one JSON-RPC request per POST (no
  third-party deps); the retries live in ``ethereum_rpc``.
- ``MockTransport`` — canned (method, params) → response corpus for tests
  (FIXTURES.md §8); also accepts a callable.

Inside Spark these kernels run only as the Arrow row UDFs that
``register_all`` registers (``functions/registry.py``), once per row,
through the process's default transport (``get_default_transport``).
Parallelism is the buffer's input partitions × the pipeline's Workers,
the same two knobs the reference tunes (internal/pipeline/batcher.go:64,
examples/ethereum_transactions/pipeline.yaml:26).
"""

from __future__ import annotations

import functools
import importlib
import itertools
import json
import os
import time
import urllib.error
import urllib.request
from dataclasses import dataclass
from typing import Any, Callable
from urllib.parse import parse_qs, urlsplit, urlunsplit

from .abi import decode_call_result, encode_call_data
from .hex import evm_hex_decode, evm_hex_encode_int


class RpcError(RuntimeError):
    """An RPC transport or server error; ``retryable`` when a retry may
    succeed (module docstring)."""

    def __init__(self, msg: str, retryable: bool = False):
        super().__init__(msg)
        self.retryable = retryable


@dataclass(frozen=True)
class EndpointOptions:
    """Options parsed from the endpoint URL fragment."""

    url: str
    fail_on_error: bool = False
    fail_on_null: bool = False
    fail_on_retryable_error: bool = False
    max_retries: int = 3
    retry_backoff_s: float = 0.5

    @classmethod
    @functools.lru_cache(maxsize=64)  # a template has few endpoints
    def parse(cls, endpoint: str) -> "EndpointOptions":
        parts = urlsplit(endpoint)
        opts = {k: v[-1] for k, v in parse_qs(parts.fragment).items()}
        bare = urlunsplit((parts.scheme, parts.netloc, parts.path, parts.query, ""))

        def flag(name: str) -> bool:
            return opts.get(name, "false").lower() in ("1", "true", "yes")

        return cls(
            url=bare,
            fail_on_error=flag("fail-on-error"),
            fail_on_null=flag("fail-on-null"),
            fail_on_retryable_error=flag("fail-on-retryable-error"),
            max_retries=int(opts.get("max-retries", 3)),
            retry_backoff_s=float(opts.get("retry-backoff", 0.5)),
        )


class Transport:
    def call(self, url: str, method: str, params: list) -> Any:
        """Return the JSON-RPC ``result``; raise RpcError on server error,
        ``retryable`` when a retry may succeed."""
        raise NotImplementedError


_RETRYABLE_HTTP = (429, 502, 503, 504)


class HttpTransport(Transport):
    """stdlib JSON-RPC POST transport; each failure is an RpcError that
    says whether a retry may succeed."""

    def __init__(self, timeout_s: float = 30.0):
        self.timeout_s = timeout_s
        self._id = 0

    def call(self, url: str, method: str, params: list) -> Any:
        self._id += 1
        body = json.dumps({"jsonrpc": "2.0", "id": self._id,
                           "method": method, "params": params}).encode()
        req = urllib.request.Request(
            url, data=body, headers={"Content-Type": "application/json"})
        try:
            with urllib.request.urlopen(req, timeout=self.timeout_s) as resp:
                payload = json.loads(resp.read())
        except urllib.error.HTTPError as e:
            raise RpcError(f"HTTP {e.code} {e.reason}",
                           retryable=e.code in _RETRYABLE_HTTP) from e
        except OSError as e:  # a URLError carries the socket error
            cause = e.reason if isinstance(e, urllib.error.URLError) else e
            raise RpcError(str(cause), retryable=isinstance(
                cause, (TimeoutError, ConnectionRefusedError,
                        ConnectionResetError))) from e
        err = payload.get("error")
        if err:
            raise RpcError(str(err), retryable=isinstance(err, dict)
                           and err.get("code") == 429)
        return payload.get("result")


class MockTransport(Transport):
    """Canned corpus transport for offline tests (FIXTURES.md §8).

    ``corpus`` maps ``(method, canonical_params_json)`` → result value, or a
    callable ``(method, params) -> result`` for computed fixtures.
    """

    def __init__(self, corpus: dict | Callable[[str, list], Any]):
        self.corpus = corpus
        self.calls: list[tuple[str, list]] = []

    def call(self, url: str, method: str, params: list) -> Any:
        self.calls.append((method, params))
        if callable(self.corpus):
            return self.corpus(method, params)
        key = (method, json.dumps(params, separators=(",", ":")))
        if key not in self.corpus:
            raise RpcError(f"no fixture for {method} {params}")
        return self.corpus[key]


@functools.cache
def get_default_transport() -> Transport:
    """The transport of a call made without one, resolved once per
    process: the ``AGN_RPC_MOCK`` transport, else one ``HttpTransport``.

    ``AGN_RPC_MOCK=module:attr`` names a Transport (or factory) to import —
    env vars reach Spark's Python workers where module globals set on the
    driver do not, so tests/offline pipelines configure the mock this way.
    """
    spec = os.environ.get("AGN_RPC_MOCK")
    if not spec:
        return HttpTransport()
    mod_name, _, attr = spec.partition(":")
    obj = getattr(importlib.import_module(mod_name), attr)
    return obj() if callable(obj) and not isinstance(obj, Transport) else obj


def _json_typed_params(params: list) -> list:
    """Decode each string param as a JSON value when it parses as one.

    This is the reference UDF's param contract
    (examples/ethereum_blocks/tip.sql:6: params are
    ``['"finalized"', 'false']`` — JSON documents, so booleans stay
    booleans on the wire even though SQL arrays are homogeneous strings).
    Non-JSON strings (block tags like ``finalized``, ``0x…`` hex
    quantities) pass through verbatim, so templates may write either the
    quoted-JSON or the bare form."""
    out = []
    for p in params:
        if isinstance(p, str):
            try:
                out.append(json.loads(p))
            except ValueError:
                out.append(p)
        else:
            out.append(p)
    return out


def _call(opts: EndpointOptions, method: str, params: list,
          transport: Transport | None) -> tuple[Any, str | None]:
    """One JSON-RPC call under the endpoint's retry-and-fail policy →
    ``(result, None)`` or ``(None, error message)`` (module docstring)."""
    t = transport or get_default_transport()
    for attempt in itertools.count():
        try:
            result = t.call(opts.url, method, params)
        except Exception as e:
            if (isinstance(e, RpcError) and e.retryable
                    and attempt < opts.max_retries):
                time.sleep(opts.retry_backoff_s * 2 ** attempt)
                continue
            return _failed(opts, e)
        if result is None and opts.fail_on_null:
            raise RpcError(f"{method}{params}: null result")
        return result, None


def _failed(opts: EndpointOptions, err: Exception) -> tuple[None, str]:
    """The fail-on-* decision for an error: raise it, or return it as the
    ``(None, message)`` of the envelope."""
    msg = f"{type(err).__name__}: {err}"
    retryable = isinstance(err, RpcError) and err.retryable
    if opts.fail_on_error or (opts.fail_on_retryable_error and retryable):
        raise RpcError(msg) from err
    return None, msg


def _envelope(value: Any, error: str | None) -> str:
    return json.dumps({"value": value, "error": error})


def ethereum_rpc(method: str | None, params: list | None,
                 endpoint: str | None,
                 transport: Transport | None = None) -> str:
    """Perform one JSON-RPC call → ``{"value": …, "error": …}`` JSON string.

    Mirrors the reference UDF's envelope + fragment-option semantics
    (create_buffer.sql:40-44) and its JSON-typed param encoding
    (see ``_json_typed_params``: ``'false'`` must reach the node as a
    JSON boolean or real endpoints reject the call with -32602). A NULL
    ``params`` is no params; a NULL method or endpoint is an error
    envelope."""
    if method is None or endpoint is None:
        return _envelope(None, "null method or endpoint")
    return _envelope(*_call(EndpointOptions.parse(endpoint), method,
                            _json_typed_params(params or []), transport))


def ethereum_rpc_call(to: str | None, func_sig: str | None,
                      args_json: str | None, block_number: int | None,
                      endpoint: str | None,
                      transport: Transport | None = None) -> str:
    """``eth_call`` a contract read and ABI-decode the result.

    Mirrors the reference UDF (erc20 create_buffer.sql:40-61): ``to`` is a
    0x-address, ``func_sig`` like ``'function symbol()(string)'``,
    ``args_json`` a JSON array of arguments ('' = none), ``block_number``
    -1 = latest. Returns ``{"value": {"arg0": …}, "error": …}``; a NULL
    ``args_json`` is no arguments, any other NULL an error envelope.
    """
    if None in (to, func_sig, block_number, endpoint):
        return _envelope(None, "null to/func_sig/block_number/endpoint")
    opts = EndpointOptions.parse(endpoint)
    try:
        data = encode_call_data(func_sig,
                                json.loads(args_json) if args_json else [])
        block = "latest" if block_number < 0 else evm_hex_encode_int(block_number)
    except Exception as e:
        return _envelope(*_failed(opts, e))
    value, error = _call(opts, "eth_call",
                         [{"to": to, "data": "0x" + data.hex()}, block],
                         transport)
    if value is not None:
        try:
            value = decode_call_result(func_sig, evm_hex_decode(value))
        except Exception as e:
            value, error = _failed(opts, e)
    return _envelope(value, error)
