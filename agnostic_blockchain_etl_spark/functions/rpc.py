"""JSON-RPC source kernels: ``ethereum_rpc`` / ``ethereum_rpc_call``.

Reference capability: rows are *created* by calling JSON-RPC UDFs inside SQL
(/root/reference/examples/ethereum_blocks/create_buffer.sql:38-73,
/root/reference/examples/ethereum_token_erc20_balances/create_buffer.sql:40-106).
Endpoint URLs carry behavior options in the fragment, e.g.
``https://node#fail-on-error=true&fail-on-null=true`` (create_buffer.sql:43)
and ``#fail-on-retryable-error=true`` (erc20 create_buffer.sql:46).

Return contract (matches the templates' ``JSONExtract(..., 'value', ...)``
paths): every call returns a JSON string ``{"value": <result>, "error":
<message-or-null>}``. With ``fail-on-error`` the call raises instead of
embedding the error; ``fail-on-null`` raises when the RPC result is null.

Transports:
- ``HttpTransport`` — stdlib urllib, one JSON-RPC request per POST (no
  third-party deps). Retry/backoff lives in ``ethereum_rpc``, driven by
  the endpoint fragment options.
- ``MockTransport`` — canned (method, params) → response corpus for tests
  (FIXTURES.md §8); also accepts a callable.

Inside Spark these kernels run only as the registered pandas UDFs
(``functions/registry.py``), which resolve one transport per Arrow batch.
Parallelism is the buffer's input partitions × the pipeline's Workers,
the same two knobs the reference tunes (internal/pipeline/batcher.go:64,
examples/ethereum_transactions/pipeline.yaml:26).
"""

from __future__ import annotations

import json
import time
import urllib.request
from dataclasses import dataclass
from typing import Any, Callable
from urllib.parse import parse_qs, urlsplit, urlunsplit

from .abi import decode_call_result, encode_call_data
from .hex import evm_hex_decode, evm_hex_encode_int


class RpcError(RuntimeError):
    """An RPC transport or server error surfaced due to fail-on-* options."""


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
        """Return the JSON-RPC ``result``; raise RpcError on server error."""
        raise NotImplementedError


class HttpTransport(Transport):
    """stdlib JSON-RPC POST transport with bounded retry."""

    def __init__(self, timeout_s: float = 30.0):
        self.timeout_s = timeout_s
        self._id = 0

    def call(self, url: str, method: str, params: list) -> Any:
        self._id += 1
        body = json.dumps({"jsonrpc": "2.0", "id": self._id,
                           "method": method, "params": params}).encode()
        req = urllib.request.Request(
            url, data=body, headers={"Content-Type": "application/json"})
        with urllib.request.urlopen(req, timeout=self.timeout_s) as resp:
            payload = json.loads(resp.read())
        if "error" in payload and payload["error"]:
            raise RpcError(str(payload["error"]))
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


_DEFAULT_TRANSPORT: Transport | None = None


def set_default_transport(t: Transport | None) -> None:
    """Install a process-wide transport (tests install MockTransport here;
    executors inherit it via the closure serialized into the UDF)."""
    global _DEFAULT_TRANSPORT
    _DEFAULT_TRANSPORT = t


def get_default_transport() -> Transport:
    """Resolve the transport: explicit install > env-configured mock > HTTP.

    ``AGN_RPC_MOCK=module:attr`` names a Transport (or factory) to import —
    env vars reach Spark's Python workers where module globals set on the
    driver do not, so tests/offline pipelines configure the mock this way.
    """
    global _DEFAULT_TRANSPORT
    if _DEFAULT_TRANSPORT is not None:
        return _DEFAULT_TRANSPORT
    import importlib
    import os
    spec = os.environ.get("AGN_RPC_MOCK")
    if spec:
        mod_name, _, attr = spec.partition(":")
        obj = getattr(importlib.import_module(mod_name), attr)
        t = obj() if callable(obj) and not isinstance(obj, Transport) else obj
        _DEFAULT_TRANSPORT = t
        return t
    return HttpTransport()


_RETRYABLE_MARKERS = ("timeout", "timed out", "connection", "429", "503", "502")


def _is_retryable(err: Exception) -> bool:
    return any(m in str(err).lower() for m in _RETRYABLE_MARKERS)


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


def ethereum_rpc(method: str, params: list, endpoint: str,
                 transport: Transport | None = None) -> str:
    """Perform one JSON-RPC call → ``{"value": …, "error": …}`` JSON string.

    Mirrors the reference UDF's envelope + fragment-option semantics
    (create_buffer.sql:40-44) and its JSON-typed param encoding
    (see ``_json_typed_params``: ``'false'`` must reach the node as a
    JSON boolean or real endpoints reject the call with -32602)."""
    opts = EndpointOptions.parse(endpoint)
    params = _json_typed_params(list(params))
    t = transport or get_default_transport()
    last_err: Exception | None = None
    for attempt in range(opts.max_retries + 1):
        try:
            result = t.call(opts.url, method, list(params))
            if result is None and opts.fail_on_null:
                raise RpcError(f"{method}{params}: null result")
            return json.dumps({"value": result, "error": None})
        except RpcError as e:
            last_err = e
            if _is_retryable(e) and attempt < opts.max_retries:
                time.sleep(opts.retry_backoff_s * (2 ** attempt))
                continue
            break
        except Exception as e:  # transport-level failure
            last_err = e
            if attempt < opts.max_retries:
                time.sleep(opts.retry_backoff_s * (2 ** attempt))
                continue
            break
    msg = f"{type(last_err).__name__}: {last_err}"
    if opts.fail_on_error or opts.fail_on_null:
        raise RpcError(msg)
    if opts.fail_on_retryable_error and _is_retryable(last_err):
        raise RpcError(msg)
    return json.dumps({"value": None, "error": msg})


def ethereum_rpc_call(to: str, func_sig: str, args_json: str,
                      block_number: int, endpoint: str,
                      transport: Transport | None = None) -> str:
    """``eth_call`` a contract read and ABI-decode the result.

    Mirrors the reference UDF (erc20 create_buffer.sql:40-61): ``to`` is a
    0x-address, ``func_sig`` like ``'function symbol()(string)'``,
    ``args_json`` a JSON array of arguments ('' = none), ``block_number``
    -1 = latest. Returns ``{"value": {"arg0": …}, "error": …}``.
    """
    opts = EndpointOptions.parse(endpoint)
    try:
        args = json.loads(args_json) if args_json else []
        data = encode_call_data(func_sig, args)
        block = "latest" if block_number < 0 else evm_hex_encode_int(block_number)
        raw = ethereum_rpc(
            "eth_call",
            [{"to": to, "data": "0x" + data.hex()}, block],
            endpoint, transport=transport)
        envelope = json.loads(raw)
        if envelope["error"] is not None or envelope["value"] is None:
            return raw
        out = evm_hex_decode(envelope["value"])
        return json.dumps({"value": decode_call_result(func_sig, out),
                           "error": None})
    except RpcError:
        raise
    except Exception as e:
        msg = f"{type(e).__name__}: {e}"
        if opts.fail_on_error:
            raise RpcError(msg)
        return json.dumps({"value": None, "error": msg})
