"""The RPC retry-and-fail policy (``functions/rpc.py`` module docstring):
which errors are retried, with what backoff, and which fragment option
turns an error into a raise. ``time.sleep`` is patched, so a test records
the backoff instead of waiting it out."""

import http.server
import json
import socket
import threading

import pytest

from agnostic_blockchain_etl_spark.functions import rpc


@pytest.fixture
def sleeps(monkeypatch):
    slept = []
    monkeypatch.setattr(rpc.time, "sleep", slept.append)
    return slept


def scripted(*outcomes):
    """A MockTransport that plays ``outcomes`` in order: an exception is
    raised, any other value is the result."""
    it = iter(outcomes)

    def serve(method, params):
        o = next(it)
        if isinstance(o, Exception):
            raise o
        return o

    return rpc.MockTransport(serve)


def call(t, options=""):
    return json.loads(rpc.ethereum_rpc("m", [], "http://x#" + options,
                                       transport=t))


class TestRetryTable:
    def test_retryable_error_then_success(self, sleeps):
        t = scripted(rpc.RpcError("busy", retryable=True),
                     rpc.RpcError("busy", retryable=True), "0x1")
        assert call(t, "retry-backoff=0.25") == {"value": "0x1",
                                                 "error": None}
        assert len(t.calls) == 3
        assert sleeps == [0.25, 0.5]

    @pytest.mark.parametrize("err", [
        rpc.RpcError("execution reverted"),
        # a message that only mentions a retryable status is not one
        rpc.RpcError("unknown block 0x4290503"),
        RuntimeError("connection pool bug"),
    ])
    def test_non_retryable_error_is_called_once(self, sleeps, err):
        t = scripted(err)
        out = call(t, "fail-on-retryable-error=true")
        assert out["value"] is None and str(err) in out["error"]
        assert len(t.calls) == 1 and sleeps == []

    def test_retries_exhausted(self, sleeps):
        busy = rpc.RpcError("HTTP 503", retryable=True)
        t = scripted(*[busy] * 3)
        out = call(t, "max-retries=2")
        assert out == {"value": None, "error": "RpcError: HTTP 503"}
        assert len(t.calls) == 3 and sleeps == [0.5, 1.0]

        t = scripted(*[busy] * 3)
        with pytest.raises(rpc.RpcError, match="HTTP 503"):
            call(t, "max-retries=2&fail-on-retryable-error=true")
        assert len(t.calls) == 3

    def test_fail_on_error_raises_any_error(self, sleeps):
        t = scripted(rpc.RpcError("execution reverted"))
        with pytest.raises(rpc.RpcError, match="execution reverted"):
            call(t, "fail-on-error=true")
        assert len(t.calls) == 1

    def test_fail_on_null_raises_only_on_null(self, sleeps):
        t = scripted(rpc.RpcError("execution reverted"))
        out = call(t, "fail-on-null=true")
        assert out == {"value": None,
                       "error": "RpcError: execution reverted"}
        with pytest.raises(rpc.RpcError, match="null result"):
            call(scripted(None), "fail-on-null=true")


ERC20_OPTIONS = "fail-on-retryable-error=true&fail-on-null=true"


def test_erc20_options_return_a_reverted_call_as_an_error():
    """The erc20_balances options against the mock chain, which serves no
    ``name()``: an error envelope, at once, so the token gets a NULL
    column instead of failing the batch."""
    from tests.mock_chain import TOKEN, serve
    t = rpc.MockTransport(serve)
    out = json.loads(rpc.ethereum_rpc_call(
        "0x" + TOKEN.hex(), "function name()(string)", "", -1,
        "mock://chain#" + ERC20_OPTIONS, transport=t))
    assert out["value"] is None and "unknown selector" in out["error"]
    assert len(t.calls) == 1


class _Node(http.server.BaseHTTPRequestHandler):
    """Answers each POST with the next (status, JSON body) of the
    server's script and counts the requests."""

    def do_POST(self):
        self.rfile.read(int(self.headers["Content-Length"]))
        self.server.requests += 1
        status, body = self.server.script.pop(0)
        raw = json.dumps(body).encode()
        self.send_response(status)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(raw)))
        self.end_headers()
        self.wfile.write(raw)

    def log_message(self, *args):
        pass


@pytest.fixture
def node():
    server = http.server.HTTPServer(("127.0.0.1", 0), _Node)
    server.requests = 0
    server.script = []
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    yield server
    server.shutdown()
    server.server_close()
    thread.join(timeout=10)
    assert not thread.is_alive()


def _http_call(node, options=""):
    host, port = node.server_address
    return json.loads(rpc.ethereum_rpc(
        "eth_blockNumber", [], f"http://{host}:{port}/#{options}",
        transport=rpc.HttpTransport(timeout_s=10)))


class TestHttpTransport:
    def test_503_then_200(self, node, sleeps):
        node.script = [(503, {}),
                       (200, {"jsonrpc": "2.0", "id": 2, "result": "0x10"})]
        assert _http_call(node) == {"value": "0x10", "error": None}
        assert node.requests == 2 and sleeps == [0.5]

    def test_400_is_not_retried(self, node, sleeps):
        node.script = [(400, {})] * 4
        out = _http_call(node, "fail-on-retryable-error=true")
        assert out["value"] is None and "HTTP 400" in out["error"]
        assert node.requests == 1 and sleeps == []

    def test_json_rpc_error_object(self, node, sleeps):
        node.script = [(200, {"jsonrpc": "2.0", "id": 1, "error": {
            "code": -32000, "message": "execution reverted"}})]
        out = _http_call(node)
        assert out["value"] is None and "execution reverted" in out["error"]
        assert node.requests == 1

        node.script = [(200, {"jsonrpc": "2.0", "id": 2, "error": {
            "code": 429, "message": "rate limited"}}),
            (200, {"jsonrpc": "2.0", "id": 3, "result": "0x11"})]
        assert _http_call(node) == {"value": "0x11", "error": None}
        assert node.requests == 3

    def test_refused_connection_is_retried(self, sleeps):
        with socket.socket() as s:
            s.bind(("127.0.0.1", 0))
            port = s.getsockname()[1]
        # nothing listens on the port once the socket is closed
        out = json.loads(rpc.ethereum_rpc(
            "eth_blockNumber", [], f"http://127.0.0.1:{port}/#max-retries=1",
            transport=rpc.HttpTransport(timeout_s=10)))
        assert out["value"] is None and "refused" in out["error"]
        assert sleeps == [0.5]
