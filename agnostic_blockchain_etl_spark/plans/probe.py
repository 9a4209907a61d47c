"""Startup probe + metrics endpoint (reference: internal/ch/startup_probe.go
:16-62 and the Prometheus scrape server on :9999,
cmd/pipeline/pipeline.go:90-111).

The probe is near-trivial for Spark (the session blocks until ready) but
kept for interface parity and for Spark Connect remotes where readiness
is real. The metrics endpoint serves the pipeline's stage counters in
Prometheus text format over stdlib HTTP — no client library
dependency.
"""

from __future__ import annotations

import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer


class ProbeTimeout(RuntimeError):
    pass


def run_startup_probe(spark, max_delay_s: float = 10.0,
                      poll_interval_s: float = 1.0) -> None:
    """Ping the engine until it answers (probe defaults MaxDelay 10s /
    PollInterval 1s, startup_probe.go:19-25)."""
    deadline = time.monotonic() + max_delay_s
    last: Exception | None = None
    while time.monotonic() < deadline:
        try:
            spark.sql("SELECT 1").collect()
            return
        except Exception as e:  # session still initializing (Connect remotes)
            last = e
            time.sleep(poll_interval_s)
    raise ProbeTimeout(f"engine not ready after {max_delay_s}s: {last}")


class MetricsServer:
    """Prometheus-text metrics endpoint over the pipeline's counters.

    ``collect()`` callbacks return dicts of ``name{labels} -> value``;
    ``plans.cli`` registers the stage metrics
    (``stage_metrics_collector``), the only collector. Serves on ``port``
    (default mirrors the reference's :9999)."""

    def __init__(self, port: int = 9999):
        self.port = port
        self._collectors: list = []
        self._server: ThreadingHTTPServer | None = None

    def register(self, collect) -> None:
        self._collectors.append(collect)

    def render(self) -> str:
        lines: list[str] = []
        for collect in self._collectors:
            for name, value in collect().items():
                lines.append(f"{name} {value}")
        return "\n".join(lines) + "\n"

    def start(self) -> None:
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def do_GET(self):
                body = outer.render().encode()
                self.send_response(200)
                self.send_header("Content-Type",
                                 "text/plain; version=0.0.4")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, *args):  # quiet
                pass

        self._server = ThreadingHTTPServer(("127.0.0.1", self.port), Handler)
        threading.Thread(target=self._server.serve_forever,
                         name="metrics-server", daemon=True).start()

    def stop(self) -> None:
        if self._server is not None:
            self._server.shutdown()
            self._server = None


def stage_metrics_collector(stage_metrics: list[dict]):
    """Adapt run_pipeline's per-stage metrics to Prometheus lines
    (counter names mirror internal/pipeline/stage.go:17-43)."""

    def collect() -> dict:
        out = {}
        for i, stage in enumerate(stage_metrics):
            for fname, m in stage.items():
                key = fname.replace(".", "_")
                out[f'query_executions_total{{stage="{i}",file="{key}"}}'] = m.executions
                out[f'query_rows_total{{stage="{i}",file="{key}"}}'] = m.rows
                out[f'query_elapsed_seconds_total{{stage="{i}",file="{key}"}}'] = \
                    round(m.elapsed_s, 3)
        return out

    return collect
