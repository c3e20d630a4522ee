"""Contract tests for the production HTTP chat client against a local
stub server — proves the request shape, auth header, one request per
call, and retry-on-5xx at the enrichment's single retry site
(retry_with_backoff) without any network access."""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, HTTPServer

import pytest

from llm_enhanced_data_pipeline_spark.enrich.client import HttpChatClient, retry_with_backoff


class _StubHandler(BaseHTTPRequestHandler):
    # class-level state, reset per test via _configure
    fail_first_n = 0
    requests_seen: list[dict] = []

    def log_message(self, *args):  # silence
        pass

    def do_POST(self):
        body = json.loads(self.rfile.read(int(self.headers["Content-Length"])))
        type(self).requests_seen.append(
            {
                "path": self.path,
                "auth": self.headers.get("Authorization"),
                "content_type": self.headers.get("Content-Type"),
                "body": body,
            }
        )
        if len(type(self).requests_seen) <= type(self).fail_first_n:
            self.send_response(503)
            self.end_headers()
            return
        payload = {
            "choices": [
                {"message": {"content": f"echo:{body['messages'][0]['content']}"}}
            ]
        }
        data = json.dumps(payload).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)


@pytest.fixture
def stub_server():
    server = HTTPServer(("127.0.0.1", 0), _StubHandler)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    _StubHandler.fail_first_n = 0
    _StubHandler.requests_seen = []
    yield f"http://127.0.0.1:{server.server_port}"
    server.shutdown()
    thread.join(timeout=5)


def test_happy_path_request_contract(stub_server):
    client = HttpChatClient(base_url=stub_server, api_key="sk-test", model="m1")
    out = client.generate("hello world", max_tokens=42)
    assert out == "echo:hello world"
    [req] = _StubHandler.requests_seen
    assert req["path"] == "/chat/completions"
    assert req["auth"] == "Bearer sk-test"
    assert req["content_type"] == "application/json"
    assert req["body"]["model"] == "m1"
    assert req["body"]["max_tokens"] == 42
    assert req["body"]["messages"] == [{"role": "user", "content": "hello world"}]


def test_retries_on_server_error_then_succeeds(stub_server):
    _StubHandler.fail_first_n = 2
    client = HttpChatClient(base_url=stub_server, api_key="k")
    with pytest.raises(Exception):
        client.generate("retry me")
    assert len(_StubHandler.requests_seen) == 1  # the client itself never retries
    out = retry_with_backoff(lambda: client.generate("retry me"), max_tries=4, base_delay=0.001)
    assert out == "echo:retry me"
    assert len(_StubHandler.requests_seen) == 3  # two 503s + one success


def test_exhausted_retries_raise(stub_server):
    _StubHandler.fail_first_n = 99
    client = HttpChatClient(base_url=stub_server, api_key="k")
    with pytest.raises(Exception):
        retry_with_backoff(lambda: client.generate("never works"), max_tries=2, base_delay=0.001)
    assert len(_StubHandler.requests_seen) == 2
