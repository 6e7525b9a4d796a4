"""Real HTTP FetchFn against an in-process server (no external network).

Covers the util.py:63–89 semantics the fetcher re-expresses: UA header,
GET/POST-with-JSON routing, HTTP error capture, and the timeout bound —
plus an end-to-end fetch_wave run where the executor-side factory talks
to the local server.
"""

import json
import threading
from http.server import BaseHTTPRequestHandler, HTTPServer

import pytest

from outage_data_scraper_spark.sources.http import make_http_fetcher


PLAIN_BODY = json.dumps({"outages": [{"id": 1, "customersAffected": 7}]}).encode()


class _Handler(BaseHTTPRequestHandler):
    def log_message(self, *a):  # silence
        pass

    def _reply(self, code, body: bytes):
        self.send_response(code)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def _reply_encoded(self, body: bytes, encoding: str, wire: bytes):
        self.send_response(200)
        self.send_header("Content-Encoding", encoding)
        self.send_header("Content-Length", str(len(wire)))
        self.end_headers()
        self.wfile.write(wire)

    def do_GET(self):
        import gzip as _gzip
        import zlib as _zlib

        if self.path == "/ok":
            self._reply(200, b"payload:" + self.headers["User-Agent"].encode())
        elif self.path == "/gz":
            self._reply_encoded(PLAIN_BODY, "gzip", _gzip.compress(PLAIN_BODY))
        elif self.path == "/defl":
            self._reply_encoded(PLAIN_BODY, "deflate", _zlib.compress(PLAIN_BODY))
        elif self.path == "/defl-raw":
            co = _zlib.compressobj(wbits=-_zlib.MAX_WBITS)
            self._reply_encoded(
                PLAIN_BODY, "deflate", co.compress(PLAIN_BODY) + co.flush()
            )
        elif self.path == "/gz-corrupt":
            self._reply_encoded(PLAIN_BODY, "gzip", b"\x1f\x8bgarbage-not-gzip")
        elif self.path == "/plain":
            self._reply(200, PLAIN_BODY)
        elif self.path == "/slow":
            import time

            time.sleep(2.0)
            self._reply(200, b"late")
        else:
            self._reply(404, b"nope")

    def do_POST(self):
        n = int(self.headers.get("Content-Length", 0))
        body = self.rfile.read(n)
        echo = json.dumps(
            {"ct": self.headers.get("Content-Type"), "body": json.loads(body)}
        ).encode()
        self._reply(200, echo)


@pytest.fixture(scope="module")
def server():
    srv = HTTPServer(("127.0.0.1", 0), _Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_port}"
    srv.shutdown()


def test_get_sends_ua_and_returns_payload(server):
    fetch = make_http_fetcher(user_agent="odss-test-ua")()
    status, reason, payload = fetch(f"{server}/ok", "ga1")
    assert (status, reason) == (200, None)
    assert payload == b"payload:odss-test-ua"


def test_http_error_is_structured_not_raised(server):
    fetch = make_http_fetcher()()
    status, reason, payload = fetch(f"{server}/missing", "ga1")
    assert status == 404 and payload is None


def test_post_json_for_configured_family(server):
    fetch = make_http_fetcher(post_json={"tx1": {"type": "county"}})()
    status, _, payload = fetch(f"{server}/echo", "tx1")
    assert status == 200
    echoed = json.loads(payload)
    assert echoed == {"ct": "application/json", "body": {"type": "county"}}
    # other families still GET
    status, _, payload = fetch(f"{server}/ok", "ga1")
    assert status == 200 and payload.startswith(b"payload:")


def test_timeout_is_bounded_and_structured(server):
    import time

    fetch = make_http_fetcher(timeout_s=0.3)()
    t0 = time.monotonic()
    status, reason, payload = fetch(f"{server}/slow", "ga1")
    assert time.monotonic() - t0 < 1.5
    assert status in (598, 599) and payload is None


def test_connection_refused_is_structured():
    fetch = make_http_fetcher(timeout_s=0.5)()
    status, reason, payload = fetch("http://127.0.0.1:9/unreachable", "ga1")
    assert status == 599 and payload is None


def test_fetch_wave_end_to_end_over_local_http(spark, server):
    """The factory pickles to executors and fetches through the real
    socket path inside mapInPandas."""
    from outage_data_scraper_spark.frontier.fetch import fetch_wave

    rows = [
        (f"{server}/ok", "127.0.0.1", "ga", "1", "e", "ga1", 0, 0, 0, 0, 1, 0),
        (f"{server}/missing", "127.0.0.1", "ga", "1", "e", "ga1", 0, 0, 0, 1, 1, 0),
    ]
    df = spark.createDataFrame(
        rows,
        "url string, host string, state string, layout string, emc string, "
        "family string, depth int, event_seq int, seed_seq int, child_seq int, "
        "wave int, salted_part int",
    )
    got = {
        r.url.rsplit("/", 1)[1]: (r.status, bytes(r.html) if r.html else None)
        for r in fetch_wave(
            df, make_http_fetcher(), num_parts=1, rate_per_host=1e9,
            simulated_clock=True,
        ).collect()
    }
    assert got["ok"][0] == 200 and got["ok"][1].startswith(b"payload:")
    assert got["missing"] == (404, None)


def test_gzip_and_deflate_bodies_decode_to_identical_bytes(server):
    """ga_scraper.py:412–415 parity: compressed utility endpoints must
    hand the parsers the SAME bytes as the uncompressed path."""
    fetch = make_http_fetcher()()
    _, _, plain = fetch(f"{server}/plain", "ga1")
    assert plain == PLAIN_BODY
    for path in ("/gz", "/defl", "/defl-raw"):
        status, reason, payload = fetch(f"{server}{path}", "ga1")
        assert (status, reason) == (200, None), path
        assert payload == plain, path


def test_corrupt_gzip_is_structured_failure_not_crash(server):
    fetch = make_http_fetcher()()
    status, reason, payload = fetch(f"{server}/gz-corrupt", "ga1")
    assert status == 590 and payload is None
    assert "content-decode-error" in reason
