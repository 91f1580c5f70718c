"""HTTP/REST front door: the reference gateway's observable contract as a
thin stdlib ``http.server`` shim over :class:`MapReduceEngine`.

Mirrors ``/root/reference/src/tmapreduce/gateway.cc``:

- ``POST /launch`` — body ``{"name", "type", "mapper_num", "reducer_num",
  "token", "kvs": [{"key","value"}...]}``. Shape violations (missing field,
  wrong JSON type, non-uint counts, non-string kv — ``check_launch_request``,
  ``gateway.cc:15-51``) return a bare **400**. Shape-valid requests the engine
  rejects (unknown job type, ``mapper_num == 0``, empty ``kvs`` — the
  *master*'s admission checks, ``master.cc:530-535``) return **500** with
  ``{"ok": false, "message": ...}`` exactly like the proxied master error
  path (``gateway.cc:125-128``). Success: **200**
  ``{"ok": true, "message": "", "job_id": N}`` (``gateway.cc:118-123``).
- ``GET /getresult?job_id=N&token=T`` — success: **200**
  ``{"ok": true, "message": "", "result": [...]}`` (``gateway.cc:166-177``);
  unknown job / wrong token / unfinished job: **500**
  ``{"ok": false, "message": ...}`` (``gateway.cc:178-182``) — "job not
  finished" is the message the reference client polls on
  (``example/word_count/word_count_client.cc:54-63``).
- ``GET /helloworld`` — ``"Hello world."`` (``gateway.cc:63-65``).

The reference gateway is stateless glue between HTTP and the master RPC; here
the "master" is the in-process engine, so the shim is equally thin. It exists
for observable parity — production Spark jobs use the Python API or
``apply_df`` directly.
"""

from __future__ import annotations

import json
import logging
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from tmapreduce_spark.mapreduce import LaunchError, MapReduceEngine, ResultError


def _check_launch_request(doc) -> bool:
    """Literal twin of ``check_launch_request`` (gateway.cc:15-51): field
    presence + JSON types only; semantic admission is the engine's job."""
    if not isinstance(doc, dict):
        return False
    if not isinstance(doc.get("name"), str):
        return False
    if not isinstance(doc.get("type"), str):
        return False
    # IsUint(): a non-negative integer (bool is an int in Python — exclude).
    for field in ("mapper_num", "reducer_num"):
        v = doc.get(field)
        if not isinstance(v, int) or isinstance(v, bool) or v < 0:
            return False
    if not isinstance(doc.get("token"), str):
        return False
    kvs = doc.get("kvs")
    if not isinstance(kvs, list):
        return False
    for kv in kvs:
        if not isinstance(kv, dict):
            return False
        if not isinstance(kv.get("key"), str) or not isinstance(kv.get("value"), str):
            return False
    return True


class Gateway:
    """Serve the engine over HTTP on 127.0.0.1; ``port=0`` picks an ephemeral
    port (exposed as ``self.port``). Use as a context manager in tests."""

    def __init__(self, engine: MapReduceEngine, port: int = 0, spool=None):
        """``spool``: optional :class:`~tmapreduce_spark.sources.stream_launch.
        LaunchSpool` — every ACCEPTED launch is also appended there, making
        the ingest consumable as a Structured Streaming source
        (``readStream.format("launchstream")``), the streaming twin of the
        reference's push-based REST path (r09 verdict #4)."""
        self.engine = engine
        self.spool = spool
        gateway = self

        class Handler(BaseHTTPRequestHandler):
            # Buffer each reply so its headers and body leave in one send
            # when handle_one_request flushes. Unbuffered, the headers' send
            # hands the GIL to a driver-path job the request just launched,
            # and the body waits out its 5 ms switch interval.
            wbufsize = -1

            def log_message(self, *args):  # quiet test output
                pass

            def _reply(self, status: int, body: dict | str | None = None):
                data = b""
                ctype = "application/json"
                if isinstance(body, str):
                    data, ctype = body.encode(), "text/plain"
                elif body is not None:
                    data = json.dumps(body).encode()
                self.send_response(status)
                self.send_header("Content-Type", ctype)
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

            def do_GET(self):
                url = urlparse(self.path)
                if url.path == "/helloworld":
                    return self._reply(200, "Hello world.")
                if url.path != "/getresult":
                    return self._reply(404)
                qs = parse_qs(url.query)
                try:
                    job_id = int(qs["job_id"][0])
                    token = qs.get("token", [""])[0]
                except (KeyError, ValueError):
                    return self._reply(400)
                try:
                    results = gateway.engine.get_result(job_id, token)
                except ResultError as exc:
                    return self._reply(500, {"ok": False, "message": str(exc)})
                return self._reply(
                    200, {"ok": True, "message": "", "result": results}
                )

            def do_POST(self):
                url = urlparse(self.path)
                if url.path != "/launch":
                    return self._reply(404)
                try:
                    n = int(self.headers.get("Content-Length", "0"))
                except ValueError:
                    n = -1
                if n < 0:
                    # rfile.read(-1) would block until the client closes the
                    # socket; a bad length is a shape violation like any other.
                    return self._reply(400)
                try:
                    doc = json.loads(self.rfile.read(n) or b"null")
                except ValueError:  # JSONDecodeError and bad UTF-8 alike
                    doc = None
                if not _check_launch_request(doc):
                    return self._reply(400)
                try:
                    job_id = gateway.engine.launch(
                        name=doc["name"],
                        job_type=doc["type"],
                        kvs=[(kv["key"], kv["value"]) for kv in doc["kvs"]],
                        mapper_num=doc["mapper_num"],
                        reducer_num=doc["reducer_num"],
                        token=doc["token"],
                    )
                except (LaunchError, KeyError) as exc:
                    # the master's admission rejection, proxied as ok=false
                    return self._reply(500, {"ok": False, "message": str(exc)})
                if gateway.spool is not None:
                    # The job is already launched: ANY spool failure (disk
                    # full, unwritable dir, a pathological payload the spool
                    # codec rejects) must NOT surface as a 500 — the client
                    # would retry and duplicate the job. The spool is a
                    # best-effort streaming mirror, so log and reply ok
                    # (r10 advice; broadened beyond OSError per r11 advice).
                    try:
                        gateway.spool.append(
                            doc["name"],
                            doc["type"],
                            [(kv["key"], kv["value"]) for kv in doc["kvs"]],
                        )
                    except Exception as exc:
                        logging.getLogger(__name__).warning(
                            "spool append failed for launched job %s: %s",
                            job_id, exc,
                        )
                return self._reply(
                    200, {"ok": True, "message": "", "job_id": job_id}
                )

        self._server = ThreadingHTTPServer(("127.0.0.1", port), Handler)
        self.port = self._server.server_address[1]
        self._thread: threading.Thread | None = None

    def start(self) -> "Gateway":
        self._thread = threading.Thread(
            target=self._server.serve_forever, daemon=True
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        self._server.shutdown()
        self._server.server_close()
        if self._thread is not None:
            self._thread.join()

    def __enter__(self) -> "Gateway":
        return self.start()

    def __exit__(self, *exc) -> None:
        self.stop()
