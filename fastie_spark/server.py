"""HTTP binding for ``run_ie`` — the literal reference serving surface:
``POST /v1/ie`` (/root/reference/fastie/api/app.py:65-81), request fields
from IECreateParams (fastie/api/protocol.py:25-29: texts, ie_schema,
batch_size, max_length), response = the task-prefixed {id, object, created,
model, labels} family (protocol.py:32-70). Optional bearer-token auth
mirrors the reference's API_KEY check (app.py:57-60).

Stdlib-only (http.server.ThreadingHTTPServer — no new deps in this
container; the reference uses FastAPI/uvicorn, and LitServe in server.py).
Like the reference, one server binds ONE model/task (the reference derives
the task from the loaded checkpoint's architecture; here it's the ``task``
argument), and every request funnels into the same SparkSession held by the
driver process. Spark job submission is thread-safe, so the threading
server's concurrent requests are fine — they just share the cluster.

``GET /`` serves a self-contained HTML playground (textarea -> JSON result)
— the analogue of the reference's Gradio demo
(/root/reference/fastie/webui/interface.py:46-58: Textbox in, Json out).
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import SparkSession

from .api import TASKS, run_ie
from .scorer import Vocab
from .tokenizer import MAX_LENGTH


_PLAYGROUND_HTML = """<!doctype html>
<html><head><meta charset="utf-8">
<title>Fast Information Extraction Demo</title></head>
<body style="font-family:sans-serif;max-width:52em;margin:2em auto">
<h1>Fast Information Extraction Demo</h1>
<p>Task: <b>{task}</b>. Enter one sentence per line.</p>
<textarea id="t" rows="5" style="width:100%"
  placeholder="Enter sentence here..."></textarea>
<br><button onclick="go()">Extract</button>
<pre id="out" style="background:#f4f4f4;padding:1em"></pre>
<script>
async function go() {{
  const texts = document.getElementById('t').value.split('\\n')
    .filter(s => s.length > 0);
  const r = await fetch('/v1/ie', {{method: 'POST',
    headers: {{'Content-Type': 'application/json'}},
    body: JSON.stringify({{texts}})}});
  document.getElementById('out').textContent =
    JSON.stringify(await r.json(), null, 2);
}}
</script></body></html>
"""


def create_server(
    spark: SparkSession,
    vocab: Vocab,
    task: str = "uie",
    default_schema=None,
    host: str = "127.0.0.1",
    port: int = 0,
    api_key: str | None = None,
    is_english: bool = False,
) -> ThreadingHTTPServer:
    """Build (but don't start) the HTTP server. port=0 picks a free port
    (read it back from ``server.server_address``)."""
    if task not in TASKS:
        raise ValueError(f"unknown task {task!r}; expected one of {TASKS}")

    class Handler(BaseHTTPRequestHandler):
        server_version = "fastie-spark"

        def log_message(self, fmt, *args):  # noqa: A002 - silence stderr
            pass

        def _send(self, code: int, payload: dict) -> None:
            body = json.dumps(payload, ensure_ascii=False).encode("utf-8")
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self):  # noqa: N802 - http.server API
            if self.path not in ("/", "/index.html"):
                self._send(404, {"detail": "Not Found"})
                return
            body = _PLAYGROUND_HTML.format(task=task).encode("utf-8")
            self.send_response(200)
            self.send_header("Content-Type", "text/html; charset=utf-8")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_POST(self):  # noqa: N802 - http.server API
            if self.path.rstrip("/") != "/v1/ie":
                self._send(404, {"detail": "Not Found"})
                return
            if api_key:
                auth = self.headers.get("Authorization", "")
                if auth != f"Bearer {api_key}":
                    # reference: 401 "Invalid API key." (app.py:58-60)
                    self._send(401, {"detail": "Invalid API key."})
                    return
            try:
                n = int(self.headers.get("Content-Length", "0"))
                req = json.loads(self.rfile.read(n) or b"{}")
                texts = req["texts"]
                if not isinstance(texts, (str, list)) or (
                    isinstance(texts, list)
                    and not all(isinstance(t, str) for t in texts)
                ):
                    raise ValueError("texts must be a string or list of strings")
                # wrong-typed numeric fields ({"max_length": "512"}) must be
                # a 400 here, not a TypeError inside run_ie/Spark (which
                # would drop the connection with an unhandled exception);
                # batch_size is validated only: Arrow batches are the
                # batching unit (api.py)
                int(req.get("batch_size", 16))
                max_length = int(req.get("max_length", MAX_LENGTH))
            except (json.JSONDecodeError, KeyError, ValueError,
                    TypeError, AttributeError) as ex:
                # TypeError/AttributeError: valid-JSON bodies of the wrong
                # shape ([1,2], "abc", {"texts": 5}) must yield a 400, not a
                # dropped connection (reference FastAPI returns 422 here)
                self._send(400, {"detail": f"bad request: {ex}"})
                return
            try:
                resp = run_ie(
                    spark,
                    texts,
                    task=task,
                    vocab=vocab,
                    ie_schema=req.get("ie_schema", default_schema),
                    max_length=max_length,
                    is_english=is_english,
                )
            except ValueError as ex:  # validation errors -> 400, not 500
                self._send(400, {"detail": str(ex)})
                return
            self._send(200, resp)

    return ThreadingHTTPServer((host, port), Handler)


def serve_in_background(server: ThreadingHTTPServer) -> threading.Thread:
    """Start serve_forever on a daemon thread; shut down with
    ``server.shutdown(); server.server_close()``."""
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    return t
