"""Interactive service surface over the coach session (reference parity:
``/root/reference/server.py`` + ``langgraph.json`` — the reference serves
its LangGraph workflows over HTTP; this is the library-equivalent shim
over :class:`plans.coach.CoachSession`).

Deliberately thin and stdlib-only (``http.server``): the engine stays a
library, and the server adds ONLY transport — every behavior (phase
memoization, routing, context rendering, LLM calls) lives in the tested
session object with injected callables. Spark job submission is
thread-safe, so the threading server's request threads can drive the
same SparkSession; the session's ensure_* memoization means concurrent
first requests at worst rebuild once per guard (a lock serializes it).

Endpoints (JSON in/out):

- ``GET  /health``          -> ``{"status": "ok"}``
- ``GET  /graphs``          -> served workflow names, mirroring the
  reference's ``langgraph.json`` graph registry
- ``POST /session``         -> body ``{"player_tag": "#..."}``; runs
  Phase-0 (``ensure_meta``) + Phase-1 (``ensure_user``), returns build
  counts — idempotent, like the reference's memoized graph state
- ``POST /qna``             -> body ``{"question": "..."}``; one
  ``answer_one`` hop; 409 before ``/session`` (the reference's coach
  graph likewise asks for the tag first)
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from clashroyale_datapipeline_agent_spark.plans.coach import CoachSession

#: Mirrors the reference's langgraph.json graph registry.
GRAPHS = ["user_analytics", "meta_analytics", "qna-small", "qna-full"]


class CoachServer:
    """One coach session behind an HTTP listener.

    ``port=0`` binds an ephemeral port (tests); :attr:`port` reports the
    bound one. ``start()`` serves on a daemon thread; ``close()`` shuts
    down, joins and closes the session (dropping its row snapshot).
    """

    def __init__(
        self, session: CoachSession, *, host: str = "127.0.0.1", port: int = 0
    ) -> None:
        self.session = session
        self._lock = threading.Lock()
        handler = _make_handler(self)
        self._httpd = ThreadingHTTPServer((host, port), handler)
        self._thread: threading.Thread | None = None

    @property
    def port(self) -> int:
        return self._httpd.server_address[1]

    def start(self) -> "CoachServer":
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True
        )
        self._thread.start()
        return self

    def close(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self.session.close()

    # -- request handlers (called from server threads) ---------------------

    def handle_session(self, body: dict) -> tuple[int, dict]:
        tag = body.get("player_tag")
        if not isinstance(tag, str) or not tag.strip():
            return 400, {"error": "player_tag (non-empty string) is required"}
        with self._lock:
            self.session.ensure_meta()
            self.session.ensure_user(tag)
        return 200, {
            "player_tag": self.session.player_tag,
            "meta_builds": self.session.meta_builds,
            "user_builds": self.session.user_builds,
        }

    def handle_qna(self, body: dict) -> tuple[int, dict]:
        q = body.get("question")
        if not isinstance(q, str) or not q.strip():
            return 400, {"error": "question (non-empty string) is required"}
        try:
            with self._lock:
                result = self.session.answer_one(q)
        except RuntimeError as exc:
            # ensure_meta/ensure_user not run yet — the coach graph's
            # "ask for the tag first" contract
            return 409, {"error": str(exc)}
        return 200, result


def _make_handler(server: CoachServer):
    class Handler(BaseHTTPRequestHandler):
        # silence per-request stderr noise
        def log_message(self, fmt, *args):  # noqa: D102
            pass

        def _reply(self, status: int, payload: dict) -> None:
            data = json.dumps(payload).encode()
            self.send_response(status)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def _body(self) -> dict | None:
            try:
                n = int(self.headers.get("Content-Length", "0"))
                raw = self.rfile.read(n) if n else b"{}"
                body = json.loads(raw or b"{}")
                return body if isinstance(body, dict) else None
            except Exception:
                return None

        def do_GET(self):  # noqa: N802
            if self.path == "/health":
                self._reply(200, {"status": "ok"})
            elif self.path == "/graphs":
                self._reply(200, {"graphs": GRAPHS})
            else:
                self._reply(404, {"error": f"unknown path {self.path}"})

        def do_POST(self):  # noqa: N802
            body = self._body()
            if body is None:
                self._reply(400, {"error": "malformed JSON body"})
                return
            try:
                if self.path == "/session":
                    status, payload = server.handle_session(body)
                elif self.path == "/qna":
                    status, payload = server.handle_qna(body)
                else:
                    status, payload = 404, {"error": f"unknown path {self.path}"}
            except Exception as exc:  # engine error -> 500, server survives
                status, payload = 500, {"error": f"{type(exc).__name__}: {exc}"}
            self._reply(status, payload)

    return Handler
