"""A strict in-process GCS JSON-API emulator over REAL HTTP.

Test infrastructure for :class:`GCSBackend` (VERDICT r12 item #4: a
second conditional-write dialect, proven against a live endpoint).
``ThreadingHTTPServer`` serves genuine concurrent HTTP requests —
contract tests and the multi-process CAS hammer hit it over TCP, so
request serialization happens in one server process behind a mutation
lock, exactly the property a real store provides and in-process mocks
cannot.

Implements the documented generation semantics STRICTLY — the point is
to refuse, with the documented status codes, everything real GCS
refuses:

- every successful upload mints a NEW, never-recycled generation
  (monotone counter), including byte-identical rewrites;
- ``ifGenerationMatch=0``: create-only — 412 if a live object exists;
- ``ifGenerationMatch=G`` (G>0): 412 unless the live generation is
  exactly G; 412 (not 404) when no live object exists;
- conditional DELETE: same matrix; unconditional DELETE of a missing
  object is 404;
- media GET returns the ``x-goog-generation`` header clients pin
  conditions against; object GETs of missing names are 404;
- list supports ``prefix`` and real ``pageToken`` pagination (small
  page size, so the client's pagination loop is actually exercised);
- resumable SESSIONS, initiation and cancel only: the
  ``uploadType=resumable`` POST mints a session URI in the
  ``Location`` header, and a DELETE to that URI cancels it (499).
  :class:`GCSBackend` uploads every object in one ``uploadType=media``
  request; a session is the residue an earlier client's crashed large
  upload leaves, which the sweep tests plant and
  ``GCSBackend.sweep_orphans`` cancels. Chunk PUTs are not served.

Optional fault injection (``drop_condition_enforcement``) turns the
emulator into the broken store ``verify_conditional_support`` exists
to detect — the probe test asserts it FAILS against that server.

Transport-fault injection (VERDICT r13 item 2): setting
``state.fail_conditional_responses = N`` makes the next N CONDITIONAL
mutations (upload or delete with ``ifGenerationMatch``) APPLY their
state change and then answer 503 — the lost-response failure real
stores exhibit when a proxy/LB dies between apply and reply. The
fault-replay tests prove the client's retry path cannot double-apply
a conditional after exactly this.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, unquote, urlsplit

_PAGE_SIZE = 3  # tiny on purpose: force the client's pagination loop


class _State:
    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.objects: dict[str, tuple[bytes, int]] = {}  # name -> (body, gen)
        self.gen_counter = 0
        self.enforce_conditions = True
        # >0: the next N conditional mutations apply, then answer 503
        self.fail_conditional_responses = 0
        # >0: let that many conditional mutations SUCCEED first before
        # the armed failures fire — lets a test target, e.g., the 3rd
        # conditional of a commit (the pointer CAS) specifically
        self.fail_conditional_after = 0
        # open resumable sessions: id -> object name
        self.sessions: dict[str, str] = {}
        self.session_counter = 0

    def swallow_conditional_reply(self, qs) -> bool:
        """Called under ``lock`` AFTER a conditional mutation applied:
        consume one armed fault and tell the handler to answer 503."""
        if not qs.get("ifGenerationMatch"):
            return False
        if self.fail_conditional_after > 0:
            self.fail_conditional_after -= 1
            return False
        if self.fail_conditional_responses > 0:
            self.fail_conditional_responses -= 1
            return True
        return False

    def next_gen(self) -> int:
        self.gen_counter += 1
        return self.gen_counter


class _Handler(BaseHTTPRequestHandler):
    state: _State  # injected per-server via subclassing

    def log_message(self, *args):  # silence request logging
        pass

    def _reply(self, status: int, body: bytes = b"", headers=()):
        self.send_response(status)
        for k, v in headers:
            self.send_header(k, v)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def _error(self, status: int, reason: str):
        payload = json.dumps(
            {"error": {"code": status, "message": reason}}
        ).encode()
        self._reply(status, payload, [("Content-Type", "application/json")])

    def _check_generation_match(self, qs, name: str) -> int | None:
        """Return an HTTP error status if the ifGenerationMatch
        precondition fails, else None. Missing param = unconditional."""
        vals = qs.get("ifGenerationMatch")
        if not vals or not self.state.enforce_conditions:
            return None
        want = int(vals[0])
        live = self.state.objects.get(name)
        if want == 0:
            return 412 if live is not None else None
        if live is None or live[1] != want:
            return 412
        return None

    # ---------------------------------------------------------- routes

    def do_POST(self):
        url = urlsplit(self.path)
        qs = parse_qs(url.query)
        if not url.path.startswith("/upload/storage/v1/b/"):
            return self._error(404, "unknown route")
        name_vals = qs.get("name")
        if not name_vals:
            return self._error(400, "upload requires name=...")
        if qs.get("uploadType") == ["resumable"]:
            return self._initiate_resumable(name_vals[0], qs)
        if qs.get("uploadType") != ["media"]:
            return self._error(
                400, "only uploadType=media|resumable supported"
            )
        name = name_vals[0]
        length = int(self.headers.get("Content-Length", "0"))
        body = self.rfile.read(length)
        with self.state.lock:
            err = self._check_generation_match(qs, name)
            if err:
                return self._error(err, "conditionNotMet")
            gen = self.state.next_gen()
            self.state.objects[name] = (body, gen)
            if self.state.swallow_conditional_reply(qs):
                return self._error(503, "backendError (injected after apply)")
        meta = json.dumps({"name": name, "generation": str(gen)}).encode()
        self._reply(
            200,
            meta,
            [
                ("Content-Type", "application/json"),
                ("x-goog-generation", str(gen)),
            ],
        )

    def _initiate_resumable(self, name: str, qs):
        with self.state.lock:
            err = self._check_generation_match(qs, name)
            if err:
                return self._error(err, "conditionNotMet")
            self.state.session_counter += 1
            sid = f"sess{self.state.session_counter}"
            self.state.sessions[sid] = name
        host = self.headers.get("Host", "127.0.0.1")
        self._reply(
            200,
            b"{}",
            [
                ("Content-Type", "application/json"),
                ("Location", f"http://{host}/upload/resumable/{sid}"),
            ],
        )

    def do_GET(self):
        url = urlsplit(self.path)
        qs = parse_qs(url.query)
        parts = url.path.split("/")
        # /storage/v1/b/<bucket>/o            -> list
        # /storage/v1/b/<bucket>/o/<object>   -> object get
        if len(parts) >= 6 and parts[1] == "storage" and parts[5] == "o":
            if len(parts) == 6 or parts[6] == "":
                return self._list(qs)
            name = unquote("/".join(parts[6:]))
            return self._get_object(name, qs)
        self._error(404, "unknown route")

    def _get_object(self, name: str, qs):
        with self.state.lock:
            live = self.state.objects.get(name)
        if live is None:
            return self._error(404, "notFound")
        body, gen = live
        if qs.get("alt") == ["media"]:
            return self._reply(
                200,
                body,
                [
                    ("Content-Type", "application/octet-stream"),
                    ("x-goog-generation", str(gen)),
                ],
            )
        meta = json.dumps({"name": name, "generation": str(gen)}).encode()
        self._reply(200, meta, [("Content-Type", "application/json")])

    def _list(self, qs):
        prefix = qs.get("prefix", [""])[0]
        token = qs.get("pageToken", [None])[0]
        with self.state.lock:
            names = sorted(
                n for n in self.state.objects if n.startswith(prefix)
            )
        start = int(token) if token else 0
        page = names[start : start + _PAGE_SIZE]
        payload: dict = {"items": [{"name": n} for n in page]}
        if start + _PAGE_SIZE < len(names):
            payload["nextPageToken"] = str(start + _PAGE_SIZE)
        self._reply(
            200,
            json.dumps(payload).encode(),
            [("Content-Type", "application/json")],
        )

    def do_DELETE(self):
        url = urlsplit(self.path)
        qs = parse_qs(url.query)
        parts = url.path.split("/")
        if len(parts) == 4 and parts[1:3] == ["upload", "resumable"]:
            # cancel an upload session (the documented DELETE to the
            # session URI): real GCS answers 499 whether or not bytes
            # were staged
            with self.state.lock:
                if parts[3] not in self.state.sessions:
                    return self._error(404, "no such upload session")
                del self.state.sessions[parts[3]]
            return self._reply(499)
        if len(parts) < 7 or parts[1] != "storage" or parts[5] != "o":
            return self._error(404, "unknown route")
        name = unquote("/".join(parts[6:]))
        with self.state.lock:
            err = self._check_generation_match(qs, name)
            if err:
                return self._error(err, "conditionNotMet")
            if name not in self.state.objects:
                return self._error(404, "notFound")
            del self.state.objects[name]
            if self.state.swallow_conditional_reply(qs):
                return self._error(503, "backendError (injected after apply)")
        self._reply(204)


class FakeGCSServer:
    """Context manager: a live fake-GCS HTTP endpoint on a free port."""

    def __init__(self, enforce_conditions: bool = True):
        self._state = _State()
        self._state.enforce_conditions = enforce_conditions
        handler = type("BoundHandler", (_Handler,), {"state": self._state})
        self._httpd = ThreadingHTTPServer(("127.0.0.1", 0), handler)
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True
        )

    @property
    def state(self) -> _State:
        """Direct handle for fault injection and store inspection."""
        return self._state

    @property
    def endpoint(self) -> str:
        host, port = self._httpd.server_address[:2]
        return f"http://{host}:{port}"

    def __enter__(self) -> "FakeGCSServer":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
