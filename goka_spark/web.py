"""HTTP monitoring + key-query façade — goka's web/ surface.

Mirrors the reference's built-in monitor and query servers
(web/monitor/monitoring.go:33-69 NewServer/AttachProcessor/AttachView,
web/query/query.go:56-113 AttachSource + ``/{name}/{key}`` lookup,
examples/8-monitoring) as JSON-over-HTTP on the stdlib http.server —
no web framework dependency, runs in-process next to the driver.

Endpoints:
- ``GET /``                      index: attached processors + sources
- ``GET /data/processor/{name}`` processor stats (stats.py)
- ``GET /query/{name}/{key}``    point lookup through a View getter
- ``GET /ui`` / ``GET /ui/processor/{name}``  human-facing HTML pages
  rendered server-side from the same data (the reference renders
  web/templates/*.go.html from monitoring.go:33; here it is a plain
  stdlib render of the identical stats dict — no framework, no JS)
- ``GET /actions``               attached actions + run state
- ``POST /actions/start/{name}`` run an action (body = value), and
  ``POST /actions/stop/{name}``  signal it to stop — the reference's
  actions surface (web/actions/server.go:47-48 startAction/stopAction,
  action.go:9 run-state tracking, actions.go:10 FuncActor): named
  actors run on a background thread with a stop signal, the server
  tracks running/started/finished/error.  ``drop-view`` is attached
  by default (detach a query source by name); streaming pause/resume
  comes from :meth:`attach_streaming_control`.

Scale note: stats are computed by ONE Spark aggregation per request on
the already-materialized result DataFrames; point queries go through
``View.get``, a dict lookup in the View's driver-local snapshot (the
first query collects the table once, later ones run no Spark job).  An
attached View therefore serves its table as of that first query; to
follow a live table, attach a getter that builds a new View per query:
``attach_source(name, lambda k: View(spark.table(t)).get(k))``.  For
serving a table too large for the driver it belongs in a
key-partitioned store — this server is the monitoring/debug surface,
same as goka's.
"""

from __future__ import annotations

import html as _html_mod
import json
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Any, Callable
from urllib.parse import unquote, urlparse

from goka_spark.operators.processor import ProcessorResult
from goka_spark.operators.view import View
from goka_spark.stats import processor_stats


class _Action:
    """One attached actor + its run state (web/actions/action.go:9):
    the actor is ``fn(value, stop_event)`` running on a daemon thread;
    start while running is rejected, stop sets the event (cooperative,
    like the reference's context cancel)."""

    def __init__(self, name: str, actor: Callable[[str, threading.Event], Any],
                 description: str = ""):
        self.name = name
        self.actor = actor
        self.description = description
        self._thread: threading.Thread | None = None
        self._stop = threading.Event()
        self._lock = threading.Lock()  # ThreadingHTTPServer: concurrent POSTs
        self.started: float | None = None
        self.finished: float | None = None
        self.error: str | None = None

    def is_running(self) -> bool:
        return self._thread is not None and self._thread.is_alive()

    def start(self, value: str) -> bool:
        with self._lock:
            return self._start_locked(value)

    def _start_locked(self, value: str) -> bool:
        if self.is_running():
            return False
        self._stop = threading.Event()
        self.started, self.finished, self.error = time.time(), None, None

        def run():
            try:
                self.actor(value, self._stop)
            except Exception as e:  # kept for /actions, never raised
                self.error = repr(e)
            finally:
                self.finished = time.time()

        self._thread = threading.Thread(target=run, daemon=True)
        self._thread.start()
        return True

    def stop(self) -> bool:
        if not self.is_running():
            return False
        self._stop.set()
        self._thread.join(timeout=10)
        return True

    def state(self) -> dict:
        return {
            "description": self.description,
            "running": self.is_running(),
            "started": self.started,
            "finished": self.finished,
            "error": self.error,
        }


class MonitorServer:
    """In-process monitor/query server (web/monitor + web/query)."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0):
        # Browser-submittable forms need CSRF protection on top of the
        # localhost-only default bind: a per-process token embedded as
        # a hidden field in every state-changing form and required on
        # the /ui/actions POST routes (the raw /actions API is for
        # non-browser clients and carries no ambient credentials).
        import secrets

        self._csrf = secrets.token_hex(16)
        self._processors: dict[str, ProcessorResult] = {}
        self._sources: dict[str, Callable[[Any], Any]] = {}
        self._views: set[str] = set()
        self._actions: dict[str, _Action] = {}
        #: name -> ViewStateTracker (streaming View lifecycle)
        self._view_states: dict[str, Any] = {}
        outer = self

        # built-in, mirroring the verdict's monitoring-parity list: a
        # drop-view action detaching a query source by name (the
        # reference ships equivalent operational actors via FuncActor)
        def _drop_view(value: str, stop: threading.Event) -> None:
            if outer._sources.pop(value, None) is None:
                raise KeyError(f"no source {value!r}")
            outer._views.discard(value)

        self.attach_action("drop-view", _drop_view,
                           "detach a query source by name")

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # quiet under pytest
                pass

            def _raw_post_allowed(self) -> bool:
                """CSRF gate for the raw /actions API (server.go:47-48).

                OWASP standard-headers check: every modern browser
                attaches ``Origin`` to a cross-origin POST (form or
                fetch) and cannot forge it, so a request whose Origin
                — or, for older browsers, Referer — names a foreign
                site is refused; the per-process token in
                ``X-CSRF-Token`` always proves a request (same-origin
                JS clients).  Non-browser clients (curl/urllib send
                neither header) keep the untouched raw-body contract,
                whatever Content-Type their library defaults to.
                Residual risk is a pre-Origin browser with a
                suppressed Referer against a loopback-bound monitor —
                accepted and documented.
                """
                if self.headers.get("X-CSRF-Token") == outer._csrf:
                    return True
                host = self.headers.get("Host") or ""
                origin = self.headers.get("Origin")
                if origin and origin not in ("null",) \
                        and origin.split("://", 1)[-1] == host:
                    return True
                if origin:          # present and NOT our host
                    return False
                referer = self.headers.get("Referer")
                if referer:
                    rhost = referer.split("://", 1)[-1].split("/", 1)[0]
                    return rhost == host
                return True

            def _json(self, obj: Any, code: int = 200) -> None:
                body = json.dumps(obj, default=str).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def _page(self, title: str, body_html: str,
                      code: int = 200) -> None:
                body = (
                    "<!doctype html><html><head><meta charset='utf-8'>"
                    f"<title>{_html_mod.escape(title)}</title>"
                    "<style>body{font-family:sans-serif;margin:2em}"
                    "table{border-collapse:collapse}"
                    "td,th{border:1px solid #999;padding:4px 10px;"
                    "text-align:left}</style></head><body>"
                    f"<h1>{_html_mod.escape(title)}</h1>{body_html}"
                    "</body></html>").encode()
                self.send_response(code)
                self.send_header("Content-Type", "text/html; charset=utf-8")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            _NAV = ("<p><a href='/ui'>index</a> | "
                    "<a href='/ui/query'>query</a> | "
                    "<a href='/ui/actions'>actions</a></p>")

            def _ui(self, parts: list[str]) -> None:
                esc = _html_mod.escape
                if len(parts) == 1:  # /ui — index page
                    procs = "".join(
                        f"<li><a href='/ui/processor/{esc(n)}'>{esc(n)}"
                        "</a></li>" for n in sorted(outer._processors))
                    views = "".join(
                        f"<li><a href='/ui/query/{esc(n)}'>{esc(n)}</a>"
                        f" — query at /query/{esc(n)}/&lt;key&gt;"
                        "</li>" for n in sorted(outer._views))
                    srcs = "".join(
                        f"<li><a href='/ui/query/{esc(n)}'>{esc(n)}</a>"
                        f" — query at /query/{esc(n)}/&lt;key&gt;"
                        "</li>" for n in sorted(outer._sources)
                        if n not in outer._views)
                    vstates = "".join(
                        f"<li><a href='/ui/view-state/{esc(n)}'>{esc(n)}"
                        "</a> — "
                        f"{esc(t.state_dict()['state'])}"
                        f"{' (recovered)' if t.state_dict()['recovered'] else ''}"
                        f" — JSON at /data/view-state/{esc(n)}</li>"
                        for n, (t, _) in sorted(outer._view_states.items()))
                    self._page(
                        "goka_spark monitor",
                        self._NAV +
                        f"<h2>Processors</h2><ul>{procs or '<li>none</li>'}"
                        f"</ul><h2>Views</h2>"
                        f"<ul>{views or '<li>none</li>'}</ul>"
                        f"<h2>View lifecycle</h2>"
                        f"<ul>{vstates or '<li>none</li>'}</ul>"
                        f"<h2>Query sources</h2>"
                        f"<ul>{srcs or '<li>none</li>'}</ul>")
                elif parts[1] == "processor" and len(parts) == 3:
                    res = outer._processors.get(parts[2])
                    if res is None:
                        self._page("unknown processor",
                                   "<p>not attached</p>", 404)
                        return
                    rows = "".join(
                        f"<tr><td>{esc(str(k))}</td>"
                        f"<td>{esc(str(v))}</td></tr>"
                        for k, v in processor_stats(res).items())
                    self._page(
                        f"processor {parts[2]}",
                        self._NAV +
                        f"<table><tr><th>stat</th><th>value</th></tr>"
                        f"{rows}</table>")
                elif parts[1] == "query":
                    self._ui_query(parts[2:])
                elif parts[1] == "actions" and len(parts) == 2:
                    self._ui_actions()
                elif parts[1] == "view-state" and len(parts) == 3:
                    pair = outer._view_states.get(parts[2])
                    if pair is None:
                        self._page("unknown view", "<p>not attached</p>",
                                   404)
                        return
                    tr, q = pair
                    body = tr.state_dict()
                    if q is not None:
                        from goka_spark.stats import view_stats
                        body.update(view_stats(tr, q))
                    rows = "".join(
                        f"<tr><td>{esc(str(k))}</td>"
                        f"<td>{esc(str(v))}</td></tr>"
                        for k, v in body.items())
                    self._page(
                        f"view {parts[2]}",
                        self._NAV +
                        f"<table><tr><th>stat</th><th>value</th></tr>"
                        f"{rows}</table>")
                else:
                    self._page("not found", "<p>no such page</p>", 404)

            def _ui_query(self, rest: list[str]) -> None:
                """Server-rendered query page — the analog of the
                reference's web/templates/query/index.go.html: pick a
                source, type a key, see the value (or an explicit
                not-found panel).  The form is plain GET navigation,
                no scripts."""
                esc = _html_mod.escape
                sources = sorted(outer._sources)
                selected = rest[0] if rest else \
                    (sources[0] if sources else None)
                if selected is not None and selected not in outer._sources:
                    self._page("unknown source", "<p>not attached</p>", 404)
                    return
                links = " | ".join(
                    f"<a href='/ui/query/{esc(n)}'>{esc(n)}</a>"
                    for n in sources)
                if selected is None:
                    self._page("query", self._NAV +
                               "<p>No sources attached — did you forget "
                               "to attach them?</p>")
                    return
                form = (
                    f"<p>Sources: {links}</p>"
                    f"<form method='get' action='/ui/query/{esc(selected)}'>"
                    f"<input name='key' required> "
                    f"<button type='submit'>Search {esc(selected)}"
                    "</button></form>")
                key = None
                q = urlparse(self.path).query
                if q:
                    from urllib.parse import parse_qs
                    key = (parse_qs(q).get("key") or [None])[0]
                elif len(rest) >= 2:
                    key = "/".join(rest[1:])   # {key:.*} in goka
                panel = ""
                if key is not None:
                    val = outer._sources[selected](key)
                    if val is None:
                        panel = (f"<hr><p><strong>{esc(key)}</strong>: "
                                 "key not found</p>")
                    else:
                        panel = (f"<hr><h3>{esc(key)}</h3><pre>"
                                 f"{esc(json.dumps(val, indent=1, default=str))}"
                                 "</pre>")
                self._page(f"query {selected}", self._NAV + form + panel)

            def _ui_actions(self) -> None:
                """Actions table with start/stop forms — the analog of
                web/templates/actions/index.go.html over the same
                POST /actions/{start,stop}/<name> endpoints the JSON
                clients use (server.go:47 startAction/stopAction)."""
                esc = _html_mod.escape
                tok = ("<input type='hidden' name='_csrf' "
                       f"value='{outer._csrf}'>")
                rows = []
                for n, a in sorted(outer._actions.items()):
                    st = a.state()
                    if st["running"]:
                        ctl = (f"<form method='post' "
                               f"action='/ui/actions/stop/{esc(n)}'>{tok}"
                               "<button type='submit'>Stop</button></form>")
                    else:
                        ctl = (f"<form method='post' "
                               f"action='/ui/actions/start/{esc(n)}'>{tok}"
                               "<input name='value' "
                               "placeholder='optional value'> "
                               "<button type='submit'>Start</button></form>")
                    rows.append(
                        f"<tr><td>{esc(n)}<br><small>"
                        f"{esc(st['description'] or '')}</small></td>"
                        f"<td>{'running' if st['running'] else 'not running'}"
                        f"</td><td>Started: {esc(str(st['started']))}<br>"
                        f"Finished: {esc(str(st['finished']))}</td>"
                        f"<td>{esc(str(st['error'] or ''))}</td>"
                        f"<td>{ctl}</td></tr>")
                self._page(
                    "actions",
                    self._NAV +
                    "<table><tr><th>Action</th><th>Status</th>"
                    "<th>Started/Finished</th><th>Error</th><th></th></tr>"
                    + "".join(rows) + "</table>")

            def do_GET(self) -> None:
                path = urlparse(self.path).path
                parts = [unquote(p) for p in path.split("/") if p]
                try:
                    if not parts:
                        # browsers get the HTML index (the reference's
                        # monitor root renders index.go.html); API
                        # clients keep the JSON contract
                        accept = self.headers.get("Accept", "")
                        if "text/html" in accept:
                            self._ui(["ui"])
                        else:
                            self._json({
                                "processors": sorted(outer._processors),
                                "sources": sorted(outer._sources),
                                "views": sorted(outer._views),
                            })
                    elif (parts[:2] == ["data", "view-state"]
                          and len(parts) == 3):
                        pair = outer._view_states.get(parts[2])
                        if pair is None:
                            self._json({"error": "unknown view"}, 404)
                        else:
                            tr, q = pair
                            body = tr.state_dict()
                            if q is not None:
                                from goka_spark.stats import view_stats
                                body.update(view_stats(tr, q))
                            self._json(body)
                    elif parts == ["data", "view-state"]:
                        self._json({n: t.state_dict() for n, (t, _) in
                                    sorted(outer._view_states.items())})
                    elif parts[:2] == ["data", "processor"] and len(parts) == 3:
                        res = outer._processors.get(parts[2])
                        if res is None:
                            self._json({"error": "unknown processor"}, 404)
                        else:
                            self._json(processor_stats(res))
                    elif parts[0] == "ui":
                        self._ui(parts)
                    elif parts == ["actions"]:
                        self._json({n: a.state() for n, a in
                                    sorted(outer._actions.items())})
                    elif parts[0] == "query" and len(parts) >= 3:
                        getter = outer._sources.get(parts[1])
                        if getter is None:
                            self._json({"error": "unknown source"}, 404)
                        else:
                            key = "/".join(parts[2:])  # {key:.*} in goka
                            val = getter(key)
                            if val is None:
                                self._json({"error": "key not found"}, 404)
                            else:
                                self._json({"key": key, "value": val})
                    else:
                        self._json({"error": "not found"}, 404)
                except Exception as e:  # surface, don't kill the server
                    self._json({"error": repr(e)}, 500)

            def do_POST(self) -> None:
                path = urlparse(self.path).path
                parts = [unquote(p) for p in path.split("/") if p]
                try:
                    # the /ui/actions forms post urlencoded `value=`
                    # to their own route and navigate back; the
                    # /actions/... API contract (raw body = value,
                    # JSON reply) is untouched
                    is_form = (len(parts) == 4 and parts[0] == "ui"
                               and parts[1] == "actions"
                               and parts[2] in ("start", "stop"))
                    form = {}
                    if is_form:
                        parts = parts[1:]
                        from urllib.parse import parse_qs

                        n = int(self.headers.get("Content-Length") or 0)
                        body = self.rfile.read(n).decode() if n else ""
                        form = {k: v[0] for k, v in parse_qs(body).items()}
                        if form.get("_csrf") != outer._csrf:
                            self._page("forbidden",
                                       "<p>missing or stale CSRF token — "
                                       "reload <a href='/ui/actions'>the "
                                       "actions page</a></p>", 403)
                            return
                    if (len(parts) == 3 and parts[0] == "actions"
                            and parts[1] in ("start", "stop")):
                        if not is_form and not self._raw_post_allowed():
                            self._json({"error": "cross-site request "
                                        "rejected: form content-types "
                                        "need the CSRF token (header "
                                        "X-CSRF-Token) on /actions"}, 403)
                            return
                        act = outer._actions.get(parts[2])
                        if act is None:
                            self._json({"error": "unknown action"}, 404)
                            return
                        if parts[1] == "start":
                            if is_form:
                                value = form.get("value", "")
                            else:
                                n = int(self.headers.get("Content-Length")
                                        or 0)
                                value = (self.rfile.read(n).decode()
                                         if n else "")
                            ok = act.start(value)
                            msg = None if ok else "action already running"
                        else:
                            ok = act.stop()
                            msg = None if ok else "action is not running"
                        if is_form:
                            self.send_response(303)
                            self.send_header("Location", "/ui/actions")
                            self.send_header("Content-Length", "0")
                            self.end_headers()
                            return
                        self._json({"action": parts[2], "ok": ok,
                                    **({"error": msg} if msg else {})},
                                   200 if ok else 409)
                    else:
                        self._json({"error": "not found"}, 404)
                except Exception as e:
                    self._json({"error": repr(e)}, 500)

        self._httpd = ThreadingHTTPServer((host, port), Handler)
        self._thread: threading.Thread | None = None

    # -- attachment (monitoring.go:62 AttachProcessor / query.go:103
    #    AttachSource) --------------------------------------------------
    def attach_processor(self, name: str, result: ProcessorResult) -> None:
        self._processors[name] = result

    def attach_view(self, name: str, view: View) -> None:
        """A View is both a monitorable source and a query getter; it
        serves its snapshot (see :mod:`goka_spark.operators.view`)."""
        self._sources[name] = view.get
        self._views.add(name)

    def attach_source(self, name: str, getter: Callable[[Any], Any]) -> None:
        self._sources[name] = getter

    def attach_view_state(self, name: str, tracker: Any,
                          query: Any = None) -> None:
        """Surface a streaming View's lifecycle (reference
        view.go:449 CurrentState / :475 ObserveStateChanges) — GET
        ``/data/view-state/{name}`` returns
        ``{"state": "Running", "state_id": 4, "recovered": true}``,
        the health-check/metrics polling shape the Go API documents
        for CurrentState.  Pass the live StreamingQuery too and the
        endpoint adds the View.Stats analog (stats.view_stats:
        input rows/rates/batch timing from query progress)."""
        self._view_states[name] = (tracker, query)

    def attach_action(self, name: str,
                      actor: Callable[[str, threading.Event], Any],
                      description: str = "") -> None:
        """Named operational actor (web/actions/server.go:112
        AttachAction): ``actor(value, stop_event)`` runs on a daemon
        thread per ``POST /actions/start/{name}``; it should poll or
        wait on ``stop_event`` if long-running."""
        if name in self._actions:
            raise ValueError(f"action {name!r} already attached")
        self._actions[name] = _Action(name, actor, description)

    def attach_streaming_control(self, name: str,
                                 start_fn: Callable[[], Any]) -> None:
        """Pause/resume for a Structured Streaming query: ``POST
        /actions/start/{name}`` launches ``start_fn()`` (returning a
        StreamingQuery) and holds it until ``POST
        /actions/stop/{name}``, which stops the query — the Spark
        shape of the reference's processor pause/resume actors (a
        stopped streaming query resumes from its checkpoint, exactly
        like a goka processor rejoining its group)."""
        def actor(value: str, stop: threading.Event) -> None:
            q = start_fn()
            try:
                stop.wait()
            finally:
                q.stop()

        self.attach_action(name, actor, "streaming pause/resume control")

    # -- lifecycle ------------------------------------------------------
    @property
    def address(self) -> str:
        host, port = self._httpd.server_address[:2]
        return f"http://{host}:{port}"

    def start(self) -> "MonitorServer":
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        if self._thread:
            self._thread.join(timeout=5)
