"""HTTP façade over :func:`statschat_ke_spark.api.search` — the reference's
FastAPI entry point (/root/reference/fast-api/main_api_cloud.py:62-151)
re-expressed on the stdlib (no fastapi in this environment): a plain WSGI
callable plus a ``wsgiref`` dev server. Endpoint parity:

- ``GET /``          → API self-description JSON (the reference redirects to
                       /openapi.json; without fastapi we return the doc
                       inline — documented divergence)
- ``GET /search``    → ``q`` (required, 422 when empty after escaping),
                       ``content_type`` in {latest, all} (unknown values
                       fall back to "latest", main_api_cloud.py:100-105);
                       response {question, content_type, latest_weight,
                       references} — the LLM ``answer`` field is excluded
                       by design (SURVEY.md §2.8)
- ``POST /feedback`` → 202 + empty body; requires ``rating`` (str|int,
                       422 otherwise); appended as a JSON line to the
                       feedback log (S13 sink analog of the reference's
                       logger.info at main_api_cloud.py:149)

The app is deliberately thin: every engine behavior it exposes lives in
``api.search`` / the operators and is tested there; these ~100 lines are
routing + status codes, testable by calling the WSGI app directly.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import threading
from typing import Callable, Iterable
from urllib.parse import parse_qs

from pyspark.sql import DataFrame, SparkSession


def _json_default(o):
    if isinstance(o, (dt.date, dt.datetime)):
        return o.isoformat()
    raise TypeError(f"not JSON serializable: {type(o)!r}")


DEFAULT_FEEDBACK_MAX_BYTES = 64 << 20

# Serializes the check-then-rename in rotation: without it two writers can
# both observe size >= cap and both os.replace, the second clobbering the
# generation the first just rotated aside (a full 64 MB of feedback lost).
# In-process lock — the threaded WSGI server is the supported concurrency;
# multi-PROCESS writers would need an flock on a sidecar lockfile instead.
_FEEDBACK_LOCK = threading.Lock()


def _append_feedback_line(path: str, line: str, max_bytes: int) -> None:
    """Durable JSON-line append: O_APPEND single-write (atomic interleaving
    between concurrent writers on POSIX) + fsync, with size-based rotation —
    at ``max_bytes`` the live file is renamed to ``path + ".1"`` (one rotated
    generation kept; swap this hook for shipping/compression in production)."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with _FEEDBACK_LOCK:
        try:
            if max_bytes and os.path.getsize(path) >= max_bytes:
                os.replace(path, path + ".1")
        except OSError:
            pass  # no live file yet
        fd = os.open(path, os.O_APPEND | os.O_CREAT | os.O_WRONLY, 0o644)
        try:
            os.write(fd, line.encode("utf-8"))
            os.fsync(fd)
        finally:
            os.close(fd)


class StatsChatApp:
    """WSGI application wrapping one (SparkSession, index_dir) pair."""

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        *,
        metadata: DataFrame | None = None,
        feedback_path: str | None = None,
        feedback_max_bytes: int = DEFAULT_FEEDBACK_MAX_BYTES,
        **search_kwargs,
    ) -> None:
        self.spark = spark
        self.index_dir = index_dir
        self.metadata = metadata
        self.feedback_path = feedback_path
        self.feedback_max_bytes = feedback_max_bytes
        self.search_kwargs = search_kwargs

    # ---- WSGI plumbing ----

    def __call__(self, environ: dict, start_response: Callable) -> Iterable[bytes]:
        method = environ.get("REQUEST_METHOD", "GET")
        path = environ.get("PATH_INFO", "/")
        try:
            if method == "GET" and path == "/":
                return self._respond(start_response, "200 OK", self._about())
            if method == "GET" and path == "/search":
                return self._search(environ, start_response)
            if method == "POST" and path == "/feedback":
                return self._feedback(environ, start_response)
            if method == "POST" and path == "/delete":
                return self._delete(environ, start_response)
            return self._respond(
                start_response, "404 Not Found", {"detail": "Not Found"}
            )
        except Exception as e:  # engine errors surface as 500, not a hang
            return self._respond(
                start_response,
                "500 Internal Server Error",
                {"detail": f"{type(e).__name__}: {e}"},
            )

    def _respond(
        self, start_response: Callable, status: str, body: dict | str
    ) -> list[bytes]:
        if body == "":
            start_response(status, [("Content-Length", "0")])
            return [b""]
        payload = json.dumps(body, default=_json_default).encode("utf-8")
        start_response(
            status,
            [
                ("Content-Type", "application/json"),
                ("Content-Length", str(len(payload))),
            ],
        )
        return [payload]

    # ---- endpoints ----

    def _about(self) -> dict:
        return {
            "title": "StatsChat-KE Spark search API",
            "endpoints": {
                "GET /search": "q (required), content_type=latest|all",
                "POST /feedback": "rating (required), rating_comment, "
                "question, content_type, answer",
                "POST /delete": '{"urls": [...]} — tombstone documents '
                "(takedown); terminal per url, idempotent",
            },
        }

    def _search(self, environ: dict, start_response: Callable) -> list[bytes]:
        qs = parse_qs(environ.get("QUERY_STRING", ""))
        question = (qs.get("q", [""])[0] or "").strip()
        if question in ("", "None"):
            # main_api_cloud.py:97-99 — 422 on empty questions
            return self._respond(
                start_response,
                "422 Unprocessable Entity",
                {"detail": "Empty question"},
            )
        content_type = qs.get("content_type", ["latest"])[0]
        if content_type not in ("latest", "all"):
            # main_api_cloud.py:101-103 — unknown type falls back to latest
            content_type = "latest"
        if content_type == "latest" and (
            self.metadata is None or "latest" not in self.metadata.columns
        ):
            # Latest filtering needs a metadata 'latest' column; without it
            # the response must not CLAIM a filter that never ran — fall
            # back to content_type="all" so the echoed field is honest.
            content_type = "all"
        from statschat_ke_spark.api import search

        result = search(
            self.spark,
            self.index_dir,
            question,
            metadata=self.metadata,
            latest_only=content_type == "latest",
            **self.search_kwargs,
        )
        result["content_type"] = content_type
        return self._respond(start_response, "200 OK", result)

    def _feedback(self, environ: dict, start_response: Callable) -> list[bytes]:
        try:
            length = int(environ.get("CONTENT_LENGTH") or 0)
            body = json.loads(environ["wsgi.input"].read(length) or b"{}")
        except (ValueError, KeyError):
            body = None
        rating = body.get("rating") if isinstance(body, dict) else None
        if not isinstance(rating, (str, int)) or isinstance(rating, bool):
            # pydantic's required-field validation → 422
            return self._respond(
                start_response,
                "422 Unprocessable Entity",
                {"detail": "field required: rating (str or int)"},
            )
        record = {
            k: body.get(k)
            for k in ("rating", "rating_comment", "question", "content_type", "answer")
            if k in body
        }
        if self.feedback_path:
            _append_feedback_line(
                self.feedback_path,
                json.dumps(record, default=_json_default) + "\n",
                self.feedback_max_bytes,
            )
        # main_api_cloud.py:138-151 — 202, empty body
        return self._respond(start_response, "202 Accepted", "")

    def _delete(self, environ: dict, start_response: Callable) -> list[bytes]:
        """Tombstone documents by url (index.build.delete_docs). The next
        /search automatically serves the new snapshot — topk re-reads the
        commit marker per query. A concurrent writer (in-process
        thread or foreign pid) maps to 409 Conflict rather than corrupting;
        the engine call itself is idempotent and terminal per url."""
        from statschat_ke_spark.index.build import WriterConflict, delete_docs

        try:
            length = int(environ.get("CONTENT_LENGTH") or 0)
            body = json.loads(environ["wsgi.input"].read(length) or b"{}")
        except (ValueError, KeyError):
            body = None
        urls = body.get("urls") if isinstance(body, dict) else None
        if (
            not isinstance(urls, list)
            or not urls
            or not all(isinstance(u, str) and u for u in urls)
        ):
            return self._respond(
                start_response,
                "422 Unprocessable Entity",
                {"detail": "field required: urls (non-empty list of str)"},
            )
        try:
            res = delete_docs(self.spark, self.index_dir, urls)
        except WriterConflict as e:
            return self._respond(
                start_response, "409 Conflict", {"detail": str(e)}
            )
        return self._respond(
            start_response,
            "200 OK",
            {
                "deleted": res.n_deleted,
                "n_docs": res.n_docs,
                "already_deleted_or_unknown": len(set(urls)) - res.n_deleted,
            },
        )


def serve(app: StatsChatApp, host: str = "127.0.0.1", port: int = 8000) -> None:
    """Blocking dev server (the reference runs uvicorn; wsgiref is the
    stdlib stand-in — swap for any WSGI server in production)."""
    from wsgiref.simple_server import make_server

    with make_server(host, port, app) as httpd:
        httpd.serve_forever()
