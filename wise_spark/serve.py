"""HTTP serving surface: /search and /media/{id} over a built index.

Stdlib-only (http.server) wrapper mirroring the reference API's contracts:

  * GET /search?q=...&start=&end=   — reference /root/reference/api/routes.py:
    1210-1254: 400 on a missing query or start > end, 403 when a query
    exactly matches the blocklist, paging bounds 0 <= start <= 980,
    0 < end <= 1000, `end` clamped to the corpus size; JSON body per query
    with (doc_id, rank, score) plus hydrated metadata columns.
  * GET/HEAD /media/{media_id}      — reference routes.py:142-241: images as
    whole-file responses; video/audio with `Accept-Ranges: bytes` and RFC
    7233 single-range requests (206 + Content-Range, 416 on an unsatisfiable
    range — parse parity with routes.py:78-94), streamed in 10 kB chunks
    (routes.py:64-75); 404 text/plain when the id or file is missing.

Scale shape: concurrent /search requests share their scoring. Requests
that arrive while a batch is being scored queue up, and the next free
request thread scores all of them with ONE `FtsIndex.topk_many` call
(group commit: no batching window, no extra thread; a lone request runs at
once). On an index loaded with cache=True (and under its pin guard) that
call scores the segments pinned in driver memory and runs no Spark job;
otherwise it is one segments scan. Each request then ranks and slices its
own <= 1000-hit list on the driver and hydrates it with
`FtsIndex.doc_rows`: a driver-side pyarrow read of only the doc_id-sorted
doc_map row groups that hold its hits, no Spark job. So a warm request on
a pinned index runs no Spark job at all. A media request is a single point
lookup + file stream. The Spark wiring lives in `spark_search_fn` /
`parquet_media_resolver`; the HTTP mechanics take plain callables so they
are testable without a SparkSession.
"""

from __future__ import annotations

import json
import os
import threading
from dataclasses import dataclass
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import BinaryIO, Callable, Iterator
from urllib.parse import parse_qs, urlparse

from .query.search import MAX_PAGE_END, MAX_PAGE_START

CHUNK_SIZE = 10_000  # reference routes.py:65 (chunk_size=10_000)

# media_type -> served content-type family. The reference maps AUDIO to
# "audio/<format>" and both VIDEO and AV to the fixed "video/mp4"
# (routes.py:181), images to "image/<format>" (routes.py:222).
_STREAMED_TYPES = {"video", "av", "audio"}


class RangeNotSatisfiable(Exception):
    """Maps to HTTP 416 (reference routes.py:79-83)."""


def parse_range_header(range_header: str, file_size: int) -> tuple[int, int]:
    """RFC 7233 single-range parse, inclusive bounds (parse shape per the
    reference's _get_range_header, routes.py:78-94): empty end means
    file_size-1, anything non-numeric / start>end / out of bounds raises.

    INTENTIONAL divergence from the reference: 'bytes=-N' is an RFC 7233
    §2.1 suffix range (the LAST N bytes) — the reference serves it as bytes
    [0, N], which corrupts players that probe a container's trailer (e.g.
    the mp4 moov atom) with a suffix request. 'bytes=-' (both empty) keeps
    the reference's whole-file reading."""
    try:
        h = range_header.replace("bytes=", "").split("-")
        if len(h) != 2:
            raise RangeNotSatisfiable(range_header)
        if h[0] == "" and h[1] != "":
            n = int(h[1])          # suffix form: last n bytes
            if n <= 0:
                raise RangeNotSatisfiable(range_header)
            start, end = max(0, file_size - n), file_size - 1
        else:
            start = int(h[0]) if h[0] != "" else 0
            end = int(h[1]) if h[1] != "" else file_size - 1
    except ValueError:
        raise RangeNotSatisfiable(range_header) from None
    if start > end or start < 0 or end > file_size - 1:
        raise RangeNotSatisfiable(range_header)
    return start, end


def iter_byte_range(
    file_obj: BinaryIO, start: int, end: int, chunk_size: int = CHUNK_SIZE
) -> Iterator[bytes]:
    """Yield [start, end] (inclusive) in chunks (reference routes.py:64-75)."""
    with file_obj as f:
        f.seek(start)
        while f.tell() <= end:
            chunk = f.read(min(chunk_size, end + 1 - f.tell()))
            if not chunk:  # truncated file: EOF before `end`, stop streaming
                return
            yield chunk


@dataclass(frozen=True)
class MediaMeta:
    """Resolver result for one media id (reference MediaRepo row analog)."""

    path: str          # absolute path on the serving host
    media_type: str    # image | video | av | audio
    format: str        # jpeg, mp4, wav, ...

    @property
    def content_type(self) -> str:
        if self.media_type == "audio":
            return f"audio/{self.format}"
        if self.media_type in ("video", "av"):
            return "video/mp4"  # reference routes.py:181 serves video as mp4
        return f"image/{self.format.lower()}"


# search_fn(query, start, end) -> list of result dicts (already paged).
SearchFn = Callable[[str, int, int], list[dict]]
# media_resolver(media_id) -> MediaMeta | None
MediaResolver = Callable[[int], "MediaMeta | None"]


@dataclass
class _Request:
    query: str
    end: int
    hits: list[tuple[int, float]] | None = None
    error: BaseException | None = None
    done: bool = False


class _GroupCommit:
    """Top-`end` (doc_id, score) lists for concurrent requests, scored in
    shared `topk_many` calls.

    A request joins the pending list. If no batch is in flight, its own
    thread takes every pending request, scores their distinct queries in
    one call with k = the largest `end`, then frees the slot and wakes the
    waiters. Requests arriving meanwhile wait and form the next batch. A
    failure of the shared call is raised in every request of its batch."""

    def __init__(self, index):
        self._index = index
        self._cond = threading.Condition()
        self._pending: list[_Request] = []
        self._in_flight = False

    def __call__(self, query: str, end: int) -> list[tuple[int, float]]:
        req = _Request(query, end)
        with self._cond:
            self._pending.append(req)
            while self._in_flight and not req.done:
                self._cond.wait()
            lead = not req.done
            if lead:
                batch, self._pending = self._pending, []
                self._in_flight = True
        if lead:
            self._commit(batch)
        if req.error is not None:
            raise req.error
        return req.hits

    def _commit(self, batch: list[_Request]) -> None:
        try:
            hits = self._index.topk_many(
                list(dict.fromkeys(r.query for r in batch)),
                k=max(r.end for r in batch), mode="any", method="wand")
            for r in batch:
                r.hits = hits[r.query]
        except BaseException as e:
            for r in batch:
                r.error = e
        finally:
            with self._cond:
                for r in batch:
                    r.done = True
                self._in_flight = False
                self._cond.notify_all()


def spark_search_fn(index, hydrate: bool = True) -> SearchFn:
    """Serving adapter over FtsIndex: WAND top-`end` by group commit (see
    _GroupCommit), then, per request and outside the shared slot, rank =
    position in the ordered list, the [start, end) slice (the contract of
    `ranked()`/`page()`), and optional doc_map hydration by
    `index.doc_rows` — a pruned pyarrow read on the driver. So a request's
    only possible Spark job is its batch's segments scan, and an index
    loaded with cache=True (segments pinned on the driver) runs none.
    Rows equal `hydrate(page(...))`'s. Every list here is <= `end`
    (<= 1000) hits."""
    top = _GroupCommit(index)

    def run(query: str, start: int, end: int) -> list[dict]:
        hits = [{"doc_id": d, "score": s, "rank": start + i}
                for i, (d, s) in enumerate(top(query, end)[start:end])]
        if not hydrate or not hits:
            return hits
        meta = index.doc_rows([h["doc_id"] for h in hits])
        # inner-join semantics, as hydrate(): a hit without metadata drops
        return [{**meta[h["doc_id"]], "score": h["score"], "rank": h["rank"]}
                for h in hits if h["doc_id"] in meta]

    return run


def parquet_media_resolver(spark, media_parquet: str,
                           location: str) -> MediaResolver:
    """Point lookup into a (media_id, path, media_type, format) parquet —
    the reference's MediaRepo.get + SourceCollectionRepo.get join
    (routes.py:156-174). The equality predicate is pushed into the scan, so
    a media_id-sorted table serves this with one row-group read."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(media_parquet)

    def resolve(media_id: int) -> MediaMeta | None:
        rows = df.filter(F.col("media_id") == media_id).limit(1).collect()
        if not rows:
            return None
        r = rows[0]
        return MediaMeta(path=os.path.join(location, r["path"]),
                         media_type=r["media_type"], format=r["format"])

    return resolve


class _Handler(BaseHTTPRequestHandler):
    # injected by SearchServer
    search_fn: SearchFn
    media_resolver: MediaResolver
    blocklist: set[str]
    corpus_size: int | None

    protocol_version = "HTTP/1.1"
    # TCP_NODELAY: a response goes out as two writes (headers, then body),
    # and with Nagle's algorithm the body waits for the client's delayed
    # ACK of the headers, ~40 ms on every keep-alive request
    disable_nagle_algorithm = True

    def log_message(self, fmt: str, *args) -> None:  # quiet test output
        pass

    # -- helpers -------------------------------------------------------------

    def _send(self, code: int, body: bytes, content_type: str,
              extra: dict[str, str] | None = None, head_only: bool = False,
              body_iter: Iterator[bytes] | None = None,
              content_length: int | None = None) -> None:
        declared = content_length if content_length is not None else len(body)
        self._responded = True
        self.send_response(code)
        self.send_header("content-type", content_type)
        self.send_header("content-length", str(declared))
        for k, v in (extra or {}).items():
            self.send_header(k, v)
        self.end_headers()
        # a HEAD response must never carry a body, whichever route produced
        # it — on HTTP/1.1 keep-alive an unexpected body desyncs the client,
        # which parses those bytes as the start of the NEXT response
        if head_only or self.command == "HEAD":
            return
        if body_iter is not None:
            sent = 0
            for chunk in body_iter:
                self.wfile.write(chunk)
                sent += len(chunk)
            if sent != declared:
                # file truncated between stat and stream: we under-delivered
                # vs the declared content-length, so this connection cannot
                # be reused — close it instead of leaving the client waiting
                self.close_connection = True
        else:
            self.wfile.write(body)

    def _json(self, code: int, obj) -> None:
        self._send(code, json.dumps(obj).encode(), "application/json")

    def _plain(self, code: int, text: str) -> None:
        self._send(code, text.encode(), "text/plain")

    # -- routes --------------------------------------------------------------

    def do_GET(self) -> None:  # noqa: N802 (stdlib handler contract)
        self._route(head_only=False)

    def do_HEAD(self) -> None:  # noqa: N802
        self._route(head_only=True)

    def _route(self, head_only: bool) -> None:
        url = urlparse(self.path)
        self._responded = False
        try:
            if url.path == "/search":
                self._handle_search(url)
            elif url.path.startswith("/media/"):
                self._handle_media(url, head_only)
            else:
                self._plain(404, "not found")
        except BrokenPipeError:
            raise   # client went away mid-response: nothing left to send
        except Exception:
            # a failing search_fn/media_resolver (executor lost, index file
            # deleted, Py4J error) must answer HTTP 500, not abort the
            # connection with no status line (client sees ECONNRESET)
            import logging

            logging.getLogger(__name__).exception("request handler failed")
            if self._responded:
                # headers already on the wire: a second status line would
                # desync the keep-alive stream — just drop the connection
                self.close_connection = True
            else:
                try:
                    self._plain(500, "internal server error")
                except Exception:
                    self.close_connection = True

    def _handle_search(self, url) -> None:
        qs = parse_qs(url.query)
        queries = qs.get("q", [])
        try:
            start = int(qs.get("start", ["0"])[0])
            end = int(qs.get("end", ["20"])[0])
        except ValueError:
            self._json(400, {"message": "start/end must be integers"})
            return
        # reference routes.py:1218-1225 validation order: missing q -> 400,
        # end clamped to corpus size, start>end -> 400, blocklist -> 403
        if not queries:
            self._json(400, {"message": "Missing search query"})
            return
        if not (0 <= start <= MAX_PAGE_START and 0 < end <= MAX_PAGE_END):
            self._json(400, {"message": "start/end out of bounds"})
            return
        if self.corpus_size is not None:
            end = min(end, self.corpus_size)
        if start > end:
            self._json(400, {"message": "'start' cannot be greater than 'end'"})
            return
        for query in queries:
            if query.strip() in self.blocklist:
                message = (
                    "One of the search terms you entered has been blocked"
                    if len(queries) > 1
                    else "The search term you entered has been blocked"
                )
                self._json(403, {"message": message})
                return
        if end == 0:
            # an empty corpus clamped end to 0, so every page is empty:
            # answer each query with [] and start no Spark job for it
            self._json(200, {"results": {q: [] for q in queries}})
            return
        results = {q: self.search_fn(q, start, max(start, end))
                   for q in queries}
        self._json(200, {"results": results})

    def _handle_media(self, url, head_only: bool) -> None:
        try:
            media_id = int(url.path[len("/media/"):])
        except ValueError:
            self._plain(404, "not found")
            return
        meta = self.media_resolver(media_id)
        if meta is None or not os.path.isfile(meta.path):
            self._plain(404, f"{media_id} not found!")
            return
        file_size = os.path.getsize(meta.path)
        if meta.media_type not in _STREAMED_TYPES:
            # image: whole-file response (reference FileResponse). Declare
            # content-length from the bytes actually read, not the earlier
            # stat — a file truncated/replaced between the two would desync
            # the keep-alive stream (the streamed path guards the same way)
            if head_only:   # no body to desync: the stat size is fine
                self._send(200, b"", meta.content_type, head_only=True,
                           content_length=file_size)
                return
            with open(meta.path, "rb") as f:
                body = f.read()
            self._send(200, body, meta.content_type, content_length=len(body))
            return
        headers = {
            "accept-ranges": "bytes",
            "content-encoding": "identity",
            "access-control-expose-headers": (
                "content-type, accept-ranges, content-length, "
                "content-range, content-encoding"
            ),
        }
        start, end, code = 0, file_size - 1, 200
        range_header = self.headers.get("range")
        if range_header is not None:
            try:
                start, end = parse_range_header(range_header, file_size)
            except RangeNotSatisfiable:
                self._plain(416, f"Invalid request range ({range_header!r})")
                return
            headers["content-range"] = f"bytes {start}-{end}/{file_size}"
            code = 206
        self._send(
            code, b"", meta.content_type, extra=headers, head_only=head_only,
            body_iter=None if head_only
            else iter_byte_range(open(meta.path, "rb"), start, end),
            content_length=end - start + 1,
        )


class SearchServer:
    """Threaded HTTP server around (search_fn, media_resolver).

    >>> srv = SearchServer(search_fn, media_resolver, blocklist={"bad"})
    >>> port = srv.start()           # ephemeral port, background thread
    >>> ...
    >>> srv.stop()
    """

    def __init__(self, search_fn: SearchFn,
                 media_resolver: MediaResolver | None = None,
                 blocklist: set[str] | None = None,
                 corpus_size: int | None = None,
                 host: str = "127.0.0.1", port: int = 0):
        handler = type("BoundHandler", (_Handler,), {
            "search_fn": staticmethod(search_fn),
            "media_resolver": staticmethod(media_resolver
                                           or (lambda _id: None)),
            "blocklist": blocklist or set(),
            "corpus_size": corpus_size,
        })
        self._httpd = ThreadingHTTPServer((host, port), handler)
        self._thread: threading.Thread | None = None

    @property
    def port(self) -> int:
        return self._httpd.server_address[1]

    def start(self) -> int:
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True)
        self._thread.start()
        return self.port

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        if self._thread:
            self._thread.join(timeout=5)
