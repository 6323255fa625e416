"""HTTP serving surface: /search contract + /media byte-range (RFC 7233).

Spark-free: the HTTP mechanics take plain callables, so these tests drive a
real socket server against fake search/resolver functions. Reference
contracts under test: /root/reference/api/routes.py:64-94 (range parse +
chunked stream), 142-241 (media serving), 1210-1254 (search validation)."""

from __future__ import annotations

import json
import sys
import threading
import time

import pandas as pd
import urllib.error
import urllib.request

import pytest

from wise_spark.serve import (
    MediaMeta,
    RangeNotSatisfiable,
    SearchServer,
    iter_byte_range,
    parse_range_header,
    spark_search_fn,
)

PAYLOAD = bytes(range(256)) * 40  # 10,240 bytes -> exercises 2 chunks


def fake_search(query: str, start: int, end: int) -> list[dict]:
    hits = [{"doc_id": i, "rank": i, "score": 1.0 / (i + 1)}
            for i in range(min(end, 30))]
    return [h for h in hits if h["rank"] >= start]


@pytest.fixture(scope="module")
def server(tmp_path_factory):
    d = tmp_path_factory.mktemp("media")
    (d / "clip.mp4").write_bytes(PAYLOAD)
    (d / "pic.jpg").write_bytes(b"JPEGDATA")

    def resolver(media_id: int) -> MediaMeta | None:
        return {
            1: MediaMeta(str(d / "clip.mp4"), "video", "mp4"),
            2: MediaMeta(str(d / "pic.jpg"), "image", "JPEG"),
            3: MediaMeta(str(d / "gone.mp4"), "video", "mp4"),  # no file
        }.get(media_id)

    srv = SearchServer(fake_search, resolver, blocklist={"blocked term"},
                       corpus_size=30)
    port = srv.start()
    yield f"http://127.0.0.1:{port}"
    srv.stop()


def get(url: str, headers: dict | None = None, method: str = "GET"):
    req = urllib.request.Request(url, headers=headers or {}, method=method)
    try:
        with urllib.request.urlopen(req, timeout=10) as r:
            return r.status, dict(r.headers), r.read()
    except urllib.error.HTTPError as e:
        return e.code, dict(e.headers), e.read()


# -- range parsing (parity with reference routes.py:78-94) -------------------

@pytest.mark.parametrize("hdr,size,expect", [
    ("bytes=0-99", 1000, (0, 99)),
    ("bytes=100-", 1000, (100, 999)),
    ("bytes=-", 1000, (0, 999)),
    ("bytes=0-999", 1000, (0, 999)),
    # RFC 7233 §2.1 suffix ranges: the LAST n bytes (intentional divergence
    # from the reference, which serves bytes [0, n] for these)
    ("bytes=-512", 1000, (488, 999)),
    ("bytes=-1", 1000, (999, 999)),
    ("bytes=-2000", 1000, (0, 999)),   # suffix longer than file -> whole file
])
def test_parse_range_ok(hdr, size, expect):
    assert parse_range_header(hdr, size) == expect


@pytest.mark.parametrize("hdr", ["bytes=5-2", "bytes=x-", "bytes=0-1000",
                                 "bytes=abc-2", "bytes=-0",
                                 # not exactly one dash -> 416, not a crash
                                 "bytes=1-2-3", "bytes=", "bytes=100"])
def test_parse_range_invalid(hdr):
    with pytest.raises(RangeNotSatisfiable):
        parse_range_header(hdr, 1000)


def test_iter_byte_range_chunks():
    import io
    out = list(iter_byte_range(io.BytesIO(PAYLOAD), 5, 10_004, chunk_size=4096))
    assert b"".join(out) == PAYLOAD[5:10_005]
    assert [len(c) for c in out] == [4096, 4096, 1808]


def test_iter_byte_range_truncated_file_stops_at_eof():
    # file shorter than the requested range (truncated after stat):
    # the iterator must terminate at EOF, not spin yielding b'' forever
    import io
    out = list(iter_byte_range(io.BytesIO(PAYLOAD[:100]), 0, 999,
                               chunk_size=64))
    assert b"".join(out) == PAYLOAD[:100]


# -- /media ------------------------------------------------------------------

def test_media_full_video(server):
    status, headers, body = get(f"{server}/media/1")
    assert status == 200
    assert body == PAYLOAD
    assert headers["accept-ranges"] == "bytes"
    assert headers["content-type"] == "video/mp4"
    assert int(headers["content-length"]) == len(PAYLOAD)


def test_media_byte_range_206(server):
    status, headers, body = get(f"{server}/media/1",
                                {"Range": "bytes=100-299"})
    assert status == 206
    assert body == PAYLOAD[100:300]
    assert headers["content-range"] == f"bytes 100-299/{len(PAYLOAD)}"
    assert int(headers["content-length"]) == 200


def test_media_open_ended_range(server):
    status, _, body = get(f"{server}/media/1", {"Range": "bytes=10200-"})
    assert status == 206
    assert body == PAYLOAD[10200:]


def test_media_range_unsatisfiable_416(server):
    status, _, _ = get(f"{server}/media/1",
                       {"Range": f"bytes=0-{len(PAYLOAD)}"})
    assert status == 416


def test_media_image_whole_file(server):
    status, headers, body = get(f"{server}/media/2")
    assert status == 200
    assert body == b"JPEGDATA"
    assert headers["content-type"] == "image/jpeg"


def test_media_head_no_body(server):
    status, headers, body = get(f"{server}/media/1", method="HEAD")
    assert status == 200
    assert body == b""
    assert int(headers["content-length"]) == len(PAYLOAD)


def test_media_missing_404(server):
    for mid in (3, 99):  # resolver hit but file gone; resolver miss
        status, _, body = get(f"{server}/media/{mid}")
        assert status == 404
        assert b"not found" in body


# -- /search (reference routes.py:1210-1254) ---------------------------------

def test_search_ok(server):
    status, _, body = get(f"{server}/search?q=hello&start=0&end=5")
    assert status == 200
    res = json.loads(body)["results"]["hello"]
    assert [r["rank"] for r in res] == [0, 1, 2, 3, 4]


def test_search_paging_slice(server):
    status, _, body = get(f"{server}/search?q=hello&start=3&end=6")
    res = json.loads(body)["results"]["hello"]
    assert [r["rank"] for r in res] == [3, 4, 5]


def test_search_end_clamped_to_corpus(server):
    # corpus_size=30: end=1000 valid but clamped, like the reference's
    # min(end, num_vectors) (routes.py:1221)
    status, _, body = get(f"{server}/search?q=hello&start=0&end=1000")
    assert status == 200
    assert len(json.loads(body)["results"]["hello"]) == 30


def test_search_missing_query_400(server):
    status, _, body = get(f"{server}/search")
    assert status == 400
    assert json.loads(body)["message"] == "Missing search query"


def test_search_start_gt_end_400(server):
    status, _, body = get(f"{server}/search?q=x&start=50&end=40")
    assert status == 400
    assert "cannot be greater" in json.loads(body)["message"]


def test_search_out_of_bounds_400(server):
    for qs in ("q=x&start=981", "q=x&end=1001", "q=x&end=0"):
        status, _, _ = get(f"{server}/search?{qs}")
        assert status == 400


def test_search_blocklist_403(server):
    status, _, body = get(f"{server}/search?q=blocked+term")
    assert status == 403
    assert json.loads(body)["message"] == \
        "The search term you entered has been blocked"
    # multi-query phrasing (reference routes.py:1228-1233)
    status, _, body = get(f"{server}/search?q=ok&q=blocked+term")
    assert json.loads(body)["message"] == \
        "One of the search terms you entered has been blocked"


def test_unknown_route_404(server):
    status, _, _ = get(f"{server}/nope")
    assert status == 404


def test_media_suffix_range_serves_tail(server):
    # RFC 7233 suffix request: the LAST 512 bytes (trailer probe pattern)
    status, headers, body = get(f"{server}/media/1", {"Range": "bytes=-512"})
    assert status == 206
    assert body == PAYLOAD[-512:]
    size = len(PAYLOAD)
    assert headers["content-range"] == f"bytes {size - 512}-{size - 1}/{size}"


def test_head_sends_no_body_on_any_route_keepalive(server):
    """HEAD responses (including /search and error routes) must carry no
    body: on an HTTP/1.1 keep-alive connection stray body bytes desync the
    client, which parses them as the start of the NEXT response. Drive two
    requests down ONE persistent connection to prove the framing is clean."""
    import http.client
    host = server.split("//")[1]
    for head_path in ("/search?q=hello&start=0&end=5",   # JSON route
                      "/media/99",                        # 404 text route
                      "/nope"):                           # unknown route
        conn = http.client.HTTPConnection(host, timeout=10)
        try:
            conn.request("HEAD", head_path)
            r1 = conn.getresponse()
            assert r1.read() == b""
            # the SAME socket must now serve a clean GET
            conn.request("GET", "/search?q=hello&start=0&end=3")
            r2 = conn.getresponse()
            assert r2.status == 200
            res = json.loads(r2.read())["results"]["hello"]
            assert [r["rank"] for r in res] == [0, 1, 2]
        finally:
            conn.close()


# -- group commit (spark_search_fn over a fake index, Spark-free) ------------

class FakeIndex:
    """topk_many stand-in: query q's ordered hits are doc_ids
    1000*len(q) + j with score 1/(j+1). Records every call; the first call
    can be held back so that concurrent requests queue behind it."""

    def __init__(self, hold_first: float = 0.0, fail: bool = False):
        self.calls: list[tuple[list[str], int]] = []
        self.hold_first = hold_first
        self.fail = fail

    def topk_many(self, queries, k, mode="any", method="wand"):
        self.calls.append((list(queries), k))
        if len(self.calls) == 1:
            time.sleep(self.hold_first)
        if self.fail:
            raise RuntimeError("spark job failed")
        return {q: [(1000 * len(q) + j, 1.0 / (j + 1)) for j in range(k)]
                for q in queries}


def _page_of(q: str, start: int, end: int) -> list[dict]:
    return [{"doc_id": 1000 * len(q) + r, "score": 1.0 / (r + 1), "rank": r}
            for r in range(start, end)]


def _run_clients(client, n: int, timeout: float = 30.0) -> None:
    """Run client(0..n-1) on n threads; fail (not hang) if any is stuck."""
    threads = [threading.Thread(target=client, args=(i,), daemon=True)
               for i in range(n)]
    for t in threads:
        t.start()
    deadline = time.monotonic() + timeout
    for t in threads:
        t.join(max(0.0, deadline - time.monotonic()))
    assert not any(t.is_alive() for t in threads), "requests never answered"


def test_group_commit_concurrent_requests_share_calls():
    fake = FakeIndex(hold_first=0.3)
    search = spark_search_fn(fake, hydrate=False)
    n = 8
    barrier = threading.Barrier(n)
    got: dict[int, list[dict]] = {}

    def client(i: int) -> None:
        barrier.wait()
        got[i] = search("q" * (i + 1), i % 3, i % 3 + 2 + i)

    _run_clients(client, n)
    for i in range(n):
        assert got[i] == _page_of("q" * (i + 1), i % 3, i % 3 + 2 + i), i
    assert len(fake.calls) < n, fake.calls
    # each call scores distinct queries with k = the batch's largest end
    assert sorted(q for qs, _ in fake.calls for q in qs) == \
        sorted("q" * (i + 1) for i in range(n))


def test_group_commit_stress_no_lost_request():
    """16 threads x 25 requests with a tiny switch interval: every request
    gets its own page, and each (distinct) query is scored exactly once."""
    fake = FakeIndex()
    search = spark_search_fn(fake, hydrate=False)
    bad: list[str] = []

    def client(i: int) -> None:
        for j in range(25):
            q = f"{i}-" + "q" * j
            if search(q, 0, 2) != _page_of(q, 0, 2):
                bad.append(q)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        _run_clients(client, 16, timeout=60.0)
    finally:
        sys.setswitchinterval(interval)
    assert not bad
    scored = [q for qs, _ in fake.calls for q in qs]
    assert len(scored) == len(set(scored)) == 16 * 25


def test_group_commit_lone_request_one_call():
    fake = FakeIndex()
    assert spark_search_fn(fake, hydrate=False)("solo", 0, 5) == \
        _page_of("solo", 0, 5)
    assert fake.calls == [(["solo"], 5)]


def test_group_commit_page_slice_ranks():
    res = spark_search_fn(FakeIndex(), hydrate=False)("abc", 3, 5)
    assert [r["rank"] for r in res] == [3, 4]
    assert res == _page_of("abc", 3, 5)


def test_group_commit_failure_fails_batch_then_releases_slot():
    """A failing shared call answers HTTP 500 to every request of its batch,
    and the slot is free again afterwards: the next request succeeds."""
    import logging

    fake = FakeIndex(hold_first=0.3, fail=True)
    srv = SearchServer(spark_search_fn(fake, hydrate=False))
    port = srv.start()
    n = 4
    barrier = threading.Barrier(n)
    codes: dict[int, int] = {}

    def client(i: int) -> None:
        barrier.wait()
        codes[i], _, _ = get(f"http://127.0.0.1:{port}/search?q=x{i}&end=3")

    logging.disable(logging.CRITICAL)
    try:
        _run_clients(client, n)
        assert codes == {i: 500 for i in range(n)}
        fake.fail = False
        status, _, body = get(f"http://127.0.0.1:{port}/search?q=ok&end=3")
        assert status == 200
        assert json.loads(body)["results"]["ok"] == _page_of("ok", 0, 3)
    finally:
        logging.disable(logging.NOTSET)
        srv.stop()


# -- Spark-backed integration (spark_search_fn + parquet_media_resolver) -----

def test_spark_search_fn_end_to_end(spark, corpus_sdf, tmp_path_factory):
    """HTTP /search over a real index returns the same paged top-k the
    DataFrame API produces, hydrated with doc_map metadata: whole rows
    (every doc_map column, score and rank), for a first page, a later
    page, and a two-query request."""
    from wise_spark.index import FtsIndex, build_index
    from wise_spark.query.search import page
    from wise_spark.serve import SearchServer, spark_search_fn

    d = str(tmp_path_factory.mktemp("serve_idx"))
    meta = build_index(corpus_sdf, d, url_col="url", n_shards=4, n_buckets=4,
                       n_waves=1)
    idx = FtsIndex(spark, d, meta, cache=True)
    qa, qb = "nababa pebaba", "pebaba"

    def want(q: str, start: int, end: int) -> list[dict]:
        rows = idx.hydrate(
            page(idx.topk(q, k=end, mode="any", method="wand"),
                 start=start, end=end)).collect()
        return sorted((r.asDict(recursive=True) for r in rows),
                      key=lambda r: r["rank"])

    srv = SearchServer(spark_search_fn(idx), corpus_size=meta.n_docs)
    port = srv.start()
    try:
        got = {}
        for qs in (f"q={qa.replace(' ', '+')}&start=0&end=5",
                   f"q={qa.replace(' ', '+')}&start=2&end=5",
                   f"q={qa.replace(' ', '+')}&q={qb}&start=0&end=5"):
            status, _, body = get(f"http://127.0.0.1:{port}/search?{qs}")
            assert status == 200, qs
            got[qs] = json.loads(body)["results"]
    finally:
        srv.stop()
    first, later, both = got.values()
    assert first[qa] == want(qa, 0, 5)
    assert [r["rank"] for r in first[qa]] == [0, 1, 2, 3, 4]
    assert set(idx.doc_map().columns) | {"score", "rank"} == set(first[qa][0])
    assert later[qa] == want(qa, 2, 5)
    assert [r["rank"] for r in later[qa]] == [2, 3, 4]
    assert both == {qa: want(qa, 0, 5), qb: want(qb, 0, 5)}
    assert both[qa] != both[qb]


@pytest.mark.parametrize("cache, n_jobs", [(True, 0), (False, 3)],
                         ids=["pinned", "scan"])
def test_warm_hydrated_search_request_spark_jobs(
    spark, corpus_sdf, tmp_path_factory, cache, n_jobs
):
    """A warm hydrated /search request runs no Spark job on a cache=True
    index: its batch's topk_many scores the driver pin, and hydration reads
    doc_map on the driver (FtsIndex.doc_rows). On a cache=False index the
    request runs three: the terms lookup of the query's df, and the
    segments scan, whose shard exchange AQE runs as a job of its own before
    the scoring job. The request runs
    in this thread under its own job group, so the count is exactly the
    request's jobs."""
    from wise_spark.index import FtsIndex, build_index
    from wise_spark.serve import spark_search_fn

    d = str(tmp_path_factory.mktemp("serve_jobs_idx"))
    meta = build_index(corpus_sdf, d, url_col="url", n_shards=4, n_buckets=4,
                       n_waves=1)
    idx = FtsIndex(spark, d, meta, cache=cache)
    assert (idx._pinned is not None) == cache
    search = spark_search_fn(idx)
    q = "nababa pebaba"
    warm = search(q, 0, 5)
    assert len(warm) == 5
    sc = spark.sparkContext
    sc.setJobGroup("one-search-request", "one hydrated /search request")
    try:
        hits = search(q, 0, 5)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()   # job events are async
    jobs = sc.statusTracker().getJobIdsForGroup("one-search-request")
    assert hits == warm and all(h["url"] for h in hits)
    assert len(jobs) == n_jobs, sorted(jobs)


def test_parquet_media_resolver_point_lookup(spark, tmp_path_factory):
    from wise_spark.serve import parquet_media_resolver

    d = tmp_path_factory.mktemp("media_tbl")
    (d / "files").mkdir()
    (d / "files" / "a.mp4").write_bytes(b"AAAA")
    pdf = pd.DataFrame({
        "media_id": [1, 2],
        "path": ["files/a.mp4", "files/b.jpg"],
        "media_type": ["video", "image"],
        "format": ["mp4", "jpeg"],
    })
    spark.createDataFrame(pdf).write.parquet(str(d / "tbl"))
    resolve = parquet_media_resolver(spark, str(d / "tbl"), str(d))
    m = resolve(1)
    assert m is not None and m.media_type == "video"
    assert m.path.endswith("files/a.mp4")
    assert resolve(99) is None


def test_failing_search_fn_returns_500_not_reset():
    """An exception inside search_fn (executor lost, Py4J error) must come
    back as an HTTP 500 on the same keep-alive connection — not a dropped
    connection with no status line."""
    import logging

    def boom(query, start, end):
        raise RuntimeError("spark job failed")

    logging.disable(logging.CRITICAL)
    try:
        srv = SearchServer(boom)
        port = srv.start()
        code, _, body = get(f"http://127.0.0.1:{port}/search?q=x")
        assert code == 500
        assert b"internal server error" in body
        srv.stop()
    finally:
        logging.disable(logging.NOTSET)


def test_keep_alive_responses_are_sent_without_nagle_delay(monkeypatch):
    """Every accepted connection has TCP_NODELAY set: a response is two
    writes (headers, then body), and under Nagle's algorithm the body of
    each keep-alive response waits for the client's delayed ACK."""
    import http.client
    import socket

    from wise_spark import serve

    nodelay = []
    setup = serve._Handler.setup

    def recording_setup(self):
        setup(self)
        nodelay.append(self.connection.getsockopt(
            socket.IPPROTO_TCP, socket.TCP_NODELAY))

    monkeypatch.setattr(serve._Handler, "setup", recording_setup)
    srv = SearchServer(fake_search)
    port = srv.start()
    try:
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=10)
        for _ in range(3):
            conn.request("GET", "/search?q=a+b&start=0&end=5")
            r = conn.getresponse()
            assert r.status == 200 and len(json.loads(r.read())["results"]["a b"]) == 5
        conn.close()
    finally:
        srv.stop()
    assert len(nodelay) == 1 and nodelay[0] != 0
