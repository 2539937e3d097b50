"""HTTP/JSON API surface (reference src/main/api.c + connect.robot /
crud.robot URL tree) — round-4 verdict "What's missing #5".

Drives the real stdlib server over a socket: create index -> query ->
hydrated query -> multi-query fan-out -> auth enforcement -> clear ->
delete, asserting the same routing/auth semantics test_app.py pins at
the library layer."""

import json
import urllib.request

import pyarrow as pa
import pytest

from marlin_spark.oracle.bm25 import OracleIndex, assign_docids
from marlin_spark.oracle.corpus import VOCAB, small_corpus
from marlin_spark.server import API_KEY_HEADER, MarlinServer


@pytest.fixture(scope="module")
def srv(spark, tmp_path_factory):
    s = MarlinServer(
        spark, str(tmp_path_factory.mktemp("httpapp")), port=0
    ).start()
    yield s
    s.stop()


def _call(srv, method, path, body=None, key=None, expect=None):
    req = urllib.request.Request(
        f"http://127.0.0.1:{srv.port}{path}",
        method=method,
        data=json.dumps(body).encode() if body is not None else None,
        headers={API_KEY_HEADER: key} if key else {},
    )
    try:
        with urllib.request.urlopen(req) as resp:
            status, payload = resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as err:
        status, payload = err.code, json.loads(err.read())
    if expect is not None:
        assert status == expect, payload
    return payload


def _docs(n=120):
    return [
        {
            "conv_id": r["conv_id"],
            "turn_idx": r["turn_idx"],
            "role": r["role"],
            "text": r["text"],
            "tool": r["tool"],
            "ts": r["ts"].isoformat(),
        }
        for r in (row.asDict() if hasattr(row, "asDict") else row
                  for row in small_corpus(n))
    ]


def test_create_list_query_roundtrip(srv):
    out = _call(srv, "POST", "/1/indexes",
                {"name": "httpidx", "documents": _docs()}, expect=201)
    assert out["counters"]["n_docs"] > 0
    assert "httpidx" in _call(srv, "GET", "/1/indexes", expect=200)["indexes"]

    info = _call(srv, "GET", "/1/indexes/httpidx/info", expect=200)
    assert info["numDocs"] == out["counters"]["n_docs"]

    hits = _call(srv, "POST", "/1/indexes/httpidx/query",
                 {"q": "the", "k": 5}, expect=200)
    assert hits["nbHits"] == 5
    assert all("docid" in h and "score" in h for h in hits["hits"])
    # scores ranked descending
    scores = [h["score"] for h in hits["hits"]]
    assert scores == sorted(scores, reverse=True)

    hyd = _call(srv, "POST", "/1/indexes/httpidx/query",
                {"q": "the", "k": 3, "hydrate": True}, expect=200)
    assert all("text" in h and "conv_id" in h for h in hyd["hits"])


def test_multi_query_fanout_isolation(srv):
    res = _call(srv, "POST", "/1/indexes/*/query", {
        "requests": [
            {"indexName": "httpidx", "query": "the", "k": 2},
            {"indexName": "missing", "query": "the"},
        ]
    }, expect=200)["results"]
    assert [r["success"] for r in res] == [True, False]
    assert len(res[0]["hits"]) == 2


def test_unknown_paths_and_methods(srv):
    _call(srv, "GET", "/2/indexes", expect=404)
    _call(srv, "POST", "/1/indexes/httpidx/query/extra", expect=404)
    _call(srv, "DELETE", "/1/indexes/nope", expect=404)
    _call(srv, "POST", "/1/indexes/nope/query", {"q": "x"}, expect=404)


def test_key_auth_enforced_once_minted(srv):
    # open app until the first key exists (reference dev mode); the
    # bootstrap key is admin (= the reference's generated master key)
    admin = _call(srv, "POST", "/1/keys", {"scopes": ["admin"]},
                  expect=201)["key"]
    query_key = _call(srv, "POST", "/1/keys",
                      {"scopes": ["query"], "indexes": ["httpidx"]},
                      key=admin, expect=201)["key"]
    # keyless query now rejected
    _call(srv, "POST", "/1/indexes/httpidx/query", {"q": "the"}, expect=403)
    # minted key works, but only on its index scope
    ok = _call(srv, "POST", "/1/indexes/httpidx/query", {"q": "the", "k": 2},
               key=query_key, expect=200)
    assert ok["nbHits"] == 2
    # query-scoped key cannot mint keys (admin)
    _call(srv, "POST", "/1/keys", {"scopes": ["query"]}, key=query_key,
          expect=403)
    # ...and cannot delete indexes (index scope)
    _call(srv, "DELETE", "/1/indexes/httpidx", key=query_key, expect=403)
    # admin key manages everything; delete both -> app open again
    _call(srv, "DELETE", f"/1/keys/{query_key}", key=admin, expect=200)
    _call(srv, "DELETE", f"/1/keys/{admin}", key=admin, expect=200)


def test_clear_and_delete(srv):
    _call(srv, "POST", "/1/indexes/httpidx/clear", expect=200)
    info = _call(srv, "GET", "/1/indexes/httpidx/info", expect=200)
    assert info["numDocs"] == 0
    assert _call(srv, "DELETE", "/1/indexes/httpidx", expect=200) == {
        "deleted": "httpidx"
    }
    assert _call(srv, "GET", "/1/indexes", expect=200)["indexes"] == []


# 1-, 2- and 3-word queries over head words of the small corpus
_ORACLE_QUERIES = [" ".join(VOCAB[i] for i in ids) for ids in (
    (0,), (3,), (1, 2), (0, 5), (2, 4, 7), (1, 3, 6),
)]


@pytest.fixture(scope="module")
def oracle_idx(srv):
    """An index of its own (the tests above end with an empty app)."""
    _call(srv, "POST", "/1/indexes",
          {"name": "oracleidx", "documents": _docs()}, expect=201)
    yield OracleIndex(assign_docids(_docs()))
    _call(srv, "DELETE", "/1/indexes/oracleidx", expect=200)


def _hits(srv, q, mode, k=10):
    out = _call(srv, "POST", "/1/indexes/oracleidx/query",
                {"q": q, "hitsPerPage": k, "mode": mode}, expect=200)
    return [(h["docid"], round(h["score"], 9)) for h in out["hits"]]


def _want(oracle, q, mode, k=10):
    return [(d, round(s, 9)) for d, s in oracle.search(q, k=k, mode=mode)]


def test_http_query_matches_oracle_without_spark_job(srv, oracle_idx, last_job_id):
    """A plain query is answered on the driver: rank-identical to the
    oracle at 9 dp, and no Spark job runs for it."""
    _hits(srv, _ORACLE_QUERIES[0], "any")  # engine construction
    job0 = last_job_id()
    for q in _ORACLE_QUERIES:
        for mode in ("any", "all"):
            assert _hits(srv, q, mode) == _want(oracle_idx, q, mode), (q, mode)
    assert last_job_id() == job0


def test_http_query_above_local_max_df_runs_on_spark(
    srv, oracle_idx, last_job_id, monkeypatch
):
    """Above LOCAL_MAX_DF search_local hands the query to the Spark WAND
    job, which answers identically."""
    from marlin_spark.query import engine

    monkeypatch.setattr(engine, "LOCAL_MAX_DF", 0)
    job0 = last_job_id()
    for q in _ORACLE_QUERIES[::2]:
        for mode in ("any", "all"):
            assert _hits(srv, q, mode) == _want(oracle_idx, q, mode), (q, mode)
    assert last_job_id() > job0


@pytest.mark.parametrize("field,value", [
    ("hitsPerPage", 0), ("hitsPerPage", -1), ("k", -3), ("hitsPerPage", 1001),
])
def test_query_k_out_of_range_is_400(srv, oracle_idx, field, value):
    out = _call(srv, "POST", "/1/indexes/oracleidx/query",
                {"q": VOCAB[0], field: value}, expect=400)
    assert "1..1000" in out["error"]


@pytest.mark.parametrize("body", [[], "x", 3])
def test_query_body_not_an_object_is_400(srv, oracle_idx, body):
    out = _call(srv, "POST", "/1/indexes/oracleidx/query", body, expect=400)
    assert "JSON object" in out["error"]


def test_truncated_dictionary_is_500_not_an_answer(srv, oracle_idx):
    """A damaged dictionary file fails the query loudly: no fallback
    scan answers around it."""
    import glob
    import os

    _call(srv, "POST", "/1/indexes",
          {"name": "brokenidx", "documents": _docs(40)}, expect=201)
    files = glob.glob(os.path.join(
        srv.app.index_path("brokenidx"), "dictionary", "**", "*.parquet"),
        recursive=True)
    assert files
    for f in files:
        with open(f, "r+b") as fh:
            fh.truncate(os.path.getsize(f) // 2)
    out = _call(srv, "POST", "/1/indexes/brokenidx/query",
                {"q": VOCAB[0]}, expect=500)
    assert "hits" not in out
    # nor does a typo lookup rescan it with Spark
    with pytest.raises(pa.ArrowException):
        srv.app.get_index("brokenidx").typo_match("worst tes")
    _call(srv, "DELETE", "/1/indexes/brokenidx", expect=200)


# ------------------------------------------------ request thread pool
def test_handler_threads_are_a_fixed_pool(srv, oracle_idx, monkeypatch):
    """50 requests from 8 concurrent clients run on at most POOL_THREADS
    long-lived threads, not one new thread each."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    from marlin_spark.server import POOL_THREADS

    seen = set()
    real = srv.query

    def query(*args):
        seen.add(threading.get_ident())
        return real(*args)

    monkeypatch.setattr(srv, "query", query)
    q = _ORACLE_QUERIES[2]
    want = _want(oracle_idx, q, "any")
    with ThreadPoolExecutor(8) as ex:
        got = list(ex.map(lambda _i: _hits(srv, q, "any"), range(50)))
    assert got == [want] * 50
    assert 1 <= len(seen) <= POOL_THREADS


def test_stop_ends_every_pool_thread(spark, tmp_path):
    import threading

    s = MarlinServer(spark, str(tmp_path / "app"), port=0).start()
    threads = []
    real = s.list_indexes

    def list_indexes(key):
        threads.append(threading.current_thread())
        return real(key)

    s.list_indexes = list_indexes
    for _ in range(5):
        assert _call(s, "GET", "/1/indexes", expect=200) == {"indexes": []}
    s.stop()
    assert threads and not any(t.is_alive() for t in threads)


def test_held_spark_requests_do_not_block_a_plain_query(srv, oracle_idx, monkeypatch):
    """POOL_THREADS hydrated queries (Spark jobs) held in flight at once
    run off the handler pool: a concurrent plain query still answers."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    from marlin_spark.server import POOL_THREADS

    eng = srv.app.get_index("oracleidx")
    entered = threading.Semaphore(0)
    release = threading.Event()
    real = eng.hydrate

    def hydrate(hits):
        entered.release()
        release.wait(60)
        return real(hits)

    monkeypatch.setattr(eng, "hydrate", hydrate)
    q = _ORACLE_QUERIES[1]
    with ThreadPoolExecutor(POOL_THREADS) as ex:
        slow = [
            ex.submit(_call, srv, "POST", "/1/indexes/oracleidx/query",
                      {"q": q, "k": 3, "hydrate": True}, None, 200)
            for _ in range(POOL_THREADS)
        ]
        try:
            for _ in range(POOL_THREADS):
                assert entered.acquire(timeout=60)
            assert _hits(srv, q, "any") == _want(oracle_idx, q, "any")
            assert not any(f.done() for f in slow)
        finally:
            release.set()
        for f in slow:
            assert all("text" in h for h in f.result(timeout=120)["hits"])


def test_silent_connections_hold_no_pool_thread(srv, oracle_idx):
    """More idle connections than pool threads (clients that connect and
    send nothing) leave a plain query answered at once."""
    import socket
    import time

    from marlin_spark.server import POOL_THREADS

    idle = [socket.create_connection(("127.0.0.1", srv.port))
            for _ in range(POOL_THREADS + 1)]
    try:
        q = _ORACLE_QUERIES[0]
        t0 = time.monotonic()
        assert _hits(srv, q, "any") == _want(oracle_idx, q, "any")
        # not after a read timeout freed a thread
        assert time.monotonic() - t0 < srv.httpd.RequestHandlerClass.timeout / 2
    finally:
        for c in idle:
            c.close()


def _raw_post(srv, length: str) -> tuple[int, dict, float]:
    """POST a query whose Content-Length header is ``length`` and send no
    body: (status, payload, seconds until the server closed)."""
    import socket
    import time

    t0 = time.monotonic()
    with socket.create_connection(("127.0.0.1", srv.port)) as c:
        c.sendall(
            f"POST /1/indexes/oracleidx/query HTTP/1.0\r\n"
            f"Content-Length: {length}\r\n\r\n".encode()
        )
        reply = b""
        while chunk := c.recv(65536):
            reply += chunk
    head, _, body = reply.partition(b"\r\n\r\n")
    return int(head.split()[1]), json.loads(body), time.monotonic() - t0


@pytest.mark.parametrize("length", ["-1", "abc", "1e3", "+5"])
def test_bad_content_length_is_400_at_once(srv, length):
    """A negative or non-integer body length is refused before any read:
    rfile.read(-1) would hold a pool thread until the socket timeout."""
    status, out, took = _raw_post(srv, length)
    assert status == 400 and "Content-Length" in out["error"]
    assert took < srv.httpd.RequestHandlerClass.timeout / 2


def test_oversized_body_is_413_before_reading_it(srv):
    from marlin_spark.server import MAX_BODY_BYTES

    status, out, took = _raw_post(srv, str(MAX_BODY_BYTES + 1))
    assert status == 413 and str(MAX_BODY_BYTES) in out["error"]
    assert took < srv.httpd.RequestHandlerClass.timeout / 2
