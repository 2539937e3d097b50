"""The benchmark's workloads: set-up, timed loop and answer check.

Each ``run_<workload>(b)`` fills ``b.e2e`` (end-to-end metrics, from the
timed loop only) and, in a traced run, ``b.layer`` (see layers.py).
"""

from __future__ import annotations

import gc
import http.client
import json
import os
import random
import resource
import statistics
import time

INDEX = "bench"
K = 10


# ---------------------------------------------------------------- helpers
def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def median_ms(xs: list[float]) -> float:
    return statistics.median(xs) * 1000.0


def pctl_ms(xs: list[float], p: float) -> float:
    s = sorted(xs)
    return s[min(len(s) - 1, int(p * len(s)))] * 1000.0


def peak_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def _cpu_steal() -> tuple[int, int]:
    """(steal jiffies, total jiffies) from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:9]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def _loadavg() -> str:
    with open("/proc/loadavg") as f:
        return f.read().strip()


class Window:
    """Timed window: wall clock, Spark job ids and host diagnostics
    (load average and CPU steal; recorded, never used to adjust)."""

    def __init__(self, b):
        self.b = b
        self.steal0, self.load0 = _cpu_steal(), _loadavg()
        self.job0 = b.job_id() if b.traced else 0
        self.wall0 = time.time()
        self.t0 = time.perf_counter()

    def elapsed(self) -> float:
        return time.perf_counter() - self.t0

    def close(self) -> float:
        secs = self.elapsed()
        self.wall1 = time.time()
        steal1 = _cpu_steal()
        self.b.info["loadavg_start"] = self.load0
        self.b.info["loadavg_end"] = _loadavg()
        self.b.info["cpu_steal_frac"] = (steal1[0] - self.steal0[0]) / max(1, steal1[1] - self.steal0[1])
        self.b.e2e["driver_peak_rss_mb"] = peak_rss_mb()
        return secs

    def spark_layers(self, ops: int) -> None:
        import layers

        self.b.layer["spark.jobs_per_op"] = (self.b.job_id() - self.job0) / ops
        layers.spark_stages(self.b, self.wall0, self.wall1)


def settle(b) -> None:
    """Collect the set-up's garbage in the JVM and in this process, so a
    collection of the build's leftovers does not land in the window."""
    b.spark.sparkContext._jvm.System.gc()
    gc.collect()


def same_topk(got: list, want: list) -> bool:
    """Top-k docids equal and scores equal at 9 decimal places."""
    if [d for d, _ in got] != [d for d, _ in want]:
        return False
    return all(abs(g - w) <= 1e-9 for (_, g), (_, w) in zip(got, want))


def http_query(port: int, q: str, mode: str) -> tuple[int, dict]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        conn.request(
            "POST", f"/1/indexes/{INDEX}/query",
            body=json.dumps({"q": q, "hitsPerPage": K, "mode": mode}),
            headers={"Content-Type": "application/json"},
        )
        resp = conn.getresponse()
        return resp.status, json.loads(resp.read())
    finally:
        conn.close()


def _start_and_build(b, n_convs: int) -> tuple[list[dict], int, str, str]:
    """Start the session, stage the seeded corpus and build the index.
    Staging is pure Python and runs in a thread while the JVM starts."""
    from concurrent.futures import ThreadPoolExecutor

    from inputs import conversations, stage_parquet

    src = os.path.join(b.data, "corpus")

    def stage() -> tuple[list[dict], int]:
        rows = conversations(b.seed, 0, n_convs)
        return rows, stage_parquet(rows, src, 8)

    with ThreadPoolExecutor(1) as ex:
        staged = ex.submit(stage)
        b.start_session()
        rows, in_bytes = staged.result()
    app_dir = os.path.join(b.data, "app")
    index_dir = os.path.join(app_dir, INDEX)
    b.build_counters = b.build(src, index_dir)
    return rows, in_bytes, app_dir, index_dir


# ================================================================== http
def run_http_lookup(b) -> None:
    from inputs import query_pool, request_stream

    from marlin_spark.oracle.bm25 import OracleIndex, assign_docids
    from marlin_spark.server import MarlinServer

    sz = b.sizes
    rows, in_bytes, app_dir, index_dir = _start_and_build(b, sz["http_convs"])
    b.server = MarlinServer(b.spark, app_dir).start()
    pool = query_pool(b.seed, sz["pool"])
    stream = request_stream(b.seed, pool, 100_000)
    # warm-up from a pool of its own: in a fresh JVM the first request
    # costs ~2.5x a later one and the next ten or so ~1.2x, so a window
    # that opened on them would time the warm-up
    for q, mode in query_pool(b.seed + 7919, sz["warm_queries"]):
        status, body = http_query(b.server.port, q, mode)
        if status != 200:
            raise RuntimeError(f"warm-up query {q!r} returned HTTP {status}: {body}")
    settle(b)
    b.setup_done()

    # ------------------------------------------------------------ timed
    answers, lat, lat_traced = [], [], []
    w = Window(b)
    while w.elapsed() < b.args.seconds:
        i = len(answers)
        q, mode = stream[i]
        # a traced run alternates untraced and traced requests, so the
        # two halves give the tracing overhead
        traced = b.tracer.enabled = b.traced and i % 2 == 1
        t = time.perf_counter()
        with b.tracer.op(i, "op.http_query"):
            try:
                status, body = http_query(b.server.port, q, mode)
            except (OSError, http.client.HTTPException) as exc:
                status, body = -1, {"error": repr(exc)}
        (lat_traced if traced else lat).append(time.perf_counter() - t)
        answers.append((q, mode, status, body))
    b.tracer.enabled = False
    secs = w.close()
    b.e2e["lookup_p50_ms"] = median_ms(lat)
    b.e2e["throughput_per_s"] = len(answers) / secs
    b.e2e["index_bytes_per_input_byte"] = dir_bytes(index_dir) / in_bytes
    p95 = pctl_ms(lat, 0.95)
    b.report.update(
        lookup_p95_ms=(p95, "ms"),
        # the set-up build: the first build in a fresh JVM
        build_turns_per_s=(len(rows) / b.build_s, "turns/s"),
    )
    b.info.update(lookup_samples=len(lat), samples_beyond_p95=sum(x * 1000 > p95 for x in lat))

    # ------------------------------------------------------------ check
    oracle = OracleIndex(assign_docids(rows))
    want: dict = {}
    for q, mode, status, body in answers:
        if status != 200:
            b.count(False, f"HTTP {status} for {q!r}: {body}")
            continue
        if (q, mode) not in want:
            want[(q, mode)] = oracle.search(q, k=K, mode=mode)
        got = [(h["docid"], h["score"]) for h in body["hits"]]
        b.count(same_topk(got, want[(q, mode)]), f"wrong top-{K} for {q!r} mode={mode}")

    if not b.traced:
        # one search_many_wand batch from the same stream, after the window
        from marlin_spark.query.engine import SearchEngine

        batch = {f"q{i}": q for i, (q, _m) in enumerate(stream[: sz["batch_queries"]])}
        t = time.perf_counter()
        hits = SearchEngine(b.spark, index_dir).search_many_wand(batch, k=K).collect()
        b.report["batch_qps"] = (len(batch) / (time.perf_counter() - t), "1/s")
        ranked: dict = {}
        for h in sorted(hits, key=lambda h: h["rank"]):
            ranked.setdefault(h["query_id"], []).append((h["docid"], h["score"]))
        for qid in list(batch)[: sz["checked_queries"]]:
            b.count(same_topk(ranked.get(qid, []), oracle.search(batch[qid], k=K)),
                    f"wrong batch top-{K} for {batch[qid]!r}")

    if b.traced:
        import layers

        w.spark_layers(len(answers))
        server = {s[4]: s[2] - s[1] for s in b.tracer.spans if s[0] == "server.query" and s[2]}
        client = {s[4]: s[2] - s[1] for s in b.tracer.spans if s[0] == "op.http_query" and s[2]}
        b.server_overhead = [c - server[op] for op, c in client.items() if op in server]
        b.layer["trace.overhead_pct"] = 100.0 * (
            statistics.median(lat_traced) / statistics.median(lat) - 1.0)
        layers.all_layers(b, rows, index_dir, app_dir, pool)


# ================================================================ ingest
def stage_batch(b, first_conv: int, n_convs: int, name: str) -> tuple:
    """(parquet dir, rows, input bytes) of one seeded micro-batch."""
    from inputs import conversations, stage_parquet

    rows = conversations(b.seed, first_conv, n_convs)
    path = os.path.join(b.data, name)
    return path, rows, stage_parquet(rows, path, 2)


def ingest(b, eng, inc, batch: tuple, queries: list, post_queries: list,
           delete_keys: list, live: dict, seconds: float) -> dict:
    """One micro-batch through ``process_batch``, then passes of the NRT
    lookups while its delta segment is live, until ``seconds`` have passed
    since the batch started and at least ``nrt_passes`` passes are done;
    then one ``delete_turns``, ``compact()``, ``refresh()`` and one pass
    of ``post_queries``.

    Lookup latency swings by a third from one second to the next on a
    shared host, so the floor on passes keeps the number of samples from
    depending on how long ``process_batch`` took.

    One micro-batch per compaction: ``compact()`` over two or more
    uncompacted delta batches fails with CONFLICTING_DIRECTORY_STRUCTURES
    in this version of the program, and each compaction costs ~10 s on
    4 cores, so a run holds exactly one write cycle.

    ``batch`` is (parquet dir, rows, input bytes). ``live`` maps
    (conv_id, turn_idx) to (docid, text) and ends as the post-compaction
    collection. A failed lookup is counted, not fatal."""
    from marlin_spark.index.catalog import IndexCatalog

    def lookups(qs: list, lat: list, answers: list) -> None:
        for q, mode in qs:
            t = time.perf_counter()
            try:
                got, err = eng.search_local(q, K, mode), None
            except Exception as exc:  # noqa: BLE001
                got, err = None, repr(exc)
            lat.append(time.perf_counter() - t)
            b.count(err is None, f"lookup {q!r}: {err}")
            if err is None:
                answers.append((q, mode, got))

    src, rows, in_bytes = batch
    out: dict = {"turns": len(rows), "in_bytes": in_bytes, "nrt": [], "post": [], "answers": []}
    # the batch's docids continue after the index's max docid, in
    # (conv_id, turn_idx) order
    first = int(inc.stats.get("max_docid", inc.stats["n_docs"]))
    t = t0 = time.perf_counter()
    inc.process_batch(b.spark.read.parquet(src), 0)
    out["process_batch_s"] = time.perf_counter() - t
    b.count(True, "process_batch")
    for i, r in enumerate(rows):
        live[(r["conv_id"], r["turn_idx"])] = (first + i + 1, r["text"])
    cat = IndexCatalog(inc.cat.dir)
    out["delta_segments"] = len(cat.committed_delta_dirs("postings"))
    out["write_bytes"] = cat.dir_bytes("postings_delta") + cat.dir_bytes("docs_delta")
    # before compaction only errors are checked: collection stats are
    # refreshed at compact() by design
    while (len(out["nrt"]) < b.sizes["nrt_passes"] * len(queries)
           or time.perf_counter() - t0 < seconds):
        lookups(queries, out["nrt"], [])

    t = time.perf_counter()
    inc.delete_turns(delete_keys)
    out["delete_s"] = time.perf_counter() - t
    b.count(True, "delete_turns")
    for key in delete_keys:
        live.pop(key, None)
    t = time.perf_counter()
    inc.compact()
    out["compact_s"] = time.perf_counter() - t
    b.count(True, "compact")
    eng.refresh()
    cat = IndexCatalog(inc.cat.dir)
    out["compact_bytes"] = cat.dir_bytes("docs") + cat.dir_bytes("postings")
    lookups(post_queries, out["post"], out["answers"])
    return out


def run_ingest_nrt(b) -> None:
    from inputs import query_pool

    from marlin_spark.oracle.bm25 import OracleIndex, assign_docids
    from marlin_spark.query.engine import SearchEngine
    from marlin_spark.streaming.incremental import IncrementalIndexer

    sz = b.sizes
    base, in_bytes, app_dir, index_dir = _start_and_build(b, sz["base_convs"])
    rng = random.Random(f"deletes:{b.seed}")
    doomed = rng.sample([(r["conv_id"], r["turn_idx"]) for r in base], sz["delete_keys"])
    queries = query_pool(b.seed, sz["nrt_queries"])
    eng = SearchEngine(b.spark, index_dir)
    inc = IncrementalIndexer(b.spark, index_dir)
    live = dict(zip(((r["conv_id"], r["turn_idx"]) for r in base), assign_docids(base)))
    batch = stage_batch(b, sz["base_convs"], sz["batch_convs"], "batch")
    # one pass fills search_local's base-bucket cache for these queries,
    # so every timed lookup reads cached base buckets plus the uncached
    # delta segment
    for q, mode in queries:
        eng.search_local(q, K, mode)
    settle(b)
    b.setup_done()

    # ------------------------------------------------------------ timed
    b.tracer.enabled = b.traced
    w = Window(b)
    with b.tracer.op(0, "op.ingest"):
        run = ingest(b, eng, inc, batch, queries, queries[: sz["checked_queries"]], doomed, live,
                     b.args.seconds)
    b.tracer.enabled = False
    w.close()
    nrt = run["nrt"]
    b.e2e["lookup_p50_ms"] = median_ms(nrt)
    # write throughput: added turns per second of write work
    # (process_batch, delete_turns and compact)
    b.e2e["throughput_per_s"] = run["turns"] / (
        run["process_batch_s"] + run["delete_s"] + run["compact_s"])
    b.e2e["index_bytes_per_input_byte"] = dir_bytes(index_dir) / (in_bytes + run["in_bytes"])
    p95 = pctl_ms(nrt, 0.95)
    b.report.update(
        ingest_turns_per_s=(run["turns"] / run["process_batch_s"], "turns/s"),
        nrt_lookup_p50_ms=(median_ms(nrt), "ms"),
        nrt_lookup_p95_ms=(p95, "ms"),
        compact_s=(run["compact_s"], "s"),
    )
    b.info.update(lookup_samples=len(nrt),
                  samples_beyond_p95=sum(x * 1000 > p95 for x in nrt),
                  post_compaction_p50_ms=median_ms(run["post"]))

    # ------------------------------------------------------------ check
    # a fixed sample of the queries, answered after compaction, against
    # the oracle over base + adds - deletes
    oracle = OracleIndex(sorted(live.values()))
    for q, mode, got in run["answers"]:
        b.count(same_topk(got, oracle.search(q, k=K, mode=mode)),
                f"wrong post-compaction top-{K} for {q!r} mode={mode}")

    if b.traced:
        import layers

        w.spark_layers(1)
        b.ingest_run = run
        # each query once untraced and once traced, in alternating order
        lat = ([], [])
        for j, (q, mode) in enumerate(queries):
            for traced in ((0, 1) if j % 2 else (1, 0)):
                b.tracer.enabled = bool(traced)
                t = time.perf_counter()
                eng.search_local(q, K, mode)
                lat[traced].append(time.perf_counter() - t)
        b.tracer.enabled = False
        b.layer["trace.overhead_pct"] = 100.0 * (
            statistics.median(lat[1]) / statistics.median(lat[0]) - 1.0)
        layers.all_layers(b, base, index_dir, app_dir, query_pool(b.seed, sz["pool"]))


WORKLOADS = {"http_lookup": run_http_lookup, "ingest_nrt": run_ingest_nrt}
