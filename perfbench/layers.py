"""Per-layer metrics of the traced run.

Layers are the program's modules. Their numbers come from three places:

- spans recorded around calls into each module (see tracer.py), from the
  workload's timed loop and from the probes below;
- counters the program already returns (``IndexBuilder.build``'s
  counters, ``make_wand_scorer``'s skip counters, catalog byte counts);
- fixed-sample probes, run after the timed loop, that time a module's
  kernel (analyzer, block builder, codec, WAND scorer) on inputs taken
  from the workload's own corpus and index, and that drive the layers
  the workload's loop leaves idle (the HTTP front door on ingest_nrt,
  streaming ingest on http_lookup, the batch query path on both), so
  every layer reports a measured value on every workload.
"""

from __future__ import annotations

import json
import os
import statistics
import time
import urllib.request
from datetime import datetime, timezone

import numpy as np
import pandas as pd

PROBE_SECONDS = 0.3  # minimum wall time of each kernel probe


class Count:
    """Stand-in for a Spark accumulator when a kernel runs in-process."""

    def __init__(self) -> None:
        self.value = 0

    def add(self, v) -> None:
        self.value += v


def _repeat(fn) -> tuple[int, float]:
    """Call ``fn`` until PROBE_SECONDS have passed; (calls, seconds)."""
    n, t0 = 0, time.perf_counter()
    while True:
        fn()
        n += 1
        dt = time.perf_counter() - t0
        if dt >= PROBE_SECONDS:
            return n, dt


def _ui_time(s: str) -> float:
    return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fGMT").replace(
        tzinfo=timezone.utc).timestamp()


def spark_stages(b, wall0: float, wall1: float) -> None:
    """Task busy time, stage wall time (union of stage intervals) and core
    utilisation of the stages submitted in [wall0, wall1], from the UI's
    REST API."""
    sc = b.spark.sparkContext
    time.sleep(1.0)  # let the listener bus deliver the last stage events
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/stages?status=complete"
    with urllib.request.urlopen(url, timeout=30) as resp:
        stages = json.loads(resp.read())
    busy, spans = 0.0, []
    for st in stages:
        if "submissionTime" not in st or "completionTime" not in st:
            continue
        a, z = _ui_time(st["submissionTime"]), _ui_time(st["completionTime"])
        if wall0 <= a <= wall1:
            busy += st.get("executorRunTime", 0) / 1000.0
            spans.append((a, z))
    wall, hi = 0.0, 0.0
    for a, z in sorted(spans):
        a = max(a, hi)
        if z > a:
            wall += z - a
            hi = z
    b.layer["spark.task_busy_s"] = busy
    b.layer["spark.stage_wall_s"] = wall
    b.layer["spark.core_util"] = busy / (wall * sc.defaultParallelism) if wall else 0.0


def _kernels(b, rows: list[dict], index_dir: str) -> None:
    from marlin_spark.functions.codec import (
        decode_block,
        decode_blocks_many,
        decode_positions,
        encode_block,
    )
    from marlin_spark.index.blocks import make_doc_range_builder
    from marlin_spark.index.catalog import IndexCatalog
    from marlin_spark.oracle.tokenizer import analyze_batch

    texts = [r["text"] for r in rows[:2000]]
    counts = analyze_batch(texts, "marlin", "index")[0]
    n, dt = _repeat(lambda: analyze_batch(texts, "marlin", "index"))
    b.layer["analyzers.tokens_per_s"] = n * int(counts.sum()) / dt

    cat = IndexCatalog(index_dir)
    stats = cat.read_json("stats.json")
    docs = pd.DataFrame({
        "docid": np.arange(1, len(texts) + 1, dtype=np.int64),
        "dl": counts.astype(np.int32),
        "text": texts,
    })
    emitted = Count()
    builder = make_doc_range_builder(
        "marlin", stats["k1"], stats["b"], stats["avgdl"], stats["block_size"],
        stats["range_size"], {"postings_emitted": emitted}, fields=["text"])
    n, dt = _repeat(lambda: list(builder(iter([docs]))))
    b.layer["blocks.builder_postings_per_s"] = emitted.value / dt

    import pyarrow.dataset as pads

    tbl = pads.dataset(cat.path("postings"), partitioning="hive", format="parquet").to_table(
        columns=["n_docs", "postings", "positions"]).slice(0, 4000)
    bufs = tbl["postings"].to_pylist()
    pos_bufs = tbl["positions"].to_pylist()
    nd = tbl["n_docs"].to_numpy().astype(np.int64)
    n, dt = _repeat(lambda: decode_blocks_many(bufs, nd))
    b.layer["codec.decode_mpostings_per_s"] = n * int(nd.sum()) / dt / 1e6
    blocks = []
    for pb, xb in zip(bufs, pos_bufs):
        d, tf, dl = decode_block(pb)
        blocks.append((d, tf, dl, decode_positions(xb, tf)))

    def encode_all():
        for d, tf, dl, pos in blocks:
            encode_block(d, tf, dl, pos)

    n, dt = _repeat(encode_all)
    b.layer["codec.encode_mpostings_per_s"] = n * int(nd.sum()) / dt / 1e6


def _build_and_catalog(b, index_dir: str) -> None:
    from marlin_spark.index.catalog import IndexCatalog

    c = b.build_counters
    b.layer["blocks.postings_emitted"] = c["postings_emitted"]
    b.layer["blocks.blocks_built"] = c["blocks_built"]
    b.layer["codec.bytes_per_posting"] = c["bytes_postings"] / c["postings_emitted"]
    b.layer["codec.position_bytes_per_posting"] = c["bytes_positions"] / c["postings_emitted"]
    for stage in ("docs", "postings", "dictionary"):
        b.layer[f"build.{stage}_s"] = c["stage_seconds"][stage]
    for k in ("ms_read", "ms_tokenize", "ms_sort", "ms_emit", "ms_merge", "ms_merge_wait"):
        b.layer[f"build.{k}"] = c[k]
    cat = IndexCatalog(index_dir)
    for table in ("docs", "postings", "dictionary"):
        b.layer[f"catalog.bytes_{table}"] = cat.dir_bytes(table)
    b.layer["catalog.files_postings"] = sum(
        f.endswith(".parquet") for _r, _d, fs in os.walk(cat.path("postings")) for f in fs)


def _plan_blocks(eng, plan) -> pd.DataFrame:
    """The posting blocks a query's WAND scorer reads: base postings plus
    committed delta segments, pruned to the plan's buckets and terms."""
    import pyarrow.dataset as pads

    from marlin_spark.index.catalog import term_bucket_py

    terms = list(plan.term_meta)
    buckets = sorted({term_bucket_py(t, eng.cfg.n_term_buckets) for t in terms})
    flt = pads.field("bucket").isin(buckets) & pads.field("term").isin(terms)
    cols = ["term", "range_id", "block_id", "n_docs", "max_tfnorm", "postings"]
    paths = [eng.cat.path("postings")] + eng.cat.committed_delta_dirs("postings")
    return pd.concat(
        [pads.dataset(p, partitioning="hive", format="parquet")
         .to_table(columns=cols, filter=flt).to_pandas() for p in paths],
        ignore_index=True,
    )


def _engine(b, index_dir: str, pool: list) -> None:
    from inputs import request_stream

    from marlin_spark.query.engine import SearchEngine
    from marlin_spark.query.wand import make_wand_scorer

    sz = b.sizes
    eng = SearchEngine(b.spark, index_dir)
    probe = pool[: sz["probe_queries"]]
    b.tracer.enabled = True
    search_ms = []
    for q, mode in probe[:4]:
        t = time.perf_counter()
        eng.search(q, k=10, mode=mode).collect()
        search_ms.append((time.perf_counter() - t) * 1000)
    for q, mode in probe:
        eng.search_local(q, 10, mode)
    b.layer["engine.search_ms"] = statistics.median(search_ms)

    skipped, scored, score_ms = 0, 0, []
    for q, mode in probe:
        plan = eng.plan(q, 10, mode)
        if not plan.term_meta:
            continue
        pdf = _plan_blocks(eng, plan)
        acc = {"ranges_skipped": Count(), "ranges_scored": Count()}
        scorer = make_wand_scorer(plan.term_meta, plan.k, plan.n_slots, plan.mode,
                                  eng.cfg.k1, eng.cfg.b, eng.avgdl, acc, deleted=eng.deleted)
        t = time.perf_counter()
        next(scorer(iter([pdf])))
        score_ms.append((time.perf_counter() - t) * 1000)
        skipped += acc["ranges_skipped"].value
        scored += acc["ranges_scored"].value
    b.layer["wand.range_skip_ratio"] = skipped / max(1, skipped + scored)
    b.layer["wand.score_ms"] = statistics.median(score_ms)

    batch = {f"q{i}": q for i, (q, _m) in enumerate(request_stream(b.seed, pool, sz["probe_batch"]))}
    t = time.perf_counter()
    df = eng.search_many_wand(batch, k=10)
    t1 = time.perf_counter()
    df.count()
    b.layer["engine.batch_plan_s"] = t1 - t
    b.layer["engine.batch_job_s"] = time.perf_counter() - t1
    b.layer["engine.batch_distinct_ratio"] = (
        len({tuple(eng.analyze_query(q)) for q in batch.values()}) / len(batch))
    b.tracer.enabled = False


def _server_probe(b, app_dir: str, pool: list) -> None:
    """HTTP requests against the workload's index (ingest_nrt's loop
    never enters the front door)."""
    from workloads import http_query

    from marlin_spark.server import MarlinServer

    srv = b.server = MarlinServer(b.spark, app_dir).start()
    b.tracer.enabled = True
    client = {}
    for i, (q, mode) in enumerate(pool[: b.sizes["probe_queries"]]):
        t = time.perf_counter()
        with b.tracer.op(-1 - i, "op.http_query"):
            status, body = http_query(srv.port, q, mode)
        client[-1 - i] = time.perf_counter() - t
        if status != 200:
            raise RuntimeError(f"probe query {q!r} returned HTTP {status}: {body}")
    b.tracer.enabled = False
    server = {s[4]: s[2] - s[1] for s in b.tracer.spans if s[0] == "server.query" and s[2]}
    b.server_overhead = [c - server[op] for op, c in client.items() if op in server]


def _ingest_probe(b, index_dir: str, pool: list) -> None:
    """One micro-batch, delete and compaction into the workload's index
    (http_lookup's loop never writes)."""
    from workloads import ingest, stage_batch

    from marlin_spark.query.engine import SearchEngine
    from marlin_spark.streaming.incremental import IncrementalIndexer

    sz = b.sizes
    batch = stage_batch(b, sz["http_convs"], sz["probe_ingest_convs"], "probe_batch")
    eng = SearchEngine(b.spark, index_dir)
    inc = IncrementalIndexer(b.spark, index_dir)
    keys = [(r["conv_id"], r["turn_idx"]) for r in batch[1][: sz["delete_keys"]]]
    b.tracer.enabled = True
    with b.tracer.op(-1000, "op.ingest"):
        # answers of this probe are not checked, so no live collection
        qs = pool[: sz["probe_queries"]]
        b.ingest_run = ingest(b, eng, inc, batch, qs, qs, keys, {}, 0.0)
    b.tracer.enabled = False


def all_layers(b, rows: list[dict], index_dir: str, app_dir: str, pool: list) -> None:
    _build_and_catalog(b, index_dir)
    _kernels(b, rows, index_dir)
    _engine(b, index_dir, pool)
    if not getattr(b, "server_overhead", None):
        _server_probe(b, app_dir, pool)
    if not getattr(b, "ingest_run", None):
        _ingest_probe(b, index_dir, pool)

    run = b.ingest_run
    b.layer["server.overhead_ms"] = statistics.median(b.server_overhead) * 1000
    b.layer["incremental.process_batch_s"] = run["process_batch_s"]
    b.layer["incremental.write_bytes_per_input_byte"] = run["write_bytes"] / run["in_bytes"]
    b.layer["incremental.delta_segments"] = run["delta_segments"]
    b.layer["incremental.delete_s"] = run["delete_s"]
    b.layer["incremental.compact_s"] = run["compact_s"]
    b.layer["incremental.compact_bytes_rewritten"] = run["compact_bytes"]

    tr = b.tracer
    b.layer["engine.plan_ms"] = statistics.median(tr.durations("engine.plan")) * 1000
    b.layer["engine.search_local_ms"] = statistics.median(tr.durations("engine.search_local")) * 1000
    selfs = tr.self_times()
    for layer in ("server", "engine", "incremental"):
        xs = [s for name, s in selfs if name.startswith(layer + ".")]
        b.layer[f"self.{layer}_ms"] = statistics.mean(xs) * 1000
    b.layer["trace.spans"] = len(tr.spans)
