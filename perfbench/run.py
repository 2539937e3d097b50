"""Repository benchmark for marlin_spark.

Run from the repository root:

    python3 perfbench/run.py --workload http_lookup --seed 1 --seconds 8 --trace 0

Workloads (names, metrics and bounds are declared in ../BENCHMARK.json):

  http_lookup  Closed loop, one client, ``POST /1/indexes/<name>/query``
               over a real socket against ``MarlinServer``. Set-up stages
               a seeded corpus, builds the index with
               ``IndexBuilder.build`` and warms the query path with ten
               requests from a pool of their own. Requests
               come from a seeded pool: 1-3 words, Zipf over the
               vocabulary, Zipf in popularity, 20% mode=all. After the
               window, one ``search_many_wand`` batch of the same stream
               gives ``batch_qps``.
  ingest_nrt   One caller. Set-up builds a base index. The timed section
               runs one micro-batch through
               ``IncrementalIndexer.process_batch``, then passes of a fixed
               set of distinct ``search_local`` queries while the delta
               segment is live, until ``--seconds`` have passed since the
               batch started (at least five passes), then one
               ``delete_turns`` of a fixed sample, ``compact()``,
               ``refresh()`` and a fixed sample of the queries again.

Every query pool has the same mix of shapes whatever the seed (word
counts 1, 2 and 3 in equal shares, a fixed share in mode=all); the seed
picks the words and the order.

Bulk build and batch query have no workload of their own: a run costs
~30 s of set-up (JVM start and the first build in it), which leaves room
for two workloads in the time a full benchmark pass may take. Their
layers are measured on both workloads: the set-up build's counters and
turns/s, and a batch of ``search_many_wand``.

Each run prints the declared metrics, then the workload's own figures
(``lookup_p95_ms``, ``build_turns_per_s``, ``batch_qps``;
``ingest_turns_per_s``, ``nrt_lookup_p50_ms``, ``nrt_lookup_p95_ms``,
``compact_s``), diagnostics and ``failed_frac``.

Session shape, the same for every run: a fresh JVM per run,
``local[<cpus>]`` with shuffle partitions = 2 x cpus, driver bound to
127.0.0.1, Spark local dirs, temp files and index dirs under
``.bench_work/`` in the checkout (a run writes nowhere else), indexes
built with ``TERM_BUCKETS`` term buckets, the Spark UI off unless
``--trace 1``, and ``PYTHONHASHSEED=0`` in this process (it re-executes
itself to set it). Load average and CPU steal over the timed window are
printed as diagnostics only; they adjust nothing.

Timings are medians over the run, never best-of-N. Set-up (session
start, staging, index build, warm-up, and a garbage collection in the
JVM and in this process) is reported as ``setup_s`` and lies outside
every other timing. After the timed window, answers are
checked against ``oracle.bm25.OracleIndex`` over the same generated
corpus; a wrong answer, an HTTP status other than 200 or an exception
counts as a failed operation.

``--trace 1`` records spans around calls into the program's modules and
prints the per-layer metrics (layers.py) instead of the end-to-end ones.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# 8 term buckets instead of the default 32: the indexes hold ~1 MB of
# postings, so a bucket still holds ~130 KB, and compact(), which
# repartitions into 4 x buckets tasks, takes ~10 s instead of ~19 s on
# 4 cores, which keeps an ingest_nrt run, JVM start and cold build
# included, near one minute
TERM_BUCKETS = 8

SIZES = {
    # conversations average ~4.5 turns
    "full": {
        "http_convs": 3000,        # ~13.5k turns
        "pool": 400,               # distinct (query, mode) pairs
        "base_convs": 2000,        # ~9k turns
        "batch_convs": 700,        # ~3.2k turns in the micro-batch
        "nrt_queries": 64,
        "nrt_passes": 5,
        "batch_queries": 200,
        "checked_queries": 16,
        "delete_keys": 50,
        "probe_queries": 12,
        "probe_batch": 200,
        "probe_ingest_convs": 100,
        "warm_queries": 10,
    },
    "smoke": {
        "http_convs": 300,
        "pool": 60,
        "base_convs": 200,
        "batch_convs": 40,
        "nrt_queries": 10,
        "nrt_passes": 2,
        "batch_queries": 50,
        "checked_queries": 10,
        "delete_keys": 5,
        "probe_queries": 4,
        "probe_batch": 30,
        "probe_ingest_convs": 20,
        "warm_queries": 2,
    },
}


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _set_process_env(work: str) -> None:
    """Keep every file the run writes inside the checkout (temp files,
    Spark scratch, the package zip shipped to workers) and keep bytecode
    caches out of the interpreter's own directories."""
    import tempfile

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # every JVM the run starts (launcher and driver): temp files in the
    # checkout, and no hsperfdata files under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    sys.dont_write_bytecode = True


class Bench:
    """State of one run: session, work dirs, tracer, operation counts and
    the metrics measured so far."""

    def __init__(self, args, work: str):
        from tracer import Tracer

        self.args = args
        self.seed = args.seed
        self.traced = bool(args.trace)
        self.sizes = SIZES["smoke" if args.smoke else "full"]
        self.data = os.path.join(work, "data")
        os.makedirs(self.data, exist_ok=True)
        self.tracer = Tracer()
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.e2e: dict[str, float] = {}
        # the workload's own figures (build_turns_per_s, batch_qps, ...):
        # name -> (value, unit); printed, not part of the JSON result
        self.report: dict[str, tuple[float, str]] = {}
        self.layer: dict[str, float] = {}
        self.info: dict[str, object] = {}
        self.spark = None
        self.server = None
        self._restore = None

    def start_session(self) -> None:
        from marlin_spark.session import get_spark

        cpus = _cpus()
        t = time.perf_counter()
        self.spark = get_spark(
            "perfbench",
            master=f"local[{cpus}]",
            shuffle_partitions=2 * cpus,
            extra_conf={
                "spark.ui.enabled": "true" if self.traced else "false",
                "spark.ui.port": "0",
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.memory": "2g",
                "spark.driver.host": "127.0.0.1",
                "spark.driver.bindAddress": "127.0.0.1",
            },
        )
        self.layer["session.start_s"] = time.perf_counter() - t
        if self.traced:
            self._instrument()

    def _instrument(self) -> None:
        from tracer import instrument

        from marlin_spark.app import MarlinApp
        from marlin_spark.index.build import IndexBuilder
        from marlin_spark.query.engine import SearchEngine
        from marlin_spark.server import MarlinServer
        from marlin_spark.streaming.incremental import IncrementalIndexer

        self._restore = instrument(self.tracer, [
            (MarlinServer, "query", "server.query"),
            (MarlinApp, "query", "app.query"),
            (SearchEngine, "plan", "engine.plan"),
            (SearchEngine, "search", "engine.search"),
            (SearchEngine, "search_local", "engine.search_local"),
            (SearchEngine, "search_many_wand", "engine.search_many_wand"),
            (SearchEngine, "refresh", "engine.refresh"),
            (IncrementalIndexer, "process_batch", "incremental.process_batch"),
            (IncrementalIndexer, "delete_turns", "incremental.delete_turns"),
            (IncrementalIndexer, "compact", "incremental.compact"),
            (IndexBuilder, "build", "build.build"),
        ])

    def setup_done(self) -> None:
        self.e2e["setup_s"] = time.perf_counter() - T_START

    def build(self, src: str, index_dir: str) -> dict:
        from marlin_spark.config import EngineConfig
        from marlin_spark.index.build import IndexBuilder

        cfg = EngineConfig(build_partitions=2 * _cpus(), n_term_buckets=TERM_BUCKETS)
        t = time.perf_counter()
        counters = IndexBuilder(self.spark, index_dir, cfg).build(
            self.spark.read.parquet(src), "bench", source_path=src)
        self.build_s = time.perf_counter() - t
        return counters

    def job_id(self) -> int:
        """Highest Spark job id so far (ids are sequential)."""
        return max(self.spark.sparkContext.statusTracker().getJobIdsForGroup(), default=-1)

    def count(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)

    def close(self) -> None:
        """Stop the server and Spark, and wait for the JVM to exit."""
        if self.server is not None:
            self.server.stop()
            self.server = None
        if self._restore:
            self._restore()
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)


def _declared_units() -> tuple[dict, dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def main() -> int:
    # str hashes are salted per process, and the salt changes the order in
    # which the program walks its sets and dicts: on identical inputs the
    # NRT lookup median moved by ~10% from one process to the next. Every
    # run uses the same salt.
    if os.environ.get("PYTHONHASHSEED") != "0":
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable, [sys.executable, *sys.argv])
    ap = argparse.ArgumentParser(description="marlin_spark repository benchmark")
    ap.add_argument("--workload", required=True, choices=["http_lookup", "ingest_nrt"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for the benchmark's own tests")
    args = ap.parse_args()

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _set_process_env(work)
    sys.path.insert(1, ROOT)
    import marlin_spark  # noqa: F401 — fails fast outside a full checkout
    from workloads import WORKLOADS

    e2e_units, layer_units = _declared_units()
    b = Bench(args, work)
    try:
        WORKLOADS[args.workload](b)
    finally:
        b.close()
        if b.tracer.spans:
            b.tracer.dump(os.path.join(work, "spans.jsonl"))
        for scratch in ("data", "local", "tmp"):
            shutil.rmtree(os.path.join(work, scratch), ignore_errors=True)

    units, values = (layer_units, b.layer) if args.trace else (e2e_units, b.e2e)
    missing = sorted(set(units) - set(values))
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    metrics = {n: {"value": float(values[n]), "unit": u} for n, u in units.items()}
    with open(os.path.join(work, "result.json"), "w") as f:
        json.dump({"metrics": metrics, "info": b.info, "errors": b.errors}, f, indent=1)
    for n, m in metrics.items():
        print(f"{args.workload} {n} = {m['value']:.6g} {m['unit']}")
    for n, (v, u) in b.report.items():
        print(f"{args.workload} {n} = {v:.6g} {u}")
    for n, v in b.info.items():
        print(f"{args.workload} info {n} = {v}")
    print(f"{args.workload} failed_frac = {b.failed / max(1, b.attempted):.6g} "
          f"({b.failed} of {b.attempted} operations)")
    for e in b.errors[:5]:
        print(f"{args.workload} error: {e}")
    print(json.dumps({"correct": b.failed == 0, "attempted": b.attempted,
                      "failed": b.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
