"""Size sweeps of the placements of an NRT write: the measurements
behind ``streaming.incremental.DRIVER_BATCH_MAX``,
``DRIVER_BATCH_BYTES`` and ``COMPACT_DRIVER_BYTES``.

Builds one base index the shape of perfbench's ingest_nrt (its seeded
corpus, 8 term buckets), then for each batch size runs one write per
placement on a fresh copy of that base, rotating which placement runs
first, and times ``IncrementalIndexer.process_batch`` (or, with ``--op
update``, ``update_turns``) end to end, bounded collect included. The
placements are ``driver`` and ``spark`` (each forced through both
gates) and ``gate`` (the module's gates as they are: what a caller
gets). Also records the rise of the process's peak RSS over its value
after the base build (sizes run in ascending order, so a rise is the
largest batch's so far). Prints one JSON line per run and a summary
line of medians per (size, placement).

    python scripts/nrt_gate_sweep.py --sizes 100,400,1600,4000 --reps 3
    python scripts/nrt_gate_sweep.py --sizes 20,40,80 --turn-chars 16000 \
        --placements driver

Sizes are in conversations (~4.5 turns each). ``--turn-chars N``
lengthens every turn's text to at least N characters with the texts of
the turns after it (a long-turn corpus: tool outputs, documents).

``--op compact`` sweeps index sizes instead: each size is a base of
that many conversations plus one micro-batch of a third as many and 50
key deletes (ingest_nrt's write cycle, scaled), and each run times
``compact()`` over a fresh copy of it in a fresh process, reporting the
compaction's input bytes on disk and the rise of that process's RSS
(sampled every 2 ms) over its value after Spark started:

    python scripts/nrt_gate_sweep.py --op compact --sizes 2000,8000,30000 \
        --reps 2

The script only imports ``IncrementalIndexer`` and sets the gates it
finds, so it also times a checkout without them (``gate`` is then that
checkout's own placement). Needs pyspark and a local JVM; takes a few
minutes at the default sizes on 4 cores.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sizes", default="100,400,1600,4000,8000")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--base-convs", type=int, default=2000)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--master", default="local[4]")
    ap.add_argument("--placements", default="driver,spark")
    ap.add_argument("--turn-chars", type=int, default=0)
    ap.add_argument("--op", choices=("process", "update", "compact"), default="process")
    # internal: one timed compact() of this index dir, in this process
    ap.add_argument("--compact-one", help=argparse.SUPPRESS)
    ap.add_argument("--placement", help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.compact_one:
        _compact_one(args)
        return
    if args.op == "compact":
        _sweep_compact(args)
        return

    import pyarrow as pa
    from inputs import TRANSCRIPT_SCHEMA, conversations, stage_parquet

    from marlin_spark.config import EngineConfig
    from marlin_spark.index.build import IndexBuilder
    from marlin_spark.session import get_spark
    from marlin_spark.streaming import incremental

    work = tempfile.mkdtemp(prefix="nrt_sweep_")
    spark = get_spark("nrt-gate-sweep", master=args.master, shuffle_partitions=8)
    try:
        base_src = os.path.join(work, "base")
        stage_parquet(conversations(args.seed, 0, args.base_convs), base_src, 8)
        base = os.path.join(work, "index")
        IndexBuilder(spark, base, EngineConfig(n_term_buckets=8)).build(
            spark.read.parquet(base_src), "sweep", source_path=base_src
        )
        names = ("DRIVER_BATCH_MAX", "DRIVER_BATCH_BYTES")
        gates = {
            "driver": (10**9, 10**15),
            "spark": (-1, -1),
            "gate": tuple(getattr(incremental, n, None) for n in names),
        }
        placements = args.placements.split(",")
        base_rss = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        times: dict = {}
        for size in (int(s) for s in args.sizes.split(",")):
            rows = conversations(args.seed, args.base_convs, size)
            if args.turn_chars:
                rows = _lengthen(rows, args.turn_chars)
            src = os.path.join(work, f"batch{size}")
            stage_parquet(rows, src, 2)
            nbytes = pa.Table.from_pylist(rows, schema=TRANSCRIPT_SCHEMA).nbytes
            for rep in range(args.reps):
                k = rep % len(placements)
                for placement in placements[k:] + placements[:k]:
                    d = os.path.join(work, "run")
                    shutil.rmtree(d, ignore_errors=True)
                    shutil.copytree(base, d)
                    for n, v in zip(names, gates[placement]):
                        if v is not None:
                            setattr(incremental, n, v)
                    inc = incremental.IncrementalIndexer(spark, d)
                    write = inc.process_batch if args.op == "process" else inc.update_turns
                    t = time.perf_counter()
                    write(spark.read.parquet(src), 0)
                    secs = time.perf_counter() - t
                    times.setdefault((len(rows), placement), []).append(secs)
                    print(json.dumps({
                        "turns": len(rows), "arrow_bytes": nbytes,
                        "placement": placement, "rep": rep,
                        "seconds": round(secs, 4),
                        "peak_rss_rise_mb": round(
                            resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
                            - base_rss, 1
                        ),
                    }), flush=True)
        print(json.dumps({
            "median_seconds": {
                f"{turns}:{placement}": round(statistics.median(v), 4)
                for (turns, placement), v in sorted(times.items())
            },
            "loadavg": os.getloadavg(),
        }))
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


_COMPACT_GATES = {"driver": 10**15, "spark": -1}


def _sweep_compact(args) -> None:
    """--op compact: builds each index size with Spark, then stops it and
    times every (placement, rep) compaction in a child process."""
    import subprocess

    from inputs import conversations, stage_parquet

    from marlin_spark.config import EngineConfig
    from marlin_spark.index.build import IndexBuilder
    from marlin_spark.session import get_spark
    from marlin_spark.streaming.incremental import IncrementalIndexer

    work = tempfile.mkdtemp(prefix="compact_sweep_")
    sizes = [int(s) for s in args.sizes.split(",")]
    placements = args.placements.split(",")
    try:
        spark = get_spark("compact-gate-sweep", master=args.master, shuffle_partitions=8)
        try:
            for size in sizes:
                base = conversations(args.seed, 0, size)
                src = os.path.join(work, f"src{size}")
                stage_parquet(base, src, 8)
                d = os.path.join(work, f"index{size}")
                IndexBuilder(spark, d, EngineConfig(n_term_buckets=8)).build(
                    spark.read.parquet(src), "sweep", source_path=src
                )
                batch = os.path.join(work, f"batch{size}")
                stage_parquet(conversations(args.seed, size, max(1, size // 3)), batch, 2)
                inc = IncrementalIndexer(spark, d)
                inc.process_batch(spark.read.parquet(batch), 0)
                step = max(1, len(base) // 50)
                inc.delete_turns([(r["conv_id"], r["turn_idx"]) for r in base[::step]][:50])
        finally:
            spark.stop()
        times: dict = {}
        for size in sizes:
            for rep in range(args.reps):
                k = rep % len(placements)
                for placement in placements[k:] + placements[:k]:
                    run = os.path.join(work, "run")
                    shutil.rmtree(run, ignore_errors=True)
                    shutil.copytree(os.path.join(work, f"index{size}"), run)
                    out = subprocess.run(
                        [sys.executable, os.path.abspath(__file__), "--compact-one", run,
                         "--placement", placement, "--master", args.master],
                        check=True, capture_output=True, text=True,
                    ).stdout.strip().splitlines()[-1]
                    row = dict(json.loads(out), base_convs=size, rep=rep)
                    times.setdefault((size, placement), []).append(row["seconds"])
                    print(json.dumps(row), flush=True)
        print(json.dumps({
            "median_seconds": {
                f"{size}:{placement}": round(statistics.median(v), 4)
                for (size, placement), v in sorted(times.items())
            },
            "loadavg": os.getloadavg(),
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _compact_one(args) -> None:
    """One timed compact() of ``args.compact_one`` on ``args.placement``
    (a gate name of _COMPACT_GATES, or ``gate``: the module's own)."""
    from marlin_spark.session import get_spark
    from marlin_spark.streaming import incremental

    spark = get_spark("compact-one", master=args.master, shuffle_partitions=8)
    try:
        if args.placement != "gate":
            incremental.COMPACT_DRIVER_BYTES = _COMPACT_GATES[args.placement]
        inc = incremental.IncrementalIndexer(spark, args.compact_one)
        in_bytes = sum(inc.cat.dir_bytes(t) for t in
                       ("docs", "docs_delta", "postings", "postings_delta"))
        # Spark's start peaks above what a small compaction adds, so the
        # rise is sampled from the current RSS, not read off ru_maxrss
        base_rss, peak, done = _rss_mb(), [0.0], threading.Event()

        def sample() -> None:
            while not done.wait(0.002):
                peak[0] = max(peak[0], _rss_mb())

        sampler = threading.Thread(target=sample, daemon=True)
        sampler.start()
        t = time.perf_counter()
        inc.compact()
        secs = time.perf_counter() - t
        done.set()
        sampler.join()
        print(json.dumps({
            "input_mb": round(in_bytes / 2**20, 2),
            "placement": inc.cat.read_snapshot()["summary"].get("placement", args.placement),
            "seconds": round(secs, 4),
            "peak_rss_rise_mb": round(max(peak[0], _rss_mb()) - base_rss, 1),
        }), flush=True)
    finally:
        spark.stop()


def _rss_mb() -> float:
    """This process's resident set size now, in MB."""
    with open("/proc/self/statm") as f:
        return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") / 2**20


def _lengthen(rows: list[dict], chars: int) -> list[dict]:
    """``rows`` with each text extended to at least ``chars`` characters
    by the texts of the rows after it (cyclically)."""
    texts = [r["text"] for r in rows if r["text"]]
    out = []
    for i, r in enumerate(rows):
        parts, n, j = [], 0, i
        while n < chars:
            parts.append(texts[j % len(texts)])
            n += len(parts[-1]) + 1
            j += 1
        out.append(dict(r, text=" ".join(parts)))
    return out


if __name__ == "__main__":
    main()
