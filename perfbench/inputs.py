"""Seeded inputs: transcript corpora, micro-batches and query streams.

Everything here is a pure function of the workload seed, so the same
seed gives the same corpus, the same queries and the same request
order. The program under test only ever sees the generated parquet files
and query strings.
"""

from __future__ import annotations

import itertools
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from marlin_spark.oracle.corpus import VOCAB, n_turns_for, turn_record

TRANSCRIPT_SCHEMA = pa.schema([
    ("conv_id", pa.string()),
    ("turn_idx", pa.int32()),
    ("role", pa.string()),
    ("text", pa.string()),
    ("tool", pa.string()),
    ("ts", pa.timestamp("us")),
])

# P(vocabulary rank r) ~ 1/(r+1), the corpus generator's own word law
_VOCAB_CUM = list(itertools.accumulate(1.0 / (r + 1.0) for r in range(len(VOCAB))))


def conversations(seed: int, first: int, n: int) -> list[dict]:
    """Turns of conversations ``first .. first+n-1``; conv_ids are
    zero-padded, so the list is already in (conv_id, turn_idx) order."""
    return [
        turn_record(seed, conv, t)
        for conv in range(first, first + n)
        for t in range(n_turns_for(seed, conv))
    ]


def stage_parquet(rows: list[dict], out_dir: str, n_files: int) -> int:
    """Write ``rows`` (sorted) as ``n_files`` contiguous parquet files;
    returns the bytes written. Contiguous sorted files let the build use
    its footer-proven docid path."""
    os.makedirs(out_dir, exist_ok=True)
    per = max(1, -(-len(rows) // n_files))
    total = 0
    for i in range(0, len(rows), per):
        path = os.path.join(out_dir, f"part-{i // per:05d}.parquet")
        pq.write_table(pa.Table.from_pylist(rows[i:i + per], schema=TRANSCRIPT_SCHEMA), path)
        total += os.path.getsize(path)
    return total


def query_pool(seed: int, n: int, all_frac: float = 0.2) -> list[tuple[str, str]]:
    """``n`` distinct (query, mode) pairs: 1-3 words drawn Zipf over the
    vocabulary, ``round(all_frac * n)`` of them conjunctive (mode='all').

    The mix of shapes is the same for every seed (word counts 1, 2 and 3
    in equal shares, in both modes); the seed picks the words and the
    order. A pool with more 3-word or conjunctive queries than another
    costs more per query, so a drawn mix would make latency depend on the
    seed rather than on the program."""
    rng = random.Random(f"pool:{seed}")
    n_all = round(all_frac * n)
    shapes = [(1 + i % 3, "all" if i < n_all else "any") for i in range(n)]
    rng.shuffle(shapes)
    pool: list[tuple[str, str]] = []
    seen: set = set()
    for n_words, mode in shapes:
        while True:
            item = (" ".join(rng.choices(VOCAB, cum_weights=_VOCAB_CUM, k=n_words)), mode)
            if item not in seen:
                break
        seen.add(item)
        pool.append(item)
    return pool


def request_stream(seed: int, pool: list, n: int, s: float = 1.1) -> list[tuple[str, str]]:
    """``n`` requests drawn from ``pool`` with Zipf(s) popularity, so
    popular queries repeat."""
    rng = random.Random(f"stream:{seed}")
    cum = list(itertools.accumulate(1.0 / (i + 1.0) ** s for i in range(len(pool))))
    return rng.choices(pool, cum_weights=cum, k=n)
