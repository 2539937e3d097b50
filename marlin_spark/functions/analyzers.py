"""Arrow-vectorized analyzer UDFs (the engine's "scalar function" layer).

The reference registers pluggable C analyzers
(/root/reference/src/analyzer/analyzer.c:1-34); here an analyzer is either
a native Column expression (simple/whitespace — pure Catalyst, SQL-
expressible) or a ``pandas_udf`` wrapping the oracle tokenizer (marlin
fidelity mode). Per the input_hint there is no per-row Python UDF anywhere:
the marlin tokenizer runs inside an Arrow-batched pandas_udf.

Token schema: array<struct<term:string, pos:int>> with 1-based positions,
matching /root/reference/src/analyzer/default_analyzer.c emission order.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

TOKENS_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("term", T.StringType(), False),
            T.StructField("pos", T.IntegerType(), False),
        ]
    )
)


def _batch_token_structs(texts: pd.Series, mode: str) -> pd.Series:
    """Full token emission through the BATCH tokenizer (one C-level pass
    per fast-path doc) re-assembled into the array<struct> column shape;
    replaces the round-3 per-string ``texts.map`` path."""
    from itertools import islice

    from marlin_spark.oracle.tokenizer import analyze_batch

    counts, terms, pos = analyze_batch(
        ["" if s is None else s for s in texts], "marlin", mode
    )
    it = iter(zip(terms.tolist(), pos.tolist()))
    return pd.Series([list(islice(it, int(c))) for c in counts])


@F.pandas_udf(TOKENS_TYPE)
def marlin_tokens(texts: pd.Series) -> pd.Series:
    """Index-mode marlin analyzer over an Arrow batch of texts."""
    return _batch_token_structs(texts, "index")


@F.pandas_udf(TOKENS_TYPE)
def marlin_tokens_search(texts: pd.Series) -> pd.Series:
    return _batch_token_structs(texts, "search")


@F.pandas_udf(T.IntegerType())
def marlin_token_count(texts: pd.Series) -> pd.Series:
    """Count-only index-mode analyzer (dl computation): skips building
    the array<struct> tokens column entirely — the batch tokenizer's
    counts vector goes straight back through Arrow as int32."""
    from marlin_spark.oracle.tokenizer import analyze_batch

    counts, _terms, _pos = analyze_batch(texts.tolist(), "marlin", "index")
    return pd.Series(counts.astype("int32"))


def token_count_col(col: Column, analyzer: str, mode: str = "index") -> Column:
    """Token count (dl) column — cheaper than F.size(tokens_col(...)) for
    the marlin analyzer (no struct-array Arrow marshal)."""
    if analyzer == "marlin" and mode == "index":
        return marlin_token_count(col)
    return F.size(tokens_col(col, analyzer, mode))


# the non-empty pieces of the Catalyst split patterns below: Java's \s
# (no UNICODE_CHARACTER_CLASS) is ASCII-only, unlike Python's str.split()
_TOKEN_RUNS = {
    "simple": re.compile(r"[a-z0-9]+"),
    "whitespace": re.compile(r"[^ \t\n\x0b\f\r]+"),
}


def token_counts(texts: list, analyzer: str) -> np.ndarray:
    """token_count_col on the driver: the index-mode token count of each
    of ``texts`` (None counts 0), int32. simple and whitespace count the
    Catalyst expressions' tokens, not the Python tokenizer's, so a dl
    computed here equals the one Spark writes (whitespace_tokenize also
    splits on non-ASCII whitespace such as U+00A0; Java's \\s does not)."""
    if analyzer == "marlin":
        from marlin_spark.oracle.tokenizer import analyze_batch

        return analyze_batch(texts, "marlin", "index")[0].astype(np.int32)
    runs = _TOKEN_RUNS[analyzer]
    fold = str.lower if analyzer == "simple" else str
    return np.fromiter(
        (len(runs.findall(fold(t))) if t else 0 for t in texts),
        dtype=np.int32, count=len(texts),
    )


def simple_tokens(col: Column) -> Column:
    """SQL-expressible analyzer: lowercase, split on non-[a-z0-9].

    Pure Catalyst (whole-stage-codegen'd, no Python): equivalent DuckDB is
    ``string_split_regex(lower(text), '[^a-z0-9]+')`` with empties removed.
    """
    arr = F.filter(F.split(F.lower(col), "[^a-z0-9]+"), lambda t: t != "")
    return _with_positions(arr)


def whitespace_tokens(col: Column) -> Column:
    arr = F.filter(F.split(col, r"\s+"), lambda t: t != "")
    return _with_positions(arr)


def _with_positions(arr: Column) -> Column:
    return F.transform(
        arr,
        lambda t, i: F.struct(
            t.alias("term"), (i + 1).cast("int").alias("pos")
        ),
    )


def tokens_col(col: Column, analyzer: str, mode: str = "index") -> Column:
    """Dispatch: analyzer name -> tokens column (array<struct<term,pos>>)."""
    if analyzer == "marlin":
        return marlin_tokens(col) if mode == "index" else marlin_tokens_search(col)
    if analyzer == "simple":
        return simple_tokens(col)
    if analyzer == "whitespace":
        return whitespace_tokens(col)
    raise ValueError(f"unknown analyzer {analyzer!r}")
