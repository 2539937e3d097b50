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


def token_counts(texts: list, analyzer: str) -> np.ndarray:
    """token_count_col on the driver: the index-mode token count of each
    of ``texts`` (None counts 0), int32, from the Python tokenizer the
    block builder indexes with. For simple and whitespace it counts the
    Catalyst expressions' tokens: both split on ASCII separators only,
    as Java's regex does."""
    from marlin_spark.oracle.tokenizer import analyze_batch

    return analyze_batch(texts, analyzer, "index")[0].astype(np.int32)


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
