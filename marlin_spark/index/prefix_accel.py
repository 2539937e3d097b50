"""Short-prefix accelerator: precomputed docid sets per <=L-char prefix.

The reference pre-builds docid/wid bitmaps for EVERY <=3-char prefix at
index time (dtrie add_shard_id walk, /root/reference/src/main/
dtrie.c:355-375) so its hottest workload — 1-8-char random prefix
queries (test/wrk/reddit.lua:13-27) — answers 1-3-char prefixes in O(1)
instead of walking the whole subtree. Without this, a 1-char prefix
match set here costs a dictionary range scan PLUS a postings scan over
every matching term — O(matching terms), linear in vocabulary growth.

Spark-first analog: one build pass explodes each postings block to its
term's 1..L-char prefixes, groups by (prefix, range_id) — bounded by
range_size docids per group, so Zipf-head prefixes spread across ranges
instead of one reducer — unions the docids, and stores one compressed
varbyte blob per group:

    prefix_accel/fc=c/   prefix range_id n_docs postings
                         (fc = first-char class of the PREFIX, so a
                         prefix query prunes to one partition; files
                         sorted by prefix -> row-group stats finish)

Query-side (engine._docids_for): a <=L-char prefix reads its blobs with
partition + row-group pruning and decodes docids directly — no
dictionary expansion, no per-term postings scan. Uncompacted streaming
deltas are consulted separately (compaction rebuilds the accelerator
and commits it with the dictionary).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from marlin_spark.config import EngineConfig
from marlin_spark.functions.codec import vb_decode, vb_encode
from marlin_spark.index.catalog import IndexCatalog, term_fc_col

ACCEL_SCHEMA = "prefix string, range_id int, n_docs int, postings binary"


def encode_docids(docids: np.ndarray) -> bytes:
    """Delta+varbyte docid-set blob: [n, d1, d2-d1, ...]."""
    n = docids.shape[0]
    head = np.empty(n + 1, dtype=np.uint64)
    head[0] = n
    if n:
        head[1] = docids[0]
        head[2:] = np.diff(docids.astype(np.uint64))
    return vb_encode(head)


def decode_docids(blob: bytes) -> np.ndarray:
    vals = vb_decode(blob)
    n = int(vals[0])
    return np.cumsum(vals[1 : 1 + n]).astype(np.int64)


def build_prefix_accel(
    spark: SparkSession, cat: IndexCatalog, cfg: EngineConfig,
    postings: str = "postings", table: str = "prefix_accel",
) -> dict:
    """Build table ``table`` (default prefix_accel/) from the posting
    blocks of table ``postings``. Cost:
    one postings scan + a shuffle of exploded docid blobs keyed
    (prefix, range_id) — every group <= range_size docids, head-prefix
    skew spread structurally across ranges."""
    L = cfg.prefix_accel_len
    posts = cat.read(spark, postings).select("term", "range_id", "postings")
    pref = posts.withColumn(
        "prefix",
        F.explode(
            F.array_distinct(
                F.array(*[F.substring("term", 1, i) for i in range(1, L + 1)])
            )
        ),
    ).select("prefix", "range_id", "postings")

    def merge(key, pdf):
        import pandas as pd

        from marlin_spark.functions.codec import decode_block

        docs = np.unique(
            np.concatenate(
                [decode_block(bytes(b))[0] for b in pdf["postings"]]
            ).astype(np.int64)
        )
        return pd.DataFrame(
            {
                "prefix": [key[0]],
                "range_id": [int(key[1])],
                "n_docs": [int(docs.size)],
                "postings": [encode_docids(docs)],
            }
        )

    out = (
        pref.groupBy("prefix", "range_id")
        .applyInPandas(merge, ACCEL_SCHEMA)
        .withColumn("fc", term_fc_col(F.col("prefix")))
    )
    cat.write(
        out.sortWithinPartitions("prefix", "range_id"),
        table,
        partition_by=["fc"],
    )
    stored = cat.read(spark, table)
    row = stored.agg(
        F.count("*").alias("n_groups"),
        F.countDistinct("prefix").alias("n_prefixes"),
    ).collect()[0]
    return {
        "n_groups": int(row["n_groups"]),
        "n_prefixes": int(row["n_prefixes"]),
        "prefix_accel_len": L,
    }


def accel_docids_df(
    spark: SparkSession, cat: IndexCatalog, prefixes: list[str]
) -> DataFrame:
    """Distinct docids holding any term with one of the (short) prefixes:
    partition-pruned + row-group-pruned blob read, decoded in one
    mapInPandas — no dictionary or postings touch."""
    from marlin_spark.query.fuzzy import term_fc_py

    fcs = sorted({term_fc_py(p) for p in prefixes})
    blobs = (
        cat.read(spark, "prefix_accel")
        .filter(F.col("fc").isin(fcs) & F.col("prefix").isin(prefixes))
        .select("postings")
    )

    def decode(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            arrs = [decode_docids(bytes(b)) for b in pdf["postings"]]
            yield pd.DataFrame(
                {"docid": np.unique(np.concatenate(arrs))}
            )

    return blobs.mapInPandas(decode, "docid long").distinct()
