"""Deterministic dense docid assignment at cluster scale.

The reference assigns dense per-shard uint32 docids on a single writer
thread (/root/reference/src/main/sdata.c:100-134). Distributed, the same
determinism comes from defining docid := global rank of the unique key
(conv_id, turn_idx) — a pure function of the data, independent of
partitioning, sampling or executor count (BASELINE.json requires stable
turn ordering; never ``monotonically_increasing_id``).

Implementation avoids the single-partition global window:
1. range-repartition + sort by the key (distributed sort),
2. count rows per partition (tiny driver-side cumsum -> offsets),
3. per-partition row_number + broadcast-joined offset.

The repartitioned frame is persisted so steps 2 and 3 observe the same
(sampled) range boundaries; correctness does not depend on the sampling —
only on both jobs seeing the same one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


def with_dense_ids(
    df: DataFrame,
    order_cols: list[str],
    id_col: str = "docid",
    num_partitions: int | None = None,
    start: int = 1,
) -> DataFrame:
    """Add ``id_col`` = dense 1-based rank of ``order_cols`` (unique key)."""
    spark = df.sparkSession
    n = num_partitions or spark.conf.get("spark.sql.shuffle.partitions")
    part = df.repartitionByRange(int(n), *order_cols).sortWithinPartitions(
        *order_cols
    )
    part = part.withColumn("_pid", F.spark_partition_id())
    part.persist(StorageLevel.MEMORY_AND_DISK)
    counts = part.groupBy("_pid").count().orderBy("_pid").collect()
    offsets = {}
    acc = start - 1
    for row in counts:
        offsets[row["_pid"]] = acc
        acc += row["count"]
    spark_offsets = spark.createDataFrame(
        [(int(pid), int(off)) for pid, off in offsets.items()],
        "pid int, _offset long",
    )
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    out = (
        part.withColumn("_rn", F.row_number().over(w))
        .join(F.broadcast(spark_offsets), F.col("_pid") == F.col("pid"))
        .withColumn(id_col, (F.col("_offset") + F.col("_rn")).cast("long"))
        .drop("_pid", "pid", "_rn", "_offset")
    )
    return out


# ---------------------------------------------------------------------------
# Zero-shuffle fast path: dense ids over an already range-sorted parquet table
# ---------------------------------------------------------------------------

def sorted_files_layout(
    path: str, key0: str
) -> list[tuple[str, int, int]] | None:
    """Driver-side parquet-footer proof that ``path``'s files are pairwise
    DISJOINT and internally ordered on ``key0`` (first sort-key column).

    Strict disjointness on the first key column alone is sufficient for
    lexicographic-tuple disjointness, so multi-column sort keys need no
    composite stats. Returns ``[(file_basename, n_rows, docid_offset)]``
    in key order, or ``None`` when any footer lacks min/max stats or any
    boundary overlaps — callers must then fall back to the shuffling
    ``with_dense_ids``. Footer reads are metadata-only (no data pages);
    at cluster scale this is the same O(files) listing the scan already
    performs.
    """
    import glob as _glob
    import os as _os

    try:
        import pyarrow.parquet as _pq
    except Exception:
        return None

    files = sorted(
        f for f in _glob.glob(_os.path.join(path, "*.parquet"))
        if _os.path.isfile(f)
    ) or sorted(
        f for f in _glob.glob(_os.path.join(path, "part-*"))
        if _os.path.isfile(f) and not f.endswith((".crc", "_SUCCESS"))
    )
    if not files:
        return None
    per_file: list[tuple[object, object, str, int]] = []
    for f in files:
        try:
            md = _pq.ParquetFile(f).metadata
        except Exception:
            return None
        if md.num_rows == 0:
            continue
        idx = None
        rg0 = md.row_group(0)
        for i in range(rg0.num_columns):
            if rg0.column(i).path_in_schema == key0:
                idx = i
                break
        if idx is None:
            return None
        fmin = fmax = None
        prev_max = None
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(idx).statistics
            if st is None or not st.has_min_max:
                return None
            lo, hi = st.min, st.max
            # row groups within the file must be chained strictly on
            # key0 (equality across a boundary would need second-key
            # stats we cannot compose from independent column min/max)
            if prev_max is not None and not prev_max < lo:
                return None
            prev_max = hi
            fmin = lo if fmin is None else min(fmin, lo)
            fmax = hi if fmax is None else max(fmax, hi)
        per_file.append((fmin, fmax, _os.path.basename(f), md.num_rows))
    if not per_file:
        return None
    per_file.sort(key=lambda t: t[0])
    out: list[tuple[str, int, int]] = []
    acc = 0
    prev_max = None
    for fmin, fmax, base, n in per_file:
        if prev_max is not None and not prev_max < fmin:
            return None  # files overlap on key0 -> cannot offset-assign
        prev_max = fmax
        out.append((base, n, acc))
        acc += n
    return out


def dense_ids_over_sorted_files(
    spark, path: str, order_cols: list[str], id_col: str = "docid"
) -> DataFrame | None:
    """``with_dense_ids`` without the shuffle, for inputs that are already
    a range-sorted parquet table (e.g. a staged corpus or any table
    written by ``repartitionByRange().sortWithinPartitions()``).

    docid := per-file offset (from footer row counts, proven disjoint by
    ``sorted_files_layout``) + ``_metadata.row_index`` + 1 — a pure
    column expression over the scan, so the docs stage becomes a single
    read->write pass: no sampling job, no range shuffle, no persist, no
    per-partition count job. Rows must be sorted by ``order_cols``
    WITHIN each file (parquet footers cannot attest intra-row-group
    order, and nothing checks it at build time): callers opt in only
    for tables they staged sorted.

    Returns None when the layout proof fails (caller falls back).
    """
    layout = sorted_files_layout(path, order_cols[0])
    if layout is None or len(layout) > 65536:
        return None
    entries: list = []
    for base, _n, off in layout:
        entries.append(F.lit(base))
        entries.append(F.lit(off))
    offset_of = F.element_at(
        F.create_map(*entries),
        F.substring_index(F.col("_metadata.file_path"), "/", -1),
    )
    did = (offset_of + F.col("_metadata.row_index") + F.lit(1)).cast("long")
    df = spark.read.parquet(path)
    return df.withColumn(
        id_col,
        F.when(did.isNotNull(), did).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("dense_ids_over_sorted_files: unknown file "),
                    F.col("_metadata.file_path"),
                )
            ).cast("long")
        ),
    )
