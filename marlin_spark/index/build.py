"""Index build pipeline (SURVEY.md §3.2 Spark mapping; north rule core).

Stages, each a resumable manifest unit:

  A "docs"        transcripts -> deterministic docids (dense rank over
                  (conv_id, turn_idx)) -> tokenize (Arrow pandas_udf) ->
                  dl -> write docs/ partitioned by doc range; collection
                  stats (n_docs, avgdl) -> stats.json.
                  [reference analog: sdata_add_documents + doc blob sizes,
                   /root/reference/src/main/sdata.c:162-181, sindex.c:66-97]

  B "postings:rK" per contiguous docid-range group: ZERO-SHUFFLE block
                  build. mapInPandas directly over the docs/ scan
                  (docid, dl, text): each split tokenizes its docs and
                  assembles every (term, range_id) posting group locally
                  (range_id = docid // range_size is a pure function of
                  docid, so a doc slab owns its groups outright) ->
                  delta+varbyte blocks with skip pointers + block-max ->
                  small block coalesce -> postings/rgroup=K/bucket=NN/.
                  The round-1 design shuffled the exploded token stream
                  (~30x the text bytes) by (term, range_id); that exchange
                  was the measured non-scaling component on one box. Now
                  the only exchange in stage B is the compressed blocks
                  (~100x smaller than the tokens). Resume granularity is
                  the docid-range group: its scan is parquet-min/max
                  pruned and its output dir is overwritten idempotently.
                  [reference analog: string_new_word_pos + si_write_end
                   batch flush, /root/reference/src/main/sindex.c:658-726,184-254]

  C "dictionary"  postings -> groupBy(term): df, cf, n_blocks (merge
                  fan-in), global max_tfnorm; dense term_id by sorted term
                  -> dictionary/fc=c/ (first-char-class partitions +
                  sorted-by-term files => partition pruning for prefix and
                  fuzzy scans, parquet min/max stats within).
                  [reference analog: dtrie word->wid,
                   /root/reference/src/main/dtrie.c:452-484]

Counters (Spark accumulators -> manifest -> counters.json): postings
emitted, blocks built, bytes compressed, merge fan-in, and per stage its
wall seconds (stage_seconds) and Spark jobs (stage_jobs). A killed build
rerun with the same build_id skips completed units; a bucket-group's
partition overwrite is idempotent.
"""

from __future__ import annotations

import contextlib
import shutil
import time
from typing import Callable, Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from marlin_spark.config import EngineConfig
from marlin_spark.functions.analyzers import token_count_col
from marlin_spark.index.blocks import (
    BLOCK_SCHEMA,
    POSTINGS_ARROW_SCHEMA,
    POSTINGS_SCHEMA,
    make_block_merger,
    make_doc_range_builder,
)
from marlin_spark.index.catalog import (
    IndexCatalog,
    term_bucket_col,
    term_bucket_py,
    term_fc_col,
)
from marlin_spark.index.manifest import BuildManifest
from marlin_spark.operators.docids import with_dense_ids

# stable key columns every corpus must carry; the doc store otherwise
# keeps the SOURCE's own columns (auto-mapped tables are not forced into
# the transcript shape — reference stores the whole JSON doc, sdata.c)
DOC_KEYS = ["conv_id", "turn_idx"]


class IndexBuilder:
    def __init__(self, spark: SparkSession, index_dir: str, config: EngineConfig | None = None):
        self.spark = spark
        self.cfg = config or EngineConfig()
        self.cat = IndexCatalog(index_dir)

    # ------------------------------------------------------------------
    def build(self, transcripts: DataFrame, build_id: str = "build-0", resume: bool = True,
              source_path: str | None = None) -> dict:
        self._transcripts = transcripts
        # opt-in zero-shuffle docid path: set when `transcripts` IS the
        # full unfiltered scan of a range-sorted parquet table at this
        # path (verified from footers; falls back silently otherwise)
        self._source_path = source_path
        mf = BuildManifest(self.cat.dir, build_id)
        t0 = time.time()
        # wall seconds and Spark jobs per stage; a skipped (resumed) stage
        # reports ~0 of both
        stage_secs, stage_jobs = {}, {}
        mark = [t0, last_job_id(self.spark)]

        def lap(stage: str) -> None:
            now, job = time.time(), last_job_id(self.spark)
            stage_secs[stage] = round(now - mark[0], 2)
            stage_jobs[stage] = job - mark[1]
            mark[:] = now, job

        if not (resume and mf.is_done("docs")):
            # full (re)build starts a fresh table history: without this a
            # rebuild on a compacted index would write INTO the live
            # snapshot dirs through the catalog's path indirection. The
            # old history's segments, tombstones and postings go too:
            # their docids name other docs in the new one
            self.cat.clear_snapshots()
            for name in ("postings", "tombstones", "docs_delta", "postings_delta"):
                shutil.rmtree(self.cat.raw_path(name), ignore_errors=True)
            self._stage_docs(mf)
        lap("docs")
        # stage A wrote docs/; stats needed by the block builder
        stats = self.cat.read_json("stats.json")

        groups = self._range_groups(stats["n_docs"])
        for g, (lo, hi) in enumerate(groups):
            unit = f"postings:r{g}"
            if resume and mf.is_done(unit):
                continue
            self._stage_postings(mf, unit, g, lo, hi, len(groups), stats)
        lap("postings")

        if not (resume and mf.is_done("dictionary")):
            self._stage_dictionary(mf)
        lap("dictionary")

        if self.cfg.prefix_accel:
            if not (resume and mf.is_done("prefix_accel")):
                from marlin_spark.index.prefix_accel import build_prefix_accel

                info = build_prefix_accel(self.spark, self.cat, self.cfg)
                mf.mark_done("prefix_accel", info)
                s = self.cat.read_json("stats.json")
                s["prefix_accel_len"] = self.cfg.prefix_accel_len
                self.cat.write_json("stats.json", s)
            lap("prefix_accel")

        counters = mf.counters()
        counters["stage_seconds"] = stage_secs
        counters["stage_jobs"] = stage_jobs
        counters["build_seconds"] = round(time.time() - t0, 3)
        counters["n_docs"] = stats["n_docs"]
        self.cat.write_json("counters.json", counters)
        return counters

    # ------------------------------------------------------------------
    def _stage_docs(self, mf: BuildManifest) -> None:
        cfg = self.cfg
        phases: dict[str, float] = {}
        t = time.time()
        # transcripts arrive as an external DataFrame; builder reads it once
        src = self._transcripts
        docs = None
        if getattr(self, "_source_path", None):
            from marlin_spark.operators.docids import dense_ids_over_sorted_files

            docs = dense_ids_over_sorted_files(
                self.spark, self._source_path, ["conv_id", "turn_idx"], "docid"
            )
        phases["docid_plan"] = round(time.time() - t, 2)
        t = time.time()
        persisted = docs is None
        if docs is None:
            docs = with_dense_ids(src, ["conv_id", "turn_idx"], "docid",
                                  num_partitions=cfg.build_partitions)
        # dl counts tokens across ALL indexed fields (multi-field: the
        # reference walks every indexedFields entry, sindex.c:792-893)
        dl_col = None
        for fname in cfg.indexed_fields:
            s = F.when(F.col(fname).isNull(), F.lit(0)).otherwise(
                token_count_col(F.col(fname), cfg.analyzer, "index")
            )
            dl_col = s if dl_col is None else dl_col + s
        missing = [k for k in DOC_KEYS if k not in src.columns]
        if missing:
            raise ValueError(f"transcripts missing key columns {missing}")
        keep = [c for c in src.columns if c not in ("dl", "range_id", "docid")]
        docs = (
            docs.withColumn("dl", dl_col)
            .withColumn("range_id", (F.col("docid") / cfg.range_size).cast("int"))
            .select("docid", *keep, "dl", "range_id")
        )
        # docids are monotone within each written file (range-sorted
        # upstream), so parquet min/max stats give docid/range pruning for
        # free — no partitionBy needed (it would explode file count:
        # tasks x ranges commits serially on the driver).
        # Small row groups are load-bearing: stage B's zero-shuffle scan
        # parallelizes at row-group granularity (maxPartitionBytes can't
        # split a row group), so the split width of the postings build is
        # set HERE.
        rg_bytes = str(self.cfg.docs_row_group_mb * 1024 * 1024)
        # collection stats ride along on the write job (Observation
        # metrics) — no second read+agg pass over docs/
        from pyspark.sql import Observation

        obs = Observation("docs_stats")
        docs = docs.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.avg("dl").alias("avgdl"),
            F.sum("dl").alias("total"),
        )
        phases["plan"] = round(time.time() - t, 2)
        t = time.time()
        # over sorted source files, a scan task must read ONE file: Spark
        # packs small files into a task largest first, which would write
        # non-adjacent docid slabs, out of order, into one docs file.
        # An open cost of a whole split stops the packing.
        one_file_per_task = contextlib.nullcontext() if persisted else _conf(
            self.spark, "spark.sql.files.openCostInBytes",
            self.spark.conf.get("spark.sql.files.maxPartitionBytes"),
        )
        with one_file_per_task:
            self.cat.write(docs, "docs", options={"parquet.block.size": rg_bytes})
        phases["write_job"] = round(time.time() - t, 2)
        t = time.time()
        if persisted:
            docs.unpersist()  # release the with_dense_ids persist
        row = obs.get
        self.cat.write_json(
            "stats.json",
            {
                "n_docs": int(row["n"]),
                "avgdl": float(row["avgdl"] or 0.0),
                "total_tokens": int(row["total"] or 0),
                "k1": self.cfg.k1,
                "b": self.cfg.b,
                "analyzer": self.cfg.analyzer,
                "block_size": self.cfg.block_size,
                "range_size": self.cfg.range_size,
                "n_term_buckets": self.cfg.n_term_buckets,
                "indexed_fields": list(self.cfg.indexed_fields),
                "batch_capacity": self.cfg.batch_capacity,
                "max_docid": int(row["n"]),
                "build_id": mf.build_id,
            },
        )
        phases["stats"] = round(time.time() - t, 2)
        mf.mark_done(
            "docs",
            {"n_docs": int(row["n"]), "total_tokens": int(row["total"] or 0),
             "docs_phases": phases},
        )

    # ------------------------------------------------------------------
    def _range_groups(self, n_docs: int) -> list[tuple[int, int]]:
        """Split docids [1, n_docs] into build_groups contiguous slices
        ALIGNED to range_size boundaries, so a (term, range_id) posting
        group never spans two resume units. Returns inclusive docid
        bounds per group."""
        g = max(1, self.cfg.build_groups)
        rs = self.cfg.range_size
        n_ranges = n_docs // rs + 1
        per = max(1, (n_ranges + g - 1) // g)
        out = []
        for i in range(g):
            lo_r, hi_r = i * per, min((i + 1) * per, n_ranges)
            if lo_r >= hi_r:
                break
            out.append((lo_r * rs, hi_r * rs - 1))
        return out

    def _stage_postings(
        self,
        mf: BuildManifest,
        unit: str,
        gid: int,
        lo: int,
        hi: int,
        n_groups: int,
        stats: dict,
    ) -> None:
        cfg = self.cfg
        sc = self.spark.sparkContext
        acc = {
            "postings_emitted": sc.accumulator(0),
            "blocks_built": sc.accumulator(0),
            "bytes_postings": sc.accumulator(0),
            "bytes_positions": sc.accumulator(0),
        }
        # per-phase wall-ms summed across tasks (scaling diagnostics)
        timing = {
            k: sc.accumulator(0)
            for k in ("ms_read", "ms_tokenize", "ms_flatten", "ms_sort",
                      "ms_emit", "ms_merge", "ms_merge_wait",
                      "cpu_read", "cpu_tokenize", "cpu_flatten", "cpu_sort",
                      "cpu_emit", "cpu_merge")
        }
        docs = self.cat.read(self.spark, "docs")
        if n_groups > 1:
            # docs files are docid-range-sorted: parquet min/max stats
            # prune this to the group's slab without reading other groups
            docs = docs.filter((F.col("docid") >= lo) & (F.col("docid") <= hi))
        # each group owns its rgroup=K dir: a retried group overwrites
        # idempotently, completed groups are untouched (read-side hive
        # discovery exposes rgroup as a partition column, harmless)
        write_postings(
            self.spark, self.cat, f"postings/rgroup={gid}", docs, cfg,
            stats["avgdl"], self.cat.dir_bytes("docs") // max(1, n_groups),
            {**acc, **timing},
        )
        mf.mark_done(
            unit,
            {
                "postings_emitted": acc["postings_emitted"].value,
                "blocks_built": acc["blocks_built"].value,
                "bytes_postings": acc["bytes_postings"].value,
                "bytes_positions": acc["bytes_positions"].value,
                **{k: v.value for k, v in timing.items()},
            },
        )

    # ------------------------------------------------------------------
    def _stage_dictionary(self, mf: BuildManifest) -> None:
        n_terms, fan_in = build_dictionary(self.spark, self.cat, self.cfg)
        stats = self.cat.read_json("stats.json")
        stats["n_terms"] = n_terms
        self.cat.write_json("stats.json", stats)
        mf.mark_done(
            "dictionary", {"n_terms": n_terms, "merge_fan_in": fan_in}
        )


# counters the merge pass owns; the builder gets every other one, so each
# block is counted once
_MERGE_COUNTERS = (
    "blocks_built", "bytes_postings", "bytes_positions",
    "ms_merge", "ms_merge_wait", "cpu_merge",
)


def write_postings(
    spark: SparkSession,
    cat: IndexCatalog,
    name: str,
    docs: DataFrame | pa.Table,
    cfg: EngineConfig,
    avgdl: float,
    docs_bytes: int,
    counters: dict | None = None,
) -> None:
    """Writes the posting blocks of ``docs`` (docid, dl, indexed fields)
    to table ``name``, partitioned by bucket: the one block writer of the
    bulk build (one call per range group) and of streaming delta segments
    (one call per micro-batch). Two placements of the same builder and
    merger:

    - a DataFrame runs as Spark stages: the builder per scan split, then
      merge_and_write. ``docs_bytes``, the on-disk size of the scanned
      docs, sets the scan split width.
    - a pyarrow Table (docid-sorted; the small NRT micro-batch) runs on
      the driver, with no Spark job: the builder per slab of docs
      (driver_slabs), as per scan split, and the merger per term
      bucket, as per merge task. Its blocks are byte-identical to the
      Spark placement's (the merger re-cuts any split of a group into
      the same blocks), written by pyarrow in the same layout, schema
      and order.

    ``counters`` maps names to Spark accumulators."""
    counters = counters or {}
    fields = list(cfg.indexed_fields)
    builder = make_doc_range_builder(
        cfg.analyzer, cfg.k1, cfg.b, avgdl, cfg.block_size, cfg.range_size,
        {k: v for k, v in counters.items() if k not in _MERGE_COUNTERS},
        fields=fields,
    )
    merger = make_block_merger(
        cfg.k1, cfg.b, avgdl, cfg.block_size,
        {k: v for k, v in counters.items() if k in _MERGE_COUNTERS},
    )
    if isinstance(docs, pa.Table):
        cat.write_arrow(
            name, _local_blocks(docs, builder, merger, cfg.n_term_buckets, fields),
            POSTINGS_ARROW_SCHEMA, partition_by="bucket",
        )
        return
    # parallelism of the zero-shuffle stage = scan splits; docs/ is
    # written with small row groups (docs_row_group_mb) precisely so
    # this split size is effective
    split = _split_bytes(spark, cfg, docs_bytes)
    with _conf(spark, "spark.sql.files.maxPartitionBytes", str(split)):
        raw = (
            docs.select("docid", "dl", *fields)
            .mapInPandas(builder, BLOCK_SCHEMA)
            .withColumn(
                "bucket", term_bucket_col(F.col("term"), cfg.n_term_buckets)
            )
        )
        merge_and_write(spark, cat, name, raw, merger, cfg, docs_bytes)


# docs and bytes of indexed text per builder call of write_postings'
# driver placement, which bound the builder's token arrays (~200 B per
# token at their peak): over ingest_nrt's 3,155-turn batch the Python
# heap peaked at 21.8 MB in one call and 5.1 MB in 512-doc slabs
# (~64 KB of text each); 203 turns of 16 KB took 119 MB in one 512-doc
# slab (tracemalloc)
DRIVER_SLAB_DOCS = 512
DRIVER_SLAB_BYTES = 64 << 10
# postings per kernel call of merge_local, which bound the decoded
# arrays of one fold (docids, tfs, dls and positions, ~40 B per
# posting): a whole-bucket rewrite of ingest_nrt's compaction raised the
# driver's peak RSS by ~26 MB against ~7 MB with slabs of this size.
# Slabs are cut between (term, range) groups, not only between terms:
# a 157k-posting term of a 26 MB index, rewritten in one call, raised
# it by ~30 MB
DRIVER_MERGE_POSTINGS = 8192


def _slabs(sizes: np.ndarray, max_size: int, max_items: int) -> Iterator[tuple[int, int]]:
    """(offset, length) of consecutive runs of items, each of at most
    ``max_items`` items whose ``sizes`` sum to at most ``max_size``, or
    one item that alone holds more."""
    cum = np.cumsum(sizes)
    lo = 0
    while lo < len(sizes):
        cap = (cum[lo - 1] if lo else 0) + max_size
        hi = int(np.searchsorted(cum, cap, side="right"))
        hi = min(max(hi, lo + 1), lo + max_items, len(sizes))
        yield lo, hi - lo
        lo = hi


def driver_slabs(docs: pa.Table, fields: list[str]) -> Iterator[tuple[int, int]]:
    """(offset, length) of consecutive slabs of ``docs``, each of at most
    DRIVER_SLAB_DOCS docs and DRIVER_SLAB_BYTES of text in ``fields``,
    or one doc that alone holds more."""
    size = np.zeros(docs.num_rows, dtype=np.int64)
    for f in fields:
        size += pc.fill_null(
            pc.binary_length(docs[f].cast(pa.string())), 0
        ).to_numpy(zero_copy_only=False)
    return _slabs(size, DRIVER_SLAB_BYTES, DRIVER_SLAB_DOCS)


def merge_local(blocks: pd.DataFrame, kernel: Callable) -> pa.Table | None:
    """merge_and_write's driver twin for the blocks of ONE term bucket
    (POSTINGS_SCHEMA columns): ``kernel`` (the block merger, the
    compaction rewriter) runs once per slab of whole (term, range)
    groups holding at most DRIVER_MERGE_POSTINGS postings (or one group
    that alone holds more, at most range_size postings), as it runs once
    per merge task: each group's blocks meet in one call, and no call
    decodes a term's other ranges. Returns the bucket's blocks in
    POSTINGS_ARROW_SCHEMA, sorted by (term, range_id, block_id) as the
    Spark placement's sortWithinPartitions writes them, or None when no
    block is left."""
    blocks = blocks.sort_values(["term", "range_id"], kind="stable", ignore_index=True)
    terms, rids = blocks["term"].to_numpy(), blocks["range_id"].to_numpy()
    if not terms.size:
        return None
    starts = np.flatnonzero(
        np.r_[True, (terms[1:] != terms[:-1]) | (rids[1:] != rids[:-1])]
    )
    ends = np.r_[starts[1:], terms.size]
    per_group = np.add.reduceat(blocks["n_docs"].to_numpy(np.int64), starts)
    outs = []
    for lo, n in _slabs(per_group, DRIVER_MERGE_POSTINGS, starts.size):
        outs += kernel(iter([blocks.iloc[starts[lo]:ends[lo + n - 1]]]))
    if not outs:
        return None
    merged = pd.concat(outs, ignore_index=True) if len(outs) > 1 else outs[0]
    return pa.Table.from_pandas(
        merged.sort_values(["term", "range_id", "block_id"]),
        POSTINGS_ARROW_SCHEMA, preserve_index=False,
    )


def _local_blocks(
    docs: pa.Table, builder: Callable, merger: Callable, n_buckets: int,
    fields: list[str],
) -> Iterator[pa.Table]:
    """write_postings' driver placement: the builder over each slab of
    ``docs`` (driver_slabs), then the merger over each term bucket's
    partial blocks (merge_local). Yields one POSTINGS_ARROW_SCHEMA table
    per bucket, in bucket order."""
    parts = []
    for lo, n in driver_slabs(docs, fields):
        parts += builder(iter([docs.slice(lo, n).to_pandas()]))
    if not parts:
        return
    raw = pd.concat(parts, ignore_index=True)
    del parts
    codes, terms = pd.factorize(raw["term"])
    raw["bucket"] = np.asarray(
        [term_bucket_py(t, n_buckets) for t in terms], dtype=np.int32
    )[codes]
    for _bucket, part in raw.groupby("bucket", sort=True):
        merged = merge_local(part, merger)
        if merged is not None:
            yield merged


def _split_bytes(spark: SparkSession, cfg: EngineConfig, nbytes: int) -> int:
    """Input bytes per task of a postings write: ~4 tasks per core, each
    of [docs_row_group_mb, 16 MB]. Split size adapts to the data so the
    stage always runs ~waves_per_core waves of uniform tasks — a fixed
    split width gave 1.4 waves at 32 cores (30% tail idle) while the
    8-core run packed 5.5 waves (9%), which alone sank the measured
    N->4N efficiency."""
    cores = spark.sparkContext.defaultParallelism
    return min(
        max(nbytes // (4 * cores), cfg.docs_row_group_mb * 1024 * 1024),
        16 * 1024 * 1024,
    )


def merge_and_write(
    spark: SparkSession,
    cat: IndexCatalog,
    name: str,
    blocks: DataFrame,
    kernel: Callable,
    cfg: EngineConfig,
    input_bytes: int,
) -> None:
    """The merge-and-write stage of every postings table: shuffles
    ``blocks`` (POSTINGS_SCHEMA) so each (term, range) group meets in one
    task, runs the mapInPandas ``kernel`` there (the block merger of
    write_postings, the rewriter of compaction; both keep the bucket
    column) and writes table ``name`` partitioned by bucket.
    ``input_bytes``, the on-disk size of what ``blocks`` is computed
    from, sets the task count. Its Spark stages are named
    ``merge <name>`` (Spark UI, status tracker)."""
    # the key (bucket, range%S) co-locates every block of a (term, range)
    # group, so the kernel re-cuts them into the blocks a single-pass
    # build would emit; blocks are ~100x smaller than the token stream,
    # so this is the one cheap exchange of a postings write. The S-way
    # sub-bucket salt spreads Zipf-head buckets across reducers: S=16
    # gives 16*n_term_buckets keys over ~4 partitions/core, so no single
    # reducer straggles the merge wave. The task count is sized by the
    # data, one task per input split: a merge task costs ~0.15 s even
    # when empty, which dominated small inputs. Small inputs never reach
    # this stage: write_postings places a small micro-batch, and
    # IncrementalIndexer.compact a small index, on the driver
    # (merge_local), where no job's fixed cost is paid.
    cores = spark.sparkContext.defaultParallelism
    n_tasks = min(
        max(16, 4 * cores),
        max(1, -(-input_bytes // _split_bytes(spark, cfg, input_bytes))),
    )
    merged = blocks.repartition(
        n_tasks, "bucket", F.pmod(F.col("range_id"), F.lit(16))
    ).mapInPandas(kernel, POSTINGS_SCHEMA)
    sc = spark.sparkContext
    prev = sc.getLocalProperty("callSite.short")
    sc.setLocalProperty("callSite.short", f"merge {name}")
    try:
        # zero postings (empty corpus / clear) leave a schema-only footer
        # so the table stays readable
        cat.write(
            merged.sortWithinPartitions("term", "range_id", "block_id"),
            name,
            partition_by=["bucket"],
        )
    finally:
        sc.setLocalProperty("callSite.short", prev)


# Vocabularies at or below this are sorted and id-assigned ON THE DRIVER
# (planner-side bounded collect, ~100 B/term -> <=50 MB): after the one
# postings scan that computes the per-term aggregates, every distributed
# dense-id scheme (single-partition window, or with_dense_ids' range
# sample + counts + offset join) only adds jobs whose wall clock is pure
# fixed cost — measured 5.8 s FLAT at both 2 and 8 cores on the 3.4M-turn
# corpus (stage scaling efficiency 0.27, the single largest cap on the
# build's N->4N efficiency in the round-4 standalone detail). Above the
# bound the distributed two-pass runs, with the aggregated terms frame
# persisted so the range sampler does not re-scan postings.
_DICT_DRIVER_MAX = 500_000


# per-term aggregates of a postings table, and the dictionary table:
# those, a dense term_id and the fc partition column
TERM_AGG_SCHEMA = pa.schema([
    ("term", pa.string()), ("df", pa.int64()), ("cf", pa.int64()),
    ("max_tfnorm", pa.float64()), ("n_blocks", pa.int64()),
    ("top_maxes", pa.list_(pa.float64())),
])
DICT_ARROW_SCHEMA = TERM_AGG_SCHEMA.append(pa.field("term_id", pa.int64())).append(
    pa.field("fc", pa.string())
)


def term_aggregates(blocks: pa.Table) -> pa.Table:
    """build_dictionary's per-term aggregates on the driver, over the
    term-sorted, non-empty blocks of one bucket (merge_local's output):
    df, cf, max_tfnorm, n_blocks and the top-16 block maxes, largest
    first. TERM_AGG_SCHEMA, in term order."""
    terms = blocks["term"].to_numpy(zero_copy_only=False)
    mx = blocks["max_tfnorm"].to_numpy()
    new_term = np.r_[True, terms[1:] != terms[:-1]]
    starts = np.flatnonzero(new_term)
    g = np.cumsum(new_term) - 1
    counts = np.diff(np.r_[starts, terms.size])
    # each term's maxes, largest first; the first 16 of each are kept
    order = np.lexsort((-mx, g))
    top = order[np.arange(terms.size) - starts[g[order]] < 16]
    offsets = np.r_[0, np.cumsum(np.minimum(counts, 16))].astype(np.int32)
    return pa.table({
        "term": terms[starts],
        "df": np.add.reduceat(blocks["n_docs"].to_numpy().astype(np.int64), starts),
        "cf": np.add.reduceat(blocks["sum_tf"].to_numpy(), starts),
        "max_tfnorm": np.maximum.reduceat(mx, starts),
        "n_blocks": counts,
        "top_maxes": pa.ListArray.from_arrays(offsets, mx[top]),
    }, schema=TERM_AGG_SCHEMA)


def dense_term_ids(terms: pa.Table) -> pa.Table:
    """Per-term rows ``terms`` sorted by term (UTF-8 byte order, as
    Spark sorts strings), with dense term ids 1..n appended as term_id:
    the id assignment of every dictionary small enough for the driver,
    whichever placement computed its aggregates."""
    terms = terms.take(pc.sort_indices(terms, [("term", "ascending")]))
    return terms.append_column(
        "term_id", pa.array(np.arange(1, terms.num_rows + 1, dtype=np.int64))
    )


def write_dictionary_local(cat: IndexCatalog, table: str, terms: pa.Table) -> int:
    """build_dictionary on the driver, from per-term aggregates
    (term_aggregates of every bucket): dense term ids, then one
    term-sorted file per fc partition. Returns n_terms."""
    from marlin_spark.query.fuzzy import term_fc_py

    terms = dense_term_ids(terms)
    fc = pa.array([term_fc_py(t) for t in terms["term"].to_pylist()], pa.string())
    terms = terms.append_column("fc", fc)
    cat.write_arrow(
        table,
        (terms.filter(pc.equal(fc, v)) for v in pc.unique(fc).to_pylist()),
        DICT_ARROW_SCHEMA, partition_by="fc",
    )
    return terms.num_rows


def build_dictionary(
    spark: SparkSession, cat: IndexCatalog, cfg: EngineConfig,
    postings: str = "postings", table: str = "dictionary",
) -> tuple[int, int]:
    """Derive the term dictionary table ``table`` from the posting
    blocks of table ``postings``: df/cf/max_tfnorm
    per term + dense sorted term ids; partitioned by first-char class
    (fc) with term-sorted files, so exact lookups, prefix range scans AND
    fuzzy expansion all prune at the partition level first and by parquet
    min/max stats second (dtrie/twid analog, SURVEY.md §2.3 +
    query/fuzzy.py). Also used by streaming compaction, which stages
    both tables under ``__snap`` names.

    The postings are scanned and aggregated by ONE collect, bounded at
    _DICT_DRIVER_MAX + 1 rows, whose size picks the id-assignment path:
    at or below the bound the sorted dense ids are assigned on the
    driver from the collected rows and one small write job follows
    (no persist, no count). Above it the collected rows are dropped, the
    aggregates are persisted and counted, and with_dense_ids runs over
    that cache (sampling, counts and offset join never re-scan
    postings). Returns (n_terms, merge fan-in)."""
    posts = cat.read(spark, postings, POSTINGS_SCHEMA)
    terms = posts.groupBy("term").agg(
        F.sum("n_docs").alias("df"),
        F.sum("sum_tf").alias("cf"),
        F.max("max_tfnorm").alias("max_tfnorm"),
        F.count("*").alias("n_blocks"),
        # top-16 block maxes: each is the EXACT max core of a distinct
        # doc (blocks are disjoint), so top_maxes[k-1] * idf is a valid
        # global lower bound on a query's final k-th best score — the
        # WAND theta seed (engine.plan_queries) reads it straight
        # off the dictionary lookup instead of scanning postings metadata
        F.slice(
            F.sort_array(F.collect_list("max_tfnorm"), asc=False), 1, 16
        ).alias("top_maxes"),
    )
    rows = terms.limit(_DICT_DRIVER_MAX + 1).toArrow()
    cached = None
    if rows.num_rows <= _DICT_DRIVER_MAX:
        n_terms = rows.num_rows
        rows = dense_term_ids(rows.cast(TERM_AGG_SCHEMA))
        fan_in = int(pc.sum(rows["n_blocks"]).as_py() or 0)
        out = spark.createDataFrame(
            rows,
            "term string, df long, cf long, max_tfnorm double, "
            "n_blocks long, top_maxes array<double>, term_id long",
        )
    else:
        from pyspark.sql import Observation
        from pyspark.storagelevel import StorageLevel

        rows = None  # a prefix of the vocabulary: free it before the cache
        cached = terms.persist(StorageLevel.MEMORY_AND_DISK)
        n_terms = cached.count()
        obs = Observation("dictionary_stats")
        out = with_dense_ids(cached, ["term"], "term_id").observe(
            obs, F.sum("n_blocks").alias("fan_in")
        )
    cat.write(
        out.withColumn("fc", term_fc_col(F.col("term")))
        .sortWithinPartitions("term"),
        table,
        partition_by=["fc"],
    )
    if cached is not None:
        fan_in = int(obs.get["fan_in"] or 0)
        cached.unpersist()
    return n_terms, fan_in


def last_job_id(spark: SparkSession) -> int:
    """Highest Spark job id of this thread's job group so far. Job ids are
    sequential, so two readings bracket the jobs started between them."""
    sc = spark.sparkContext
    ids = sc.statusTracker().getJobIdsForGroup(
        sc.getLocalProperty("spark.jobGroup.id")
    )
    return max(ids, default=-1)


class _conf:
    """Temporarily set a Spark conf (restores prior value)."""

    def __init__(self, spark: SparkSession, key: str, value: str):
        self.spark, self.key, self.value = spark, key, value

    def __enter__(self):
        try:
            self.prev = self.spark.conf.get(self.key)
        except Exception:
            self.prev = None
        self.spark.conf.set(self.key, self.value)

    def __exit__(self, *exc):
        if self.prev is None:
            self.spark.conf.unset(self.key)
        else:
            self.spark.conf.set(self.key, self.prev)
