"""Incremental index maintenance: streaming adds, CRUD delete/update,
compaction.

The reference serializes add/update/delete through a single-writer job
queue (/root/reference/src/main/index.c:186-248; delete
index.c:1037-1070 -> sindex_delete_document sindex.c:1057-1099; replace
index.c:965-1034). Here the same single-writer invariant maps to
Structured Streaming's exactly-once foreachBatch plus an explicit
maintenance API:

- ADD: each micro-batch of new turns is appended as a DELTA SEGMENT:
  its docs are written to docs_delta/batch=N first, then the bulk
  build's block writer (build.write_postings) builds
  postings_delta/batch=N from them at the base avgdl (same block
  layout, tagged with the batch id), then ONE snapshot commit makes the
  batch live (IndexCatalog.commit_snapshot). Every lookup reads the
  snapshot pointer, so the batch is searchable from that commit on
  without refresh(); SearchEngine._postings_df()/_docs_df() union the
  live segments into every scan. NRT caveats (stats refreshed at
  compaction; brand-new terms invisible until the dictionary rebuild)
  are documented on those helpers.
  Two placements write the same files. A batch of at most
  DRIVER_BATCH_MAX rows and DRIVER_BATCH_BYTES is collected once and
  indexed on the driver: pyarrow docids, dl counted as Spark counts it
  (analyzers.token_counts), the same builder and merger called per doc
  slab and per term bucket, pyarrow writes; most of a small batch's
  cost was Spark's fixed cost per job, which the reference never pays
  (it indexes a batch in-process on its write pool, sindex.c:1072-1091).
  A larger batch runs as Spark stages.
- DELETE: tombstone docids go to tombstones/, one parquet file per
  delete, resolved and written on the driver (pyarrow; keys or docids
  given as a DataFrame are collected first). Every engine holds the
  tombstones as one sorted numpy array that each kernel masks with, and
  compaction folds them — the Lucene liveDocs pattern. Not yet a commit:
  an engine sees deletes from its construction, refresh() or the next
  compaction.
- UPDATE/REPLACE: delete + add, like the reference.
- COMPACT: folds delta segments AND tombstones into the base in one
  rewrite (segment merge; what an Iceberg MERGE INTO + snapshot expire
  would do on a real lakehouse), then rebuilds the dictionary and
  collection stats, and commits all of it in one snapshot. The
  collection stats are counted on the staged docs write; the postings
  go through the compaction rewriter, which re-cuts every (term, range)
  group with the block merger's fold and recomputes its max_tfnorm
  under the POST-compaction avgdl — see blocks.fold_blocks for why
  stale block-max values would break WAND's upper-bound contract.
  Two placements stage the same tables. A compaction of at most
  COMPACT_DRIVER_BYTES of input runs on the driver with pyarrow: docs
  streamed one record batch at a time, the rewriter per term bucket in
  slabs of whole (term, range) groups (build.merge_local, which also
  merges a driver-placed micro-batch), the dictionary from the blocks as they
  are written; a ~2 MB compaction spent most of its seconds in the
  fixed cost of ~10 Spark jobs. A larger one runs the bulk build's
  merge-and-write stage (build.merge_and_write) and build_dictionary.

Limitations kept honest:
- docids for streamed turns continue AFTER the base build's max docid in
  arrival order (per-batch rank over (conv_id, turn_idx)); global
  rank-stability across restarts comes from the checkpoint.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from marlin_spark.config import EngineConfig
from marlin_spark.functions.analyzers import token_count_col, token_counts
from marlin_spark.index.blocks import (
    POSTING_COLS,
    POSTINGS_ARROW_SCHEMA,
    POSTINGS_SCHEMA,
    make_compaction_rewriter,
)
from marlin_spark.index.build import (
    TERM_AGG_SCHEMA,
    build_dictionary,
    driver_slabs,
    last_job_id,
    merge_and_write,
    merge_local,
    term_aggregates,
    write_dictionary_local,
    write_postings,
)
from marlin_spark.index.catalog import IndexCatalog

# Micro-batches of at most this many rows are indexed on the driver
# (process_batch, update_turns); larger ones run as Spark stages. Set
# from a sweep of batch sizes (scripts/nrt_gate_sweep.py, ingest_nrt's
# corpus, 4 cores, warm JVM): the driver placement took 0.20/0.30/0.46/
# 0.93/1.56 s at 0.5k/3.2k/7.2k/18k/36k turns against Spark's 1.19/
# 1.14/1.23/1.75/2.32 s, so time alone sets no bound there; driver
# memory does: its peak RSS rose ~8 MB + 1.8 KB per turn (+14 MB at
# 3.2k, +21 MB at 7.2k, +37 MB at 18k, +65 MB at 36k turns).
DRIVER_BATCH_MAX = 8192
# ... and whose Arrow table holds at most this many bytes: that memory
# grows with the batch's tokens, not its rows. The same sweep over a
# long-turn corpus (--turn-chars 16000, ~16 KB turns) rose +18/+31/+50/
# +87 MB at 0.8/1.7/3.3/6.1 MB of Arrow (51 to 377 turns); ingest_nrt's
# turns weigh ~175 B, so its batches meet the row gate first (8,192
# turns ~1.4 MB).
DRIVER_BATCH_BYTES = 2 << 20
# Compactions whose inputs (docs, postings and their live and crashed
# deltas) hold at most this many bytes on disk run on the driver
# (compact); larger ones run as Spark stages. Set from
# scripts/nrt_gate_sweep.py --op compact (ingest_nrt corpus, 4 cores, a
# fresh process per run): the driver took 0.26/0.70/1.9/3.9 s against
# Spark's 9.8/11.4/12.3/14.1 s at 1.8/6.9/26/51 MB, so time sets no
# gate. Memory does: the driver's RSS rose +30/+47/+80/+111 MB, Spark's
# +38 MB at every size, so up to ~8 MB the driver costs at most ~10 MB
# more than the Spark placement itself.
COMPACT_DRIVER_BYTES = 8 << 20
# Uncompressed parquet bytes per docs record batch, and so per row
# group, of a driver compaction: whole-file batches raised ingest_nrt's
# driver peak RSS by ~12 MB, batches of ~3k turns bound the docs step
# near +4 MB at any index size, for a ~0.7% larger docs file.
COMPACT_DOCS_BATCH_BYTES = 512 << 10


class IncrementalIndexer:
    def __init__(self, spark: SparkSession, index_dir: str, config: EngineConfig | None = None):
        self.spark = spark
        self.cat = IndexCatalog(index_dir)
        cfg = config or EngineConfig()
        self.stats = self.cat.read_json("stats.json")
        # restore the index's persisted mapping/analyzer so streamed
        # batches tokenize exactly like the base build — an auto-mapped
        # index (app.py create_index(auto_mapping=True)) would otherwise
        # silently index only the default 'text' field (the reference
        # gates every write on its persisted mapping, mapping.c:537-601)
        self.cfg = cfg.with_(
            k1=self.stats.get("k1", cfg.k1),
            b=self.stats.get("b", cfg.b),
            analyzer=self.stats.get("analyzer", cfg.analyzer),
            n_term_buckets=self.stats.get("n_term_buckets", cfg.n_term_buckets),
            block_size=self.stats.get("block_size", cfg.block_size),
            range_size=self.stats.get("range_size", cfg.range_size),
            indexed_fields=tuple(
                self.stats.get("indexed_fields", cfg.indexed_fields)
            ),
        )

    # ------------------------------------------------------------- add
    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch body: append one delta segment of posting blocks.

        Writes docs_delta/batch=N, then builds postings_delta/batch=N
        from it, then commits batch N as a live segment: the batch is
        visible exactly from that commit, like the reference's one LMDB
        txn per batch (si_write_end). Idempotent per batch_id (streaming
        retry safety): a re-run of a committed batch first commits its
        withdrawal and only then overwrites both dirs, so no committed
        file is rewritten in place. A batch of more than batch_capacity
        rows raises before its commit.

        One bounded collect (the batch's first DRIVER_BATCH_MAX + 1 rows)
        picks the placement: a batch that fits both gates is indexed on
        the driver from that Arrow table, with no further Spark job; a
        larger one runs as Spark stages. Both write the same files."""
        batch = self._collect_small(batch_df)
        self._append(batch_df if batch is None else batch, batch_id)

    @staticmethod
    def _collect_small(df: DataFrame) -> pa.Table | None:
        """``df`` as an Arrow table when it has at most DRIVER_BATCH_MAX
        rows in at most DRIVER_BATCH_BYTES, else None (one Spark job,
        bounded at DRIVER_BATCH_MAX + 1 rows)."""
        tbl = df.limit(DRIVER_BATCH_MAX + 1).toArrow()
        if tbl.num_rows > DRIVER_BATCH_MAX or tbl.nbytes > DRIVER_BATCH_BYTES:
            return None
        return tbl

    def _append(self, batch: DataFrame | pa.Table, batch_id: int) -> None:
        """process_batch's body for a collected batch (driver placement)
        or a DataFrame (Spark placement)."""
        cfg = self.cfg
        base = int(self.stats.get("max_docid", self.stats["n_docs"]))
        capacity = int(self.stats.get("batch_capacity", cfg.batch_capacity))
        live = [b for b, _n in (self.cat.read_snapshot() or {}).get("segments", [])]
        batch_id = int(batch_id)
        if batch_id in live:
            live.remove(batch_id)
            self.cat.commit_snapshot(
                segments=live, summary={"operation": "withdraw", "batch": batch_id}
            )
        # per-batch deterministic docids after the base corpus
        offset = base + batch_id * capacity
        docs_name = f"docs_delta/batch={batch_id}"
        place = self._docs_local if isinstance(batch, pa.Table) else self._docs_spark
        docs, n_rows, sum_dl = place(batch, docs_name, offset, capacity, batch_id)
        write_postings(
            self.spark, self.cat, f"postings_delta/batch={batch_id}", docs, cfg,
            self.stats["avgdl"], self.cat.dir_bytes(docs_name),
        )
        self.cat.commit_snapshot(
            segments=live + [batch_id],
            summary={"operation": "append", "batch": batch_id, "n_docs": n_rows,
                     "sum_dl": sum_dl},
        )

    @staticmethod
    def _check_capacity(n_rows: int, capacity: int, batch_id: int) -> None:
        if n_rows > capacity:
            # fail loudly: a silent overflow would assign docids that
            # collide with the next batch's range
            raise ValueError(
                f"micro-batch {batch_id} has {n_rows} rows > batch_capacity "
                f"{capacity}; raise EngineConfig.batch_capacity (and rebuild "
                "stats.json) or split the batch"
            )

    def _docs_spark(self, batch_df: DataFrame, docs_name: str, offset: int,
                    capacity: int, batch_id: int) -> tuple[DataFrame, int, int]:
        """Spark placement: writes the batch's docs (docid = offset +
        row_number over (conv_id, turn_idx), dl over the indexed fields)
        to ``docs_name``. The row count for the capacity check and the
        batch's sum of dl ride on that write (Observation). Returns (the
        written docs, rows, sum of dl)."""
        from pyspark.sql import Observation, Window

        cfg = self.cfg
        w = Window.orderBy("conv_id", "turn_idx")
        dl_col = None
        for fname in cfg.indexed_fields:
            s = F.when(F.col(fname).isNull(), F.lit(0)).otherwise(
                token_count_col(F.col(fname), cfg.analyzer, "index")
            )
            dl_col = s if dl_col is None else dl_col + s
        docs = (
            batch_df.withColumn(
                "docid", (F.row_number().over(w) + offset).cast("long")
            )
            .withColumn("dl", dl_col)
        )
        # carry EVERY source column (not just the default transcript
        # schema): IndexCatalog.read_docs selects the base docs schema
        # from deltas, so an auto-mapped index with extra stored fields
        # must find them here too (mirrors build.py's `keep` columns)
        keep = [c for c in docs.columns if c not in ("dl", "range_id", "docid")]
        obs = Observation(f"batch_{batch_id}")
        docs.select("docid", *keep, "dl").observe(
            obs, F.count(F.lit(1)).alias("n"), F.sum("dl").alias("sum_dl")
        ).write.mode("overwrite").parquet(self.cat.path(docs_name))
        n_rows = int(obs.get["n"])
        self._check_capacity(n_rows, capacity, batch_id)
        return (self.cat.read(self.spark, docs_name), n_rows,
                int(obs.get["sum_dl"] or 0))

    def _docs_local(self, batch: pa.Table, docs_name: str, offset: int,
                    capacity: int, batch_id: int) -> tuple[pa.Table, int, int]:
        """Driver placement of _docs_spark, the same rows in the same
        schema: docids by a stable sort on (conv_id, turn_idx), nulls
        first as Spark orders them; dl by token_counts, token_count_col's
        driver twin, one slab (driver_slabs) at a time. The capacity
        check runs before the write. Returns (docid, dl and indexed fields of the docs,
        docid-sorted; rows; sum of dl)."""
        import pyarrow.compute as pc

        cfg = self.cfg
        n_rows = batch.num_rows
        self._check_capacity(n_rows, capacity, batch_id)
        batch = batch.take(pc.sort_indices(
            batch, [("conv_id", "ascending"), ("turn_idx", "ascending")],
            null_placement="at_start",
        ))
        dl = np.zeros(n_rows, dtype=np.int32)
        for lo, n in driver_slabs(batch, list(cfg.indexed_fields)):
            for fname in cfg.indexed_fields:
                dl[lo:lo + n] += token_counts(
                    batch[fname].slice(lo, n).to_pylist(), cfg.analyzer
                )
        keep = [c for c in batch.column_names if c not in ("dl", "range_id", "docid")]
        docs = pa.table(
            {"docid": np.arange(offset + 1, offset + n_rows + 1, dtype=np.int64),
             **{c: batch[c] for c in keep}, "dl": dl}
        )
        self.cat.write_arrow(docs_name, [docs], docs.schema)
        return (docs.select(["docid", "dl", *cfg.indexed_fields]), n_rows,
                int(dl.sum()))

    # ------------------------------------------------------------------
    def start(self, stream_df: DataFrame, checkpoint: str):
        """Attach to a streaming DataFrame of transcript turns."""
        return (
            stream_df.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )

    # ---------------------------------------------------------- delete
    def delete_docids(self, docids) -> None:
        """Tombstone docids (reference: index_delete_document_callback,
        src/main/index.c:1037-1070), a list or a one-column DataFrame
        (collected: engines hold every tombstone on the driver anyway),
        written as one file (_write_tombstones). Engines constructed (or
        refresh()ed) after this call mask them in every kernel, from one
        sorted driver array; compact() folds them out of docs/ and
        postings/."""
        if isinstance(docids, DataFrame):
            import pyarrow.compute as pc

            col = docids.select(
                F.col(docids.columns[0]).cast("long").alias("docid")
            ).toArrow()["docid"]
            self._write_tombstones(pc.drop_null(col).to_numpy())
        else:
            self._write_tombstones(np.asarray([int(d) for d in docids], dtype=np.int64))

    def _write_tombstones(self, docids: np.ndarray) -> None:
        """One tombstone file of ``docids``, written under a uniquely
        named dot-prefixed temp name and renamed into place: Spark,
        pyarrow datasets and _tombstone_files all skip dot-files, so no
        reader ever lists a half-written file."""
        import uuid

        import pyarrow.parquet as pq

        if not docids.size:
            return
        d = self.cat.path("tombstones")
        os.makedirs(d, exist_ok=True)
        name = f"part-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(d, f".{name}.tmp")
        pq.write_table(pa.table({"docid": docids}), tmp)
        os.replace(tmp, os.path.join(d, name))

    def delete_turns(self, keys) -> None:
        """Delete by natural key (conv_id, turn_idx) — the reference's
        external-id delete (sindex.c:1057-1099 via the id mapping).
        ``keys`` is a list of pairs or a DataFrame with those columns
        (collected); _delete_keys resolves them on the driver."""
        if isinstance(keys, DataFrame):
            keys = keys.select(
                F.col("conv_id").cast("string").alias("conv_id"),
                F.col("turn_idx").cast("long").alias("turn_idx"),
            ).toArrow()
        else:
            keys = pa.table({
                "conv_id": [str(c) for c, _t in keys],
                "turn_idx": [int(t) for _c, t in keys],
            })
        self._delete_keys(keys)

    def _delete_keys(self, keys: pa.Table) -> None:
        """delete_turns on the driver: a pyarrow read of (docid, conv_id,
        turn_idx) of the base docs and the live delta docs, filtered on
        the conv_ids of ``keys`` (a table with conv_id and turn_idx
        columns), joined to the keys and written as one tombstone file."""
        import pyarrow.dataset as pads

        cols = {"docid": pa.int64(), "conv_id": pa.string(), "turn_idx": pa.int64()}
        keys = keys.select(["conv_id", "turn_idx"]).cast(
            pa.schema({c: cols[c] for c in ("conv_id", "turn_idx")})
        )
        convs = keys["conv_id"].combine_chunks()
        found = []
        for src in [self.cat.path("docs")] + self.cat.committed_delta_dirs("docs"):
            ds = pads.dataset(src, format="parquet")
            tbl = ds.to_table(
                columns=list(cols),
                filter=pads.field("conv_id").isin(
                    convs.cast(ds.schema.field("conv_id").type)
                ),
            )
            found.append(tbl.cast(pa.schema(cols)))
        ids = pa.concat_tables(found).join(
            keys, ["conv_id", "turn_idx"], join_type="left semi"
        )["docid"]
        self._write_tombstones(ids.to_numpy())

    def update_turns(self, batch_df: DataFrame, batch_id: int) -> None:
        """Replace turns by natural key: delete + add, exactly the
        reference's replace path (index.c:965-1034). A batch that fits
        the driver is collected once: its keys and its append come from
        the same Arrow table."""
        batch = self._collect_small(batch_df)
        if batch is None:
            self.delete_turns(batch_df.select("conv_id", "turn_idx"))
            self._append(batch_df, batch_id)
            return
        self._delete_keys(batch)
        self._append(batch, batch_id)

    PATCHABLE_FIELDS = ("role", "text", "tool", "ts")

    def patch_turns(self, patch_df: DataFrame, batch_id: int) -> None:
        """PATCH-style partial update (reference: index.c:965-1034 —
        PATCH merges the request's fields into the stored document before
        reindexing, unlike PUT/replace). DataFrame granularity is the
        COLUMN: every non-key column present in ``patch_df`` replaces the
        stored value (nulls included); absent columns survive unchanged.
        Keys whose stored turn is deleted or unknown are ignored, like
        the reference's per-doc existence check."""
        keys = ["conv_id", "turn_idx"]
        patch_cols = [c for c in patch_df.columns if c not in keys]
        unknown = set(patch_cols) - set(self.PATCHABLE_FIELDS)
        if unknown or not patch_cols:
            raise ValueError(
                f"patch_turns: patchable fields are {self.PATCHABLE_FIELDS},"
                f" got {sorted(patch_cols)}"
            )
        cur = self.cat.read_docs(self.spark, self.cfg.range_size).select(
            "docid",
            F.col("conv_id").cast("string").alias("conv_id"),
            F.col("turn_idx").cast("long").alias("turn_idx"),
            *self.PATCHABLE_FIELDS,
        )
        tomb_files = self._tombstone_files()
        if tomb_files:
            cur = cur.join(self._tombstone_df(tomb_files), "docid", "left_anti")
        p = patch_df.select(
            F.col("conv_id").cast("string").alias("conv_id"),
            F.col("turn_idx").cast("long").alias("turn_idx"),
            *[F.col(c).alias(f"_p_{c}") for c in patch_cols],
        )
        merged = cur.join(F.broadcast(p), keys, "inner").select(
            *keys,
            *[
                (F.col(f"_p_{c}") if c in patch_cols else F.col(c)).alias(c)
                for c in self.PATCHABLE_FIELDS
            ],
        )
        self.update_turns(merged, batch_id)

    # ------------------------------------------------------------------
    def _tombstone_files(self) -> list[str]:
        """The tombstone parquet files delete_docids has written so far.
        A write still in flight is not listed: it sits under a
        dot-prefixed temp name (_write_tombstones)."""
        import glob

        return sorted(glob.glob(os.path.join(self.cat.path("tombstones"), "*.parquet")))

    def _tombstone_df(self, files: list[str]) -> DataFrame:
        """Distinct docids of the tombstone ``files``, broadcast for an
        anti-join; read where delete_docids wrote them, never through a
        driver list."""
        return F.broadcast(
            self.spark.read.schema("docid long").parquet(*files).distinct()
        )

    @staticmethod
    def _tombstones(files: list[str]):
        """Sorted int64 docid array of the tombstone ``files``, or None."""
        import pyarrow.dataset as pads

        if not files:
            return None
        arr = np.unique(
            pads.dataset(files, format="parquet")
            .to_table(columns=["docid"])["docid"]
            .to_numpy()
        ).astype(np.int64)
        return arr if arr.size else None

    # ------------------------------------------------------------------
    def compact(self) -> None:
        """Fold delta segments + tombstones into the base and refresh
        dictionary/stats (segment merge; Iceberg MERGE INTO analog).

        Visibility protocol: the merged docs and postings, the dictionary
        and prefix_accel built over them, and the new stats.json are all
        staged under ``<table>__snap<N>`` names, then made live together,
        with an empty segment list, by ONE atomic snapshot commit
        (catalog.commit_snapshot: version-hint rename) — a crash anywhere
        before that leaves the previous snapshot fully intact. After the
        commit nothing of the index is written: superseded dirs, the
        folded delta dirs and the folded tombstones are removed. Every
        engine reads the new snapshot at its next lookup. The snapshot
        summary records the placement, wall seconds and Spark jobs of
        the staged rewrite it commits.

        Two placements stage the same tables (_compact_tables): a
        compaction whose inputs hold at most COMPACT_DRIVER_BYTES on disk
        runs on the driver with pyarrow and no Spark job
        (_compact_local); a larger one runs as Spark stages
        (_compact_spark). Only prefix_accel, when the index has one, is
        always built by Spark over the staged postings.

        The tombstone files are listed once, at the start: both
        placements fold exactly those files, and only those are removed
        after the commit. A delete that lands during the compaction
        stays in tombstones/ for every engine to mask and for the next
        compaction to fold.

        Honesty note (scale): the folded delete set is materialized on
        the driver for the rewriter closure, as every engine holds it.
        Engines refuse more than EngineConfig.tombstone_driver_max of
        them; this method reads whatever backlog is listed, so one far
        past that bound needs a compaction that streams the set. The
        driver placement holds one docs record batch (about
        COMPACT_DOCS_BATCH_BYTES) and one term bucket's blocks at a
        time, and decodes at most DRIVER_MERGE_POSTINGS postings per
        rewriter call (or one (term, range) group, at most range_size
        postings); a bucket's blocks and the dictionary, built in driver
        memory like build_dictionary's collected branch, grow with the
        index, which COMPACT_DRIVER_BYTES bounds."""
        import shutil
        import time

        t0, job0 = time.time(), last_job_id(self.spark)
        snap = self.cat.read_snapshot()
        # fold the committed batches only; a crashed batch's dirs are
        # left for the streaming retry to overwrite
        delta_dirs = self.cat.committed_delta_dirs("postings")
        doc_deltas = self.cat.committed_delta_dirs("docs")
        tomb_files = self._tombstone_files()
        tomb = self._tombstones(tomb_files)
        if not delta_dirs and tomb is None:
            return
        next_id = (snap["snapshot_id"] + 1) if snap else 1
        staged = {
            t: f"{t}__snap{next_id}"
            for t in ("docs", "postings", "dictionary", "prefix_accel", "stats.json")
            if t != "prefix_accel" or self.cat.exists("prefix_accel")
        }

        # ---- 1-3. docs, postings and dictionary, staged
        placement, new = self._compact_tables(
            staged, doc_deltas, delta_dirs, tomb, tomb_files
        )
        if "prefix_accel" in staged:
            from marlin_spark.index.prefix_accel import build_prefix_accel

            build_prefix_accel(
                self.spark,
                self.cat,
                self.cfg.with_(
                    prefix_accel_len=int(
                        self.stats.get(
                            "prefix_accel_len", self.cfg.prefix_accel_len
                        )
                    )
                ),
                staged["postings"],
                staged["prefix_accel"],
            )
        stats = dict(
            self.stats, **new, stats_epoch=self.stats.get("stats_epoch", 0) + 1
        )
        self.cat.write_json(staged["stats.json"], stats)

        # ---- COMMIT: everything above becomes visible in one atomic
        # version-hint rename (multi-table transaction); a crash before
        # this line leaves the old snapshot fully live
        self.cat.commit_snapshot(
            staged,
            summary={
                "operation": "compact",
                "placement": placement,
                "folded_batches": len(delta_dirs),
                "tombstones": 0 if tomb is None else int(tomb.size),
                "n_docs": new["n_docs"],
                "seconds": round(time.time() - t0, 3),
                "spark_jobs": last_job_id(self.spark) - job0,
            },
            segments=[],
        )
        self.stats = stats

        # ---- 4. remove what the commit superseded or folded
        self.cat.expire_superseded()
        for d in delta_dirs + doc_deltas:
            shutil.rmtree(d)
        for f in tomb_files:
            os.remove(f)
            crc = os.path.join(os.path.dirname(f), f".{os.path.basename(f)}.crc")
            if os.path.exists(crc):
                os.remove(crc)

    def _compact_tables(self, staged: dict, doc_deltas: list[str],
                        delta_dirs: list[str], tomb: np.ndarray | None,
                        tomb_files: list[str]) -> tuple[str, dict]:
        """compact()'s steps 1-3 on the placement its input size picks:
        base + delta docs minus ``tomb`` (from ``tomb_files``) to
        staged["docs"], the rewritten postings to staged["postings"] and
        their dictionary to staged["dictionary"]. Returns (placement, the
        new collection stats: n_docs, avgdl, total_tokens, max_docid,
        n_terms)."""
        size = sum(self.cat.dir_bytes(t)
                   for t in ("docs", "docs_delta", "postings", "postings_delta"))
        if size <= COMPACT_DRIVER_BYTES:
            return "driver", self._compact_local(staged, doc_deltas, delta_dirs, tomb)
        return "spark", self._compact_spark(staged, doc_deltas, delta_dirs, tomb, tomb_files)

    def _compact_spark(self, staged: dict, doc_deltas: list[str],
                       delta_dirs: list[str], tomb: np.ndarray | None,
                       tomb_files: list[str]) -> dict:
        """Spark placement of _compact_tables."""
        from pyspark.sql import Observation

        # docs: base + deltas - tombstones. The collection stats ride on
        # the same write job (Observation), as in the bulk build's docs
        # stage: the postings rewrite needs the post-compaction avgdl
        docs = self.cat.read_docs(self.spark, self.cfg.range_size, doc_deltas)
        if tomb is not None:
            docs = docs.join(self._tombstone_df(tomb_files), "docid", "left_anti")
        obs = Observation("compact_stats")
        docs = docs.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.avg("dl").alias("avgdl"),
            F.max("docid").alias("mx"),
            F.sum("dl").alias("total"),
        )
        rg_bytes = str(self.cfg.docs_row_group_mb * 1024 * 1024)
        self.cat.write(docs, staged["docs"], options={"parquet.block.size": rg_bytes})
        row = obs.get
        new_avgdl = float(row["avgdl"] or 0.0)

        # postings: base + deltas -> the merge-and-write stage with the
        # rewriter, which re-cuts every (term, range) group under the new
        # avgdl and drops tombstones (the select drops build-time rgroup
        # and delta batch partition columns)
        merged = self.cat.read(self.spark, "postings", POSTINGS_SCHEMA).select(
            *POSTING_COLS
        )
        if delta_dirs:
            deltas = self.cat.read_delta(
                self.spark, "postings", delta_dirs, POSTINGS_SCHEMA
            )
            merged = merged.unionByName(deltas.select(*POSTING_COLS))
        merge_and_write(
            self.spark, self.cat, staged["postings"], merged,
            self._rewriter(new_avgdl, tomb), self.cfg,
            self.cat.dir_bytes("postings") + self.cat.dir_bytes("postings_delta"),
        )
        n_terms, _ = build_dictionary(
            self.spark, self.cat, self.cfg, staged["postings"], staged["dictionary"]
        )
        return {
            "n_docs": int(row["n"]),
            "avgdl": new_avgdl,
            "total_tokens": int(row["total"] or 0),
            "max_docid": int(row["mx"] or 0),
            "n_terms": n_terms,
        }

    def _rewriter(self, avgdl: float, tomb: np.ndarray | None):
        return make_compaction_rewriter(
            self.cfg.k1, self.cfg.b, avgdl, self.cfg.block_size, tomb
        )

    def _compact_local(self, staged: dict, doc_deltas: list[str],
                       delta_dirs: list[str], tomb: np.ndarray | None) -> dict:
        """Driver placement of _compact_tables, the same tables with
        pyarrow: the docs streamed one record batch at a time, the
        postings one term bucket at a time through merge_local with the
        rewriter, the dictionary from the blocks as they are written."""
        n, total, mx = self._docs_compacted(staged["docs"], doc_deltas, tomb)
        avgdl = float(total) / n if n else 0.0
        rewriter = self._rewriter(avgdl, tomb)
        sources = [self.cat.path("postings")] + delta_dirs
        terms = []

        def buckets():
            for k in range(self.cfg.n_term_buckets):
                blocks = merge_local(_bucket_blocks(sources, k), rewriter)
                if blocks is not None:
                    terms.append(term_aggregates(blocks))
                    yield blocks

        self.cat.write_arrow(staged["postings"], buckets(), POSTINGS_ARROW_SCHEMA,
                             partition_by="bucket")
        n_terms = write_dictionary_local(
            self.cat, staged["dictionary"],
            pa.concat_tables(terms) if terms else TERM_AGG_SCHEMA.empty_table(),
        )
        return {"n_docs": n, "avgdl": avgdl, "total_tokens": total,
                "max_docid": mx, "n_terms": n_terms}

    def _docs_compacted(self, name: str, doc_deltas: list[str],
                        tomb: np.ndarray | None) -> tuple[int, int, int]:
        """Writes base docs + the delta docs of ``doc_deltas`` - ``tomb``
        to ``name`` through one parquet writer, one record batch of about
        COMPACT_DOCS_BATCH_BYTES at a time, in the base's schema
        (read_docs' rows: delta rows get their range_id and the base
        types). Returns (rows, sum of dl, max docid), as compact_stats
        observes them on Spark."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        base = self.cat.parquet_files(self.cat.path("docs"))
        schema = _spark_arrow_schema(base[0])
        dead = pa.array([] if tomb is None else tomb, pa.int64())
        seen = [0, 0, 0]

        def batches():
            for f in base + [f for d in doc_deltas for f in self.cat.parquet_files(d)]:
                with pq.ParquetFile(f, coerce_int96_timestamp_unit="us") as pf:
                    md = pf.metadata
                    raw = sum(md.row_group(i).total_byte_size
                              for i in range(md.num_row_groups))
                    rows = max(1, COMPACT_DOCS_BATCH_BYTES * md.num_rows // max(1, raw))
                    for rb in pf.iter_batches(batch_size=rows, use_threads=False):
                        tbl = pa.Table.from_batches([rb])
                        if "range_id" not in tbl.column_names:
                            rid = tbl["docid"].to_numpy() // self.cfg.range_size
                            tbl = tbl.append_column("range_id", pa.array(rid.astype(np.int32)))
                        tbl = tbl.filter(pc.invert(pc.is_in(tbl["docid"], dead)))
                        tbl = tbl.select(schema.names).cast(schema)
                        if tbl.num_rows:
                            seen[0] += tbl.num_rows
                            seen[1] += pc.sum(tbl["dl"]).as_py() or 0
                            seen[2] = max(seen[2], pc.max(tbl["docid"]).as_py())
                        yield tbl

        self.cat.write_arrow(name, batches(), schema)
        return seen[0], seen[1], seen[2]


def _spark_arrow_schema(path: str) -> pa.Schema:
    """The Arrow schema that writes columns of the Spark types of the
    parquet file ``path``. Spark stores TimestampType as INT96 (pyarrow
    reads it as a naive timestamp, which Spark would read back as
    TimestampNTZType): those become UTC-adjusted microseconds.
    TIMESTAMP_NTZ columns stay naive, UTC-adjusted ones keep their zone."""
    import pyarrow.parquet as pq

    with pq.ParquetFile(path, coerce_int96_timestamp_unit="us") as pf:
        int96 = {
            pf.schema.column(i).path for i in range(len(pf.schema))
            if pf.schema.column(i).physical_type == "INT96"
        }
        schema = pf.schema_arrow.remove_metadata()
    for i, f in enumerate(schema):
        if f.name in int96:
            schema = schema.set(i, f.with_type(pa.timestamp("us", tz="UTC")))
    return schema


def _bucket_blocks(sources: list[str], bucket: int) -> pd.DataFrame:
    """The blocks of term bucket ``bucket`` in the postings dirs
    ``sources``, POSTING_COLS."""
    cols = [c for c in POSTING_COLS if c != "bucket"]
    blocks = pa.concat_tables(
        [IndexCatalog.read_bucket(src, bucket, cols) for src in sources]
    ).to_pandas()
    blocks["bucket"] = np.int32(bucket)
    return blocks
