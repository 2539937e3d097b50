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
  postings_delta/batch=N from that dir at the base avgdl (same block
  layout, tagged with the batch id), then ONE snapshot commit makes the
  batch live (IndexCatalog.commit_snapshot). Every lookup reads the
  snapshot pointer, so the batch is searchable from that commit on
  without refresh(); SearchEngine._postings_df()/_docs_df() union the
  live segments into every scan. NRT caveats (stats refreshed at
  compaction; brand-new terms invisible until the dictionary rebuild)
  are documented on those helpers.
- DELETE: tombstone docids appended to tombstones/ (query-time
  anti-join / numpy mask inside WAND), folded at compaction — the
  Lucene liveDocs pattern. Not yet a commit: an engine sees deletes
  from its construction, refresh() or the next compaction.
- UPDATE/REPLACE: delete + add, like the reference.
- COMPACT: folds delta segments AND tombstones into the base in one
  rewrite (segment merge; what an Iceberg MERGE INTO + snapshot expire
  would do on a real lakehouse), then rebuilds the dictionary and
  collection stats, and commits all of it in one snapshot. The
  collection stats are observed on the staged docs write; the postings
  go through the bulk build's merge-and-write stage
  (build.merge_and_write) with the compaction rewriter, which re-cuts
  every (term, range) group with the block merger's fold and recomputes
  its max_tfnorm under the POST-compaction avgdl — see
  blocks.fold_blocks for why stale block-max values would break WAND's
  upper-bound contract.

Limitations kept honest:
- docids for streamed turns continue AFTER the base build's max docid in
  arrival order (per-batch rank over (conv_id, turn_idx)); global
  rank-stability across restarts comes from the checkpoint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from marlin_spark.config import EngineConfig
from marlin_spark.functions.analyzers import token_count_col
from marlin_spark.index.blocks import (
    POSTING_COLS,
    POSTINGS_SCHEMA,
    make_compaction_rewriter,
)
from marlin_spark.index.build import (
    build_dictionary,
    last_job_id,
    merge_and_write,
    write_postings,
)
from marlin_spark.index.catalog import IndexCatalog


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
        file is rewritten in place. The row count for the capacity check
        rides on the docs write (Observation); an overflowing batch
        raises before its commit."""
        from pyspark.sql import Observation, Window

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
        offset = base + batch_id * capacity
        # per-batch deterministic docids after the base corpus
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
        # from deltas,
        # so an auto-mapped index with extra stored fields must find
        # them here too (mirrors build.py's `keep` columns)
        keep = [c for c in docs.columns if c not in ("dl", "range_id", "docid")]
        obs = Observation(f"batch_{batch_id}")
        docs_name = f"docs_delta/batch={batch_id}"
        docs.select("docid", *keep, "dl").observe(
            obs, F.count(F.lit(1)).alias("n"), F.sum("dl").alias("sum_dl")
        ).write.mode("overwrite").parquet(self.cat.path(docs_name))
        n_rows = int(obs.get["n"])
        if n_rows > capacity:
            # fail loudly: a silent overflow would assign docids that
            # collide with the next batch's range
            raise ValueError(
                f"micro-batch {batch_id} has {n_rows} rows > batch_capacity "
                f"{capacity}; raise EngineConfig.batch_capacity (and rebuild "
                "stats.json) or split the batch"
            )
        write_postings(
            self.spark, self.cat, f"postings_delta/batch={batch_id}",
            self.cat.read(self.spark, docs_name), cfg, self.stats["avgdl"],
            self.cat.dir_bytes(docs_name),
        )
        self.cat.commit_snapshot(
            segments=live + [batch_id],
            summary={"operation": "append", "batch": batch_id, "n_docs": n_rows,
                     "sum_dl": int(obs.get["sum_dl"] or 0)},
        )

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
        /root/reference/src/main/index.c:1037-1070). Queries constructed
        by a SearchEngine built (or refresh()ed) after this call exclude
        them; compact() folds them out of docs/ and postings/."""
        if isinstance(docids, DataFrame):
            df = docids.select(F.col(docids.columns[0]).cast("long").alias("docid"))
        else:
            df = self.spark.createDataFrame(
                [(int(d),) for d in docids], "docid long"
            )
        df.write.mode("append").parquet(self.cat.path("tombstones"))

    def delete_turns(self, keys) -> None:
        """Delete by natural key (conv_id, turn_idx) — the reference's
        external-id delete (sindex.c:1057-1099 via the id mapping).
        Resolves docids over base + uncompacted delta docs."""
        if not isinstance(keys, DataFrame):
            keys = self.spark.createDataFrame(
                [(str(c), int(t)) for c, t in keys], "conv_id string, turn_idx long"
            )
        keys = keys.select(
            F.col("conv_id").cast("string").alias("conv_id"),
            F.col("turn_idx").cast("long").alias("turn_idx"),
        )
        docs = self.cat.read_docs(self.spark, self.cfg.range_size).select(
            "docid",
            F.col("conv_id").cast("string").alias("conv_id"),
            F.col("turn_idx").cast("long").alias("turn_idx"),
        )
        ids = docs.join(F.broadcast(keys), ["conv_id", "turn_idx"], "left_semi")
        self.delete_docids(ids.select("docid"))

    def update_turns(self, batch_df: DataFrame, batch_id: int) -> None:
        """Replace turns by natural key: delete + add, exactly the
        reference's replace path (index.c:965-1034)."""
        self.delete_turns(batch_df.select("conv_id", "turn_idx"))
        self.process_batch(batch_df, batch_id)

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
        """The tombstone parquet files delete_docids has written so far
        (a write still in flight sits under _temporary and is not
        listed)."""
        import glob
        import os

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
        import numpy as np
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
        summary records the wall seconds and Spark jobs of the staged
        rewrite it commits.

        The tombstone files are listed once, at the start: the docs
        anti-join and the postings rewriter read exactly those files, and
        only those are removed after the commit. A delete that lands
        during the compaction stays in tombstones/ for every engine to
        mask and for the next compaction to fold.

        Honesty note (scale): the folded delete set is materialized on
        the driver for the rewriter closure, as every engine holds it.
        Engines refuse more than EngineConfig.tombstone_driver_max of
        them; this method reads whatever backlog is listed, so one far
        past that bound needs a compaction that streams the set."""
        import os
        import shutil
        import time

        from pyspark.sql import Observation

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

        # ---- 1. docs: base + deltas - tombstones -> staged docs dir. The
        # collection stats ride on the same write job (Observation), as
        # in the bulk build's docs stage: the postings rewrite needs the
        # post-compaction avgdl
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

        # ---- 2. postings: base + deltas -> the merge-and-write stage
        # with the rewriter, which re-cuts every (term, range) group under
        # the new avgdl and drops tombstones (the select drops build-time
        # rgroup and delta batch partition columns)
        merged = self.cat.read(self.spark, "postings", POSTINGS_SCHEMA).select(
            *POSTING_COLS
        )
        if delta_dirs:
            deltas = self.cat.read_delta(
                self.spark, "postings", delta_dirs, POSTINGS_SCHEMA
            )
            merged = merged.unionByName(deltas.select(*POSTING_COLS))
        rewriter = make_compaction_rewriter(
            self.cfg.k1, self.cfg.b, new_avgdl, self.cfg.block_size, tomb
        )
        merge_and_write(
            self.spark, self.cat, staged["postings"], merged, rewriter, self.cfg,
            self.cat.dir_bytes("postings") + self.cat.dir_bytes("postings_delta"),
        )

        # ---- 3. the dictionary (df/cf/term ids) and the short-prefix
        # accelerator over the staged postings, and the new stats
        n_terms, _ = build_dictionary(
            self.spark, self.cat, self.cfg, staged["postings"], staged["dictionary"]
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
            self.stats,
            n_docs=int(row["n"]),
            avgdl=new_avgdl,
            total_tokens=int(row["total"] or 0),
            max_docid=int(row["mx"] or 0),
            n_terms=n_terms,
            stats_epoch=self.stats.get("stats_epoch", 0) + 1,
        )
        self.cat.write_json(staged["stats.json"], stats)

        # ---- COMMIT: everything above becomes visible in one atomic
        # version-hint rename (multi-table transaction); a crash before
        # this line leaves the old snapshot fully live
        self.cat.commit_snapshot(
            staged,
            summary={
                "operation": "compact",
                "folded_batches": len(delta_dirs),
                "tombstones": 0 if tomb is None else int(tomb.size),
                "n_docs": int(row["n"]),
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
