"""Index storage layout ("Iceberg-like" local catalog).

Layout under one index directory (the reference keeps everything in LMDB
databases + an mmap'd trie under one index dir — src/main/sindex.c,
src/main/dtrie.c; we keep partitioned Parquet tables + JSON metadata):

    <index_dir>/
      docs/range_id=NN/         docid conv_id turn_idx role tool ts text dl
      postings/bucket=NN/       term range_id block_id first/last_docid
                                n_docs sum_tf max_tfnorm postings positions
      dictionary/fc=c/          term term_id df cf max_tfnorm
                                (fc = first-char class: partition pruning
                                for prefix + fuzzy scans, query/fuzzy.py)
      prefix_accel/fc=c/        prefix range_id postings  (optional:
                                precomputed short-prefix docid blocks,
                                dtrie short-prefix bitmap analog)
      stats.json                n_docs avgdl total_tokens n_terms build_id
      docs_delta/batch=N/       one NRT micro-batch's docs and posting
      postings_delta/batch=N/   blocks (live once committed, see below)
      tombstones/               deleted docids (until compaction)
      metadata/                 the snapshot log (IndexCatalog)
      manifest/                 per-stage/per-group checkpoint records
      counters.json             build counters (postings, bytes, fan-in,
                                seconds and Spark jobs per stage)

The production target is Iceberg (`df.writeTo(tbl).using("iceberg")`,
partitioned by the same columns; atomic snapshot commits replace the
manifest's _done markers). No Iceberg runtime ships in this sandbox, so
the catalog writes partitioned Parquet with explicit JSON metadata — the
build/query code only talks to this module, keeping the swap localized.

Term bucketing uses crc32(term) % n_buckets: computable identically in
the JVM (F.crc32) and in driver-side Python (zlib.crc32) so the query
planner prunes partitions without a Spark round-trip.
"""

from __future__ import annotations

import json
import os
import zlib
from typing import Iterable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def term_bucket_col(term: Column, n_buckets: int) -> Column:
    return (F.crc32(term.cast("string")) % n_buckets).cast("int")


def term_bucket_py(term: str, n_buckets: int) -> int:
    return zlib.crc32(term.encode("utf-8")) % n_buckets


def term_fc_col(term: Column) -> Column:
    """JVM twin of query.fuzzy.term_fc_py (first-char class): terms with
    any char outside [a-z0-9_] -> 'oth'; digit first chars -> 'dN' and
    '_' -> 'us' so hive partition values never type-infer numeric.
    The pattern ends in \\z, not $: Java's $ also matches before a final
    line terminator (U+0085, U+2028, ...), which a whitespace-analyzed
    term can end with."""
    c1 = F.substring(term, 1, 1)
    return (
        F.when(~term.rlike(r"^[a-z0-9_]+\z"), F.lit("oth"))
        .when(c1.rlike("^[0-9]$"), F.concat(F.lit("d"), c1))
        .when(c1 == "_", F.lit("us"))
        .otherwise(c1)
    )


def _reader(spark: SparkSession, schema: str | None):
    return spark.read if schema is None else spark.read.schema(schema)


def _parquet_options(tbl) -> dict:
    """pyarrow parquet writer options for files like Spark's over
    ``tbl``: no ARROW:schema footer blob (3.3 KB of a postings file's
    5.9 KB footer), and dictionary encoding only for the flat columns
    of ``tbl`` with at most one distinct value per two rows. parquet-mr
    falls back to plain encoding where a dictionary does not pay;
    pyarrow would dictionary-encode unique docids and texts."""
    import pyarrow as pa
    import pyarrow.compute as pc

    dict_cols = [
        f.name for f in tbl.schema
        if not pa.types.is_nested(f.type)
        and 2 * pc.count_distinct(tbl[f.name], mode="all").as_py() <= tbl.num_rows
    ]
    return {"store_schema": False, "use_dictionary": dict_cols}


class IndexCatalog:
    """Local table catalog with an Iceberg-style snapshot log: the one
    way any write becomes visible to a reader.

    Table locations are indirected through ``metadata/``:

        metadata/v<N>.metadata.json   immutable snapshot: {snapshot_id,
                                      parent, tables: {logical -> dir},
                                      segments: [[batch, committed_by]],
                                      summary}; created with O_EXCL so a
                                      concurrent committer of the same
                                      version fails loudly (optimistic
                                      concurrency, the Iceberg contract)
        metadata/version-hint.text    current snapshot id; REPLACED with
                                      os.replace (atomic POSIX rename) —
                                      this rename IS the commit, exactly
                                      Iceberg's HadoopCatalog protocol

    A fresh build has no metadata/ and every logical name maps to its
    plain directory (or file: ``stats.json`` maps like a table). Two
    writers commit:
    - an NRT micro-batch writes docs_delta/batch=N and postings_delta/
      batch=N, then commits batch N into ``segments``, stamped with the
      committing snapshot's id (one commit per micro-batch, like the
      reference's one LMDB txn per write batch, si_write_end);
    - compaction stages ``<table>__snap<N>`` docs, postings, dictionary,
      prefix_accel and stats.json and maps them ALL live, with an empty
      segment list, in ONE commit (a multi-table transaction).
    A crash before the hint rename leaves the old snapshot live and the
    written dirs unreferenced — never a half-visible write. Superseded
    data is expired after commit (expire_superseded), and with it the
    metadata of every snapshot out of the retained window.
    """

    def __init__(self, index_dir: str):
        self.dir = index_dir
        # (pointer bytes, snapshot) pinned by the last read, or None; one
        # reference, swapped whole, so concurrent readers never pair one
        # read's pointer with another's snapshot
        self._pinned: tuple | None = None

    # --- snapshot log ---
    def _meta(self, *parts: str) -> str:
        return os.path.join(self.dir, "metadata", *parts)

    def _read_hint(self) -> bytes | None:
        try:
            with open(self._meta("version-hint.text"), "rb") as f:
                return f.read()
        except FileNotFoundError:
            return None

    def read_snapshot(self) -> dict | None:
        """Pin the snapshot the pointer names now, and return it (None
        without a snapshot log). One small read of version-hint.text; the
        metadata file is parsed only when the pointer's content differs
        from the pinned one's, so a reader can call this once per lookup.
        A metadata file expired between the two reads means the pointer
        has moved on: it is read again. A pointer that names a missing
        file and stays put is a damaged log and raises."""
        hint = self._read_hint()
        pinned = self._pinned
        if pinned is not None and pinned[0] == hint:
            return pinned[1]
        snap = None
        while hint is not None:
            try:
                with open(self._meta(f"v{int(hint)}.metadata.json")) as f:
                    snap = json.load(f)
                break
            except FileNotFoundError:
                again = self._read_hint()
                if again == hint:
                    raise
                hint = again
        self._pinned = (hint, snap)
        return snap

    def current_snapshot(self) -> dict | None:
        """The pinned snapshot (read once, then kept until
        reload_snapshot() or a commit through this catalog)."""
        pinned = self._pinned
        return self.read_snapshot() if pinned is None else pinned[1]

    def reload_snapshot(self) -> None:
        """Unpin: the next current_snapshot() reads the pointer again."""
        self._pinned = None

    def commit_snapshot(self, tables: dict | None = None, summary: dict | None = None,
                        segments: list[int] | None = None) -> int:
        """Commit the next snapshot: ``tables`` remaps logical names, and
        ``segments`` (None keeps them) is the list of NRT batch ids live
        from this commit on. A batch new to the list is stamped with
        this snapshot's id; one already live keeps its stamp."""
        cur = self.current_snapshot()
        mapping = dict(cur["tables"]) if cur else {}
        mapping.update(tables or {})
        n = (cur["snapshot_id"] + 1) if cur else 1
        live = dict(cur.get("segments", [])) if cur else {}
        if segments is not None:
            live = {b: live.get(b, n) for b in segments}
        os.makedirs(self._meta(), exist_ok=True)
        meta = {
            "snapshot_id": n,
            "parent": cur["snapshot_id"] if cur else None,
            "tables": mapping,
            "segments": sorted(live.items()),
            "summary": summary or {},
        }
        # immutable + exclusive: a racing writer of v<n> fails here
        with open(self._meta(f"v{n}.metadata.json"), "x") as f:
            json.dump(meta, f, indent=1, default=str)
        tmp = self._meta("version-hint.tmp")
        with open(tmp, "w") as f:
            f.write(str(n))
        os.replace(tmp, self._meta("version-hint.text"))  # THE commit
        self._pinned = None
        return n

    def expire_superseded(self, retain_last: int = 1) -> None:
        """Remove data dirs (and stats.json files) no longer referenced
        by the ``retain_last`` most recent snapshots (snapshot-expire analog;
        run post-commit, failures harmless). retain_last=1 is aggressive
        single-snapshot retention — in-flight readers of older files
        fail, like the pre-snapshot rmtree swap did; retain_last>=2 gives
        concurrent readers holding snapshot N a full grace window while
        the writer commits N+1 (Iceberg's expire_snapshots(retain_last)
        contract, tested in test_iceberg_spec.py::test_concurrent_reader_
        survives_commit_and_expire).

        The metadata files of older snapshots go too, so metadata/ holds
        the retained window and the pointer: a file out of the window
        would name tables this expiry removes."""
        import shutil as _sh

        snap = self.current_snapshot()
        if not snap:
            return
        live = set(snap["tables"].values())
        n = snap["snapshot_id"]
        first = max(1, n - retain_last + 1)
        self._expire_metadata(first)
        for k in range(first, n):
            try:
                with open(self._meta(f"v{k}.metadata.json")) as f:
                    live |= set(json.load(f)["tables"].values())
            except (FileNotFoundError, ValueError):
                pass
        for logical in snap["tables"]:
            for cand in [logical] + [
                d
                for d in os.listdir(self.dir)
                if d.startswith(logical + "__snap")
            ]:
                p = os.path.join(self.dir, cand)
                if cand in live:
                    continue
                if os.path.isdir(p):
                    _sh.rmtree(p, ignore_errors=True)
                elif os.path.exists(p):
                    os.remove(p)

    def _expire_metadata(self, first: int) -> None:
        """Remove v<k>.metadata.json for every k < ``first``: a snapshot
        out of the retained window names data that expiry removes."""
        for f in os.listdir(self._meta()):
            if (f.startswith("v") and f.endswith(".metadata.json")
                    and int(f[1:-len(".metadata.json")]) < first):
                os.remove(self._meta(f))

    def clear_snapshots(self) -> None:
        """Drop the snapshot log (full rebuild = new table history)."""
        import shutil as _sh

        _sh.rmtree(self._meta(), ignore_errors=True)
        self._pinned = None

    def path(self, name: str) -> str:
        """Location of a logical table (snapshot-resolved); subpaths
        (e.g. 'dictionary/fc=a') resolve their head component."""
        snap = self.current_snapshot()
        if snap:
            head, sep, rest = name.partition("/")
            mapped = snap["tables"].get(head)
            if mapped is not None:
                return os.path.join(self.dir, mapped + sep + rest)
        return os.path.join(self.dir, name)

    def raw_path(self, name: str) -> str:
        """Physical location ignoring the snapshot indirection (staging
        writes before a commit)."""
        return os.path.join(self.dir, name)

    # --- tables ---
    def write(self, df: DataFrame, name: str, partition_by: list[str] | None = None,
              mode: str = "overwrite", options: dict | None = None) -> None:
        w = df.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        for k, v in (options or {}).items():
            w = w.option(k, v)
        w.parquet(self.path(name))
        if partition_by and not self.has_part_files(name):
            # A partitioned write of ZERO rows leaves only _SUCCESS — a
            # directory Spark cannot re-read (UNABLE_TO_INFER_SCHEMA).
            # Keep empty tables readable (empty corpus build / clear):
            # one schema-only footer file, partition columns kept as
            # ordinary columns so the read-back schema is unchanged.
            df.limit(0).repartition(1).write.mode("overwrite").parquet(
                self.path(name)
            )

    def write_arrow(self, name: str, tables: Iterable, schema,
                    partition_by: str | None = None) -> None:
        """The driver twin of write(): replaces table ``name`` with the
        pyarrow ``tables`` (each of ``schema``). Without ``partition_by``
        they stream into one parquet file, a row group or more each;
        with it each table holds one value of that column and is
        written, without it, as one file in that value's hive partition
        dir. No rows at all leave one schema-only footer, as write()
        does. Files are no larger than Spark's for the same rows: no
        stored Arrow schema, and dictionary encoding only where it pays
        (_parquet_options)."""
        import shutil as _sh

        import pyarrow.parquet as pq

        path = self.path(name)
        _sh.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        writer = None
        try:
            for i, tbl in enumerate(tables):
                if not tbl.num_rows:
                    continue
                if partition_by:
                    d = os.path.join(path, f"{partition_by}={tbl[partition_by][0].as_py()}")
                    tbl = tbl.drop_columns([partition_by])
                    os.makedirs(d)
                    pq.write_table(tbl, os.path.join(d, f"part-{i:05d}.parquet"),
                                   **_parquet_options(tbl))
                    continue
                if writer is None:
                    writer = pq.ParquetWriter(
                        os.path.join(path, "part-00000.parquet"), tbl.schema,
                        **_parquet_options(tbl),
                    )
                writer.write_table(tbl)
        finally:
            if writer is not None:
                writer.close()
        if writer is None and not self.has_part_files(name):
            pq.write_table(schema.empty_table(), os.path.join(path, "part-00000.parquet"),
                           store_schema=False)

    @staticmethod
    def parquet_files(path: str) -> list[str]:
        """The data files under ``path``, sorted; Spark's and Hadoop's
        hidden names (``_SUCCESS``, ``.crc``, in-flight dot-files) are
        skipped, as a Spark scan skips them."""
        return sorted(
            os.path.join(root, f)
            for root, _dirs, files in os.walk(path)
            for f in files
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        )

    @staticmethod
    def read_bucket(seg_dir: str, bucket: int, columns: list[str]):
        """``columns`` of term bucket ``bucket`` of the postings dir
        ``seg_dir`` (hive-partitioned by bucket, and by rgroup in a bulk
        build's base), as one pyarrow table. Each of the partition's
        files is read whole on this thread: the dataset scanner's thread
        pools left ~1.5 MB more of driver memory resident per 8 buckets
        read (measured)."""
        import pyarrow as pa
        import pyarrow.dataset as pads
        import pyarrow.parquet as pq

        ds = pads.dataset(seg_dir, partitioning="hive", format="parquet")
        tables = []
        for frag in ds.get_fragments(filter=pads.field("bucket") == bucket):
            with pq.ParquetFile(frag.path) as f:
                tables.append(f.read(columns=columns, use_threads=False))
        return pa.concat_tables(tables or [ds.schema.empty_table().select(columns)])

    def has_part_files(self, name: str) -> bool:
        return bool(self.parquet_files(self.path(name)))

    def read(
        self, spark: SparkSession, name: str, schema: str | None = None
    ) -> DataFrame:
        """Table ``name``. A known ``schema`` (partition columns included)
        skips the footer-inference job a schemaless parquet read runs."""
        return _reader(spark, schema).parquet(self.path(name))

    def exists(self, name: str) -> bool:
        return os.path.exists(self.path(name))

    def dir_bytes(self, name: str) -> int:
        """Total bytes under a table dir (drives adaptive scan-split
        sizing; an Iceberg catalog exposes the same via table stats)."""
        total = 0
        for root, _dirs, files in os.walk(self.path(name)):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
        return total

    def delta_segments(self, name: str, snap: dict | None) -> list[tuple[str, int]]:
        """(dir, id of the committing snapshot) of each NRT segment of
        table ``name`` live in ``snap``, in batch order."""
        return [
            (self.raw_path(f"{name}_delta/batch={b}"), n)
            for b, n in (snap or {}).get("segments", [])
        ]

    def committed_delta_dirs(self, name: str) -> list[str]:
        """Dirs of the NRT segments of ``name`` live in the pinned
        snapshot: a micro-batch is visible exactly from its commit, so a
        batch that crashed before it (or a re-run withdrawn for its
        rewrite) is never read — no ghost postings, no ghost docs."""
        return [d for d, _n in self.delta_segments(name, self.current_snapshot())]

    def read_delta(
        self,
        spark: SparkSession,
        name: str,
        dirs: list[str] | None = None,
        schema: str | None = None,
    ) -> DataFrame | None:
        """Union of the delta batch dirs ``dirs`` (default: the committed
        ones) of ``name``, or None when there are none. ``basePath`` makes
        sibling ``batch=N`` dirs one table with a ``batch`` partition
        column; without it Spark refuses them as
        CONFLICTING_DIRECTORY_STRUCTURES. ``schema`` as in read()."""
        if dirs is None:
            dirs = self.committed_delta_dirs(name)
        if not dirs:
            return None
        return (
            _reader(spark, schema)
            .option("basePath", self.path(f"{name}_delta"))
            .parquet(*dirs)
        )

    def read_docs(
        self, spark: SparkSession, range_size: int, dirs: list[str] | None = None
    ) -> DataFrame:
        """Base docs + the delta docs of ``dirs`` (default: the committed
        ones). Delta rows get their range_id and are cast to the base
        schema: set, order AND types must match exactly (mixed
        int32/int64 parquet files fail on read)."""
        base = self.read(spark, "docs")
        dd = self.read_delta(spark, "docs", dirs)
        if dd is None:
            return base
        dd = dd.withColumn("range_id", (F.col("docid") / range_size).cast("int"))
        return base.unionByName(
            dd.select(
                *[F.col(f.name).cast(f.dataType).alias(f.name)
                  for f in base.schema.fields]
            )
        )

    # --- json metadata ---
    def write_json(self, name: str, obj: dict) -> None:
        os.makedirs(self.dir, exist_ok=True)
        tmp = self.path(name + ".tmp")
        with open(tmp, "w") as f:
            json.dump(obj, f, indent=1, default=str)
        os.replace(tmp, self.path(name))  # atomic, Iceberg-commit analog

    def read_json(self, name: str) -> dict:
        with open(self.path(name)) as f:
            return json.load(f)

    def has_json(self, name: str) -> bool:
        return os.path.exists(self.path(name))
