"""Iceberg catalog adapter: the production layout this repo's local
parquet+JSON catalog (index/catalog.py) stands in for.

The north rule targets Iceberg tables. This sandbox ships no Iceberg
runtime (no iceberg-spark-runtime jar, no pyiceberg wheel), so the
catalog module isolates the storage contract and THIS module pins the
mapping so the swap is mechanical and reviewable:

=====================  ==========================================
local stand-in         Iceberg equivalent
=====================  ==========================================
docs/ (plain parquet,  table `<ns>.<index>_docs`
 docid-sorted files)    partition spec: [] (unpartitioned) with a
                        sort order on docid — Iceberg file-level
                        column stats (lower/upper bounds) replace
                        the parquet min/max pruning we rely on
postings/rgroup=K/     table `<ns>.<index>_postings`
 bucket=NN/             partition spec: identity(rgroup),
                        identity(bucket); write.distribution-mode
                        'none' (the builder already clusters), sort
                        order (term, range_id, block_id)
dictionary/fc=c/       table `<ns>.<index>_dictionary`
                        partition spec: identity(fc); sort order
                        (term) — file stats give prefix/candidate
                        range pruning exactly as today
prefix_accel/fc=c/     table `<ns>.<index>_prefix_accel`
                        partition spec: identity(fc); sort order
                        (prefix, range_id)
*_delta/batch=N/       appends to the docs and postings tables:
                        the local stand-in already commits once per
                        micro-batch (the snapshot's segment list,
                        catalog.committed_delta_dirs); Iceberg makes
                        that a SINGLE multi-table transaction (or one
                        snapshot commit per table with the same batch
                        watermark property)
stats.json             table properties / snapshot summary entries;
                        the stand-in maps it through the snapshot log
                        like a table, so compaction commits it with
                        the data it describes
manifest/ _done marks  snapshot-per-stage: a build unit's overwrite
                        maps to `overwritePartitions` on its rgroup
                        partition — atomic, idempotent on retry,
                        exactly the semantics IndexBuilder assumes
tombstones/            positional/equality delete files (merge-on-
                        read), compact() -> rewrite_data_files
=====================  ==========================================

Operational notes for the swap:
- every `cat.write(..., partition_by=[...])` becomes
  `df.writeTo(tbl).using("iceberg")` + `partitionedBy(...)`; the
  engine's read-side partition pruning (`F.col("fc").isin(...)`,
  `F.col("bucket").isin(...)`) is expressed on identity partition
  columns, which Iceberg prunes natively — no query change;
- the pyarrow driver-local fast paths (dictionary lookup, typo scan,
  posting block read) read Iceberg data files directly via
  pyiceberg's `table.scan(row_filter=...).to_arrow()`, which applies
  the same partition + stats pruning;
- `spark.catalog.refreshByPath` calls disappear (snapshot isolation);
  a lookup pins the current snapshot id, as it pins the stand-in's.

`layout_spec()` below is the machine-readable version of the table —
unit-tested against what the local catalog actually writes
(tests/test_iceberg_spec.py) so the two cannot drift silently.
"""

from __future__ import annotations

TABLES = {
    "docs": {
        "partition_by": [],
        "sort_order": ["docid"],
        "prune_on": ["docid"],  # file stats (min/max) pruning
    },
    "postings": {
        "partition_by": ["rgroup", "bucket"],
        "sort_order": ["term", "range_id", "block_id"],
        "prune_on": ["bucket", "term"],
    },
    "dictionary": {
        "partition_by": ["fc"],
        "sort_order": ["term"],
        "prune_on": ["fc", "term"],
    },
    "prefix_accel": {
        "partition_by": ["fc"],
        "sort_order": ["prefix", "range_id"],
        "prune_on": ["fc", "prefix"],
    },
}


def layout_spec() -> dict:
    """Iceberg DDL-shaped description of every index table: identity
    partition fields + sort order + the columns the engine prunes on.
    The swap must preserve each table's `prune_on` capability."""
    return TABLES


def create_table_sql(namespace: str, index: str) -> dict[str, str]:
    """Spark-SQL DDL (iceberg catalog) for each table — what `cat.write`
    would be replaced by. Generated, not executed, in this sandbox."""
    ddl = {}
    cols = {
        "docs": (
            "docid BIGINT, conv_id STRING, turn_idx INT, role STRING, "
            "tool STRING, ts TIMESTAMP, text STRING, dl INT, range_id INT"
        ),
        "postings": (
            "term STRING, range_id INT, block_id INT, first_docid BIGINT, "
            "last_docid BIGINT, n_docs INT, sum_tf BIGINT, "
            "max_tfnorm DOUBLE, postings BINARY, positions BINARY, "
            "rgroup INT, bucket INT"
        ),
        "dictionary": (
            "term STRING, df BIGINT, cf BIGINT, max_tfnorm DOUBLE, "
            "n_blocks BIGINT, top_maxes ARRAY<DOUBLE>, term_id BIGINT, "
            "fc STRING"
        ),
        "prefix_accel": (
            "prefix STRING, range_id INT, n_docs INT, postings BINARY, "
            "fc STRING"
        ),
    }
    for name, spec in TABLES.items():
        part = (
            f" PARTITIONED BY ({', '.join(spec['partition_by'])})"
            if spec["partition_by"]
            else ""
        )
        ddl[name] = (
            f"CREATE TABLE {namespace}.{index}_{name} ({cols[name]}) "
            f"USING iceberg{part} "
            "TBLPROPERTIES ('write.distribution-mode'='none', "
            "'format-version'='2')"
        )
    return ddl
