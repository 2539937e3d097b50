"""Engine configuration.

Defaults mirror the reference engine where it has them
(/root/reference/src/main/index.h:16-24 — hits_per_page 20, max_hits cap
1000, max_facet_results 10, full_scan_threshold 25000) and standard Okapi
BM25 constants k1=1.2, b=0.75 where it does not (marlin has no BM25; see
SURVEY.md preamble).
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class EngineConfig:
    # --- BM25 (Okapi defaults; marlin defines none: SURVEY.md preamble) ---
    k1: float = 1.2
    b: float = 0.75

    # --- index layout ---
    # Docs per compressed posting block. Blocks never cross a doc-range
    # boundary so (term, range_id) is a complete, independently-buildable
    # unit — this is the structural skew fix for Zipf head terms.
    block_size: int = 128
    # Docid range width. 2^16 mirrors roaring-container ranges in the
    # reference (/root/reference/src/main/cont.h:8-14) and bounds the
    # postings of any (term, range) group to <= 65536 docs.
    range_size: int = 1 << 16
    # Number of term hash buckets = partition dirs of dictionary/postings.
    # Query-time partition pruning reads only the buckets of query terms.
    # Sandbox default 32; at 100 TB raise to O(4096).
    n_term_buckets: int = 32
    # Resumable build: docids are processed in this many contiguous
    # range-aligned checkpoint groups; a completed group is never re-done
    # on restart (its postings/rgroup=K dir is final).
    build_groups: int = 1
    # Shuffle partitions for the build (None -> session default).
    build_partitions: int | None = None
    # Parquet row-group size (MB) for docs/ writes; the effective MINIMUM
    # scan-split granularity of the zero-shuffle postings stage (a row
    # group is atomic to maxPartitionBytes). The stage sizes its splits
    # adaptively — docs_bytes / (4 * cores), clamped to
    # [docs_row_group_mb, 16MB] — so task count tracks cluster width.
    docs_row_group_mb: int = 4
    # Max rows per streaming micro-batch: the docid headroom reserved per
    # batch_id by IncrementalIndexer (persisted in stats.json at build so
    # every writer agrees; overflow fails loudly instead of colliding).
    batch_capacity: int = 1_000_000
    # Fuzzy expansion answers on the driver (pyarrow pruned read + local
    # DP) when the fc partitions it must scan total at most this many
    # bytes; bigger scans run distributed with the same pushed filters.
    typo_local_bytes: int = 64 * 1024 * 1024
    # Build the short-prefix accelerator (precomputed docid blocks for
    # every <=prefix_accel_len-char term prefix — the dtrie short-prefix
    # bitmap analog, /root/reference/src/main/dtrie.c:355-375). Off by
    # default: it adds a build stage; enable for prefix-heavy workloads
    # (the reference's wrk harness is exactly that).
    prefix_accel: bool = False
    prefix_accel_len: int = 3

    # Tombstones live on the driver: up to this many deleted docids are
    # one sorted numpy array that the WAND and rank kernels mask with
    # (reference analog: free-list bitmap deletes, sdata.c:64-79). Above
    # it an engine refuses to load (construction, refresh() or a lookup
    # after a compaction commit) until IncrementalIndexer.compact()
    # folds them: the bound keeps a bulk delete from filling the driver.
    tombstone_driver_max: int = 5_000_000

    # Driver-local fast path (search_local): per-term-bucket posting
    # tables are cached IN MEMORY after first touch, LRU-evicted above
    # this byte budget. This is the reference's whole-index-mmap analog
    # (its OS page cache holds hot postings); at 100 TB the budget
    # bounds the driver to the hot buckets only.
    local_cache_bytes: int = 256 * 1024 * 1024

    # search_ranked broadcasts the feature side of the sortBy/rankBy
    # compare-field join when the matched terms' summed df (a plan-time
    # upper bound on the match set) is at most this many docs; bigger
    # match sets shuffle-join so the driver never materializes them.
    rank_broadcast_df: int = 500_000

    # --- query defaults (reference: src/main/index.h:16-24) ---
    hits_per_page: int = 20
    max_hits: int = 1000
    max_facet_results: int = 10
    full_scan_threshold: int = 25000

    # --- indexed fields ---
    # Ordered list of document columns to index; a field's position in
    # the list IS its ranking priority (0 = highest), packed into stored
    # positions as (priority << 16) | pos — the reference's IDPRIORITY
    # scheme (sindex.c:697-701, settings `indexedFields`). Consequences
    # fall out of the packing: phrase adjacency never crosses fields,
    # the rank cascade's `field` feature = best priority, and `position`
    # = best in-field position. dl (BM25 length norm) counts tokens
    # across all indexed fields.
    indexed_fields: tuple = ("text",)

    # --- analyzer ---
    # "marlin": exact reimplementation of the reference default analyzer
    #           (/root/reference/src/analyzer/default_analyzer.c).
    # "simple": lowercase [a-z0-9]+ regex split — SQL-expressible, used for
    #           DuckDB-oracle-checked entries.
    # "whitespace": split on whitespace
    #           (/root/reference/src/analyzer/whitespace_analyzer.c).
    analyzer: str = "marlin"

    extra: dict = field(default_factory=dict)

    def norm_const(self) -> float:
        return self.k1 * (1.0 - self.b)

    def with_(self, **kw) -> "EngineConfig":
        from dataclasses import replace

        return replace(self, **kw)
